"""Physical-plan shape gates.

Correctness tests prove the answers; these prove the PLANS keep the
properties the 100-TB posture depends on — no accidental cartesian
product in any candidate-join path, broadcasts where a model/dim table
is small, partial aggregation below the exchange, scan pruning to the
referenced columns. A refactor that silently flips a candidate
equi-join into an all-pairs join passes every value test at sf0.001;
this file is what catches it.
"""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _opt(df) -> str:
    return str(df._jdf.queryExecution().optimizedPlan())


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        F.col("vec_id").alias("row_id"),
        F.col("embedding").cast("array<double>").alias("features"),
    )


def test_candidate_joins_are_never_cartesian(spark, docs, embs):
    """Every LSH/IVF/banding candidate path must join on equi-keys:
    a CartesianProduct/BroadcastNestedLoop node means the all-pairs
    space leaked back in."""
    from pytod_spark.operators import dedup as D
    from pytod_spark.operators import similarity as S

    plans = {
        "minhash": _plan(D.minhash_dedup_pairs(docs, threshold=0.5)),
        "simhash": _plan(D.simhash_pairs(docs)),
        "rp_lsh": _plan(
            S.ann_neardup_pairs(embs, threshold=0.4, dim=64, n_planes=8, n_bands=2)
        ),
        "ivf": _plan(
            S.ivf_topk(embs, k=3, n_clusters=4, n_iters=1, n_probe=2, n_assign=2)
        ),
    }
    for name, p in plans.items():
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_stratified_sample_broadcasts_thresholds(spark, docs):
    from pytod_spark.operators.sampling import stratified_sample

    out = stratified_sample(docs, {"en": 0.5, "zh": 0.2}, "doc_id", "lang")
    assert "BroadcastHashJoin" in _plan(out)


def test_exact_dedup_partial_aggregates(spark, docs):
    """The sha groupBy must show a partial_ aggregate below the
    exchange (map-side combine) — the property that keeps the dedup
    shuffle O(distinct), not O(rows)."""
    from pytod_spark.operators.dedup import exact_duplicates

    p = _plan(exact_duplicates(docs))
    assert "partial_" in p and "Exchange hashpartitioning" in p


def test_scan_prunes_to_referenced_columns(spark):
    """A two-column projection over the 5-column documents table must
    read only those columns (ReadSchema pruning)."""
    df = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    p = _plan(df)
    assert "ReadSchema" in p
    schema_part = p.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in schema_part and "lang" in schema_part
    assert "text" not in schema_part  # the wide column stays unread


def test_filter_pushdown_reaches_scan(spark):
    """A parquet-pushable predicate must appear in PushedFilters."""
    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .where(F.col("doc_id") > 100)
        .select("doc_id")
    )
    p = _plan(df)
    pushed = p.split("PushedFilters:")[1].splitlines()[0]
    assert "GreaterThan(doc_id,100)" in pushed


def test_knn_candidates_bounded_by_k(spark, embs):
    """The tile kernel must emit per-row bottom-k, never the n x n
    distance matrix: with n=500, k=5 and 4 blocks, candidate rows are
    <= n * n_blocks * (k+1) = 12,000, not 250,000."""
    from pytod_spark.operators.block_knn import knn_join, tile_sides  # noqa: F401

    pairs = knn_join(embs, 6, block_size=128, broadcast_elems=0)
    # count the pre-window candidate frame by disabling the final filter
    n_cand = pairs.count()  # post-window: exactly n * k
    assert n_cand == 500 * 6


def test_small_input_knn_is_shuffle_free(spark, embs):
    """Inputs whose feature matrix fits the broadcast budget take the
    zero-exchange path: scan -> mapInPandas against the broadcast
    matrix, no cogroup shuffle, no candidate shuffle, no window sort —
    and the output equals the tile path's exactly (pairs AND order)."""
    from pytod_spark.operators.block_knn import knn_join

    fast = knn_join(embs, 6, block_size=128)  # auto: 500 x 16 << budget
    assert "Exchange" not in _plan(fast)
    tile = knn_join(embs, 6, block_size=128, broadcast_elems=0)
    # 6-dp rounding: BLAS summation order differs between the full
    # broadcast matrix and tile sub-matrices at the ~1e-8 level (the
    # catalogue rounds to 4 dp; both paths agree there with margin)
    f = {(r.row_id, r.nbr_id, r.rn, round(r.dist, 6)) for r in fast.collect()}
    t = {(r.row_id, r.nbr_id, r.rn, round(r.dist, 6)) for r in tile.collect()}
    assert f == t


def test_contamination_benchmark_side_broadcasts(spark, docs):
    """The benchmark shingle dictionary is the small side by
    construction (eval sets stay small while the corpus scales) —
    the overlap test must be a map-side BroadcastHashJoin, and the
    only hash exchange in the plan is the final doc_id groupBy."""
    from pytod_spark.operators.decontaminate import contamination_report

    bench = docs.where(F.col("doc_id") % 37 == 0)
    train = docs.where(F.col("doc_id") % 37 != 0)
    p = _plan(contamination_report(train, bench))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "partial_" in p  # map-side combine under the doc_id agg
    # the shingle expression must be evaluated exactly once per side
    # (inside each Generate) — a size(shingles) projection collapses
    # ABOVE the Generate and re-evaluates it per exploded row
    # (measured 8.7x slowdown); n_shingles comes from count(shingle)
    assert p.count("array_distinct(") == 2


def test_bucketed_cumsum_window_is_bucket_partitioned(spark, docs):
    """The global ordered cumulative sum must run as the bucketed
    two-pass plan: every full-data Window partitioned by __bucket
    (never an empty partition spec funneling the corpus through one
    task) and the per-bucket offsets joined in by broadcast. The only
    Exchange SinglePartition allowed is the approx_percentile final
    aggregate, which carries one sketch buffer per partial — metadata,
    not rows."""
    from pytod_spark.operators.packing import contiguous_token_shards

    t = docs.select("doc_id", F.length("text").alias("w"))
    out = contiguous_token_shards(t, budget=10_000, order_col="doc_id",
                                  weight_col="w")
    p = _plan(out)
    for frag in p.split("windowspecdefinition(")[1:]:
        assert frag.startswith("__bucket"), f"unpartitioned window: {frag[:60]}"
    assert "BroadcastHashJoin" in p  # per-bucket offsets join in small
    for frag in p.split("Exchange SinglePartition")[1:]:
        nxt = frag.splitlines()[1] if "\n" in frag else ""
        assert "Aggregate" in nxt, "SinglePartition exchange over row data"


def test_repetition_signals_stay_map_side(spark, docs):
    """dup-token / dup-gram / top-token fractions are pure array
    arithmetic: the unsorted select must plan with zero exchanges and
    entirely JVM-side (higher-order functions are codegen-fallback
    expressions, so no WholeStageCodegen span — but also no Python
    eval node)."""
    from pytod_spark.functions import text as T

    t = F.col("text")
    out = docs.select(
        T.dup_token_fraction(t).alias("a"),
        T.dup_gram_fraction(t, 2).alias("b"),
        T.top_token_fraction(t).alias("c"),
    )
    p = _plan(out)
    assert "Exchange" not in p
    assert "EvalPython" not in p  # no Arrow/row Python eval in the path


def test_vocab_topk_uses_window_group_limit(spark, docs):
    """The per-language rank<=k filter must compile to a
    WindowGroupLimit partial/final pair — every map task pre-trims to
    k rows per language before the exchange."""
    from pytod_spark.operators.vocab import vocab_topk

    p = _plan(vocab_topk(docs, 10))
    assert p.count("WindowGroupLimit") == 2
    assert "partial_count" in p  # map-side combine under the token agg


def test_merge_pair_topk_is_take_ordered(spark, docs):
    """The GLOBAL rank<=k filter must plan as TakeOrderedAndProject
    (per-partition top-k heap), never a full-corpus single-partition
    WindowExec."""
    from pytod_spark.operators.vocab import merge_pair_topk

    p = _plan(merge_pair_topk(docs, 20))
    assert "TakeOrderedAndProject" in p
    assert "Exchange SinglePartition" not in p


def test_shuffle_order_window_is_bucket_partitioned(spark, docs):
    """The global md5-rank must reuse the bucketed two-pass plan —
    no unpartitioned window over the corpus."""
    from pytod_spark.operators.sampling import shuffle_order

    p = _plan(shuffle_order(docs.select("doc_id"), "doc_id", "ord-v1"))
    for frag in p.split("windowspecdefinition(")[1:]:
        assert frag.startswith("__bucket"), f"unpartitioned window: {frag[:60]}"
    assert "BroadcastHashJoin" in p


def _assert_one_kernel_over_the_profile(p: str) -> None:
    """The PSI/KS plan: one grouped Arrow kernel over the value-counts
    profile, the profile's partial aggregate below its exchange, and
    nothing else — no window, no join, no single-partition exchange."""
    assert p.count("FlatMapGroupsInPandas") == 1
    kernel = p.index("FlatMapGroupsInPandas")
    # the exchange feeding the profile's final aggregate, keyed by
    # (group, value); the kernel's own exchange (group only) sits above
    profile_xchg = p.index("Exchange hashpartitioning(event_type#", kernel)
    profile_xchg = p.index("Exchange hashpartitioning(event_type#", profile_xchg + 1)
    assert kernel < profile_xchg < p.index("partial_sum", profile_xchg)
    assert "partial_" not in p[:profile_xchg]
    assert "Window" not in p
    assert "Join" not in p and "CartesianProduct" not in p
    assert "Exchange SinglePartition" not in p


def test_ks_is_one_kernel_over_the_profile(spark):
    """KS's cumulative counts come from the grouped kernel, not from
    windows: the plan has no Window at all (stronger than the old gate's
    'every window partitioned by the group'), no join and no
    single-partition exchange."""
    from pytod_spark.validation.ks import ks_report

    ev = spark.read.parquet(f"{SF}/events.parquet")
    _assert_one_kernel_over_the_profile(
        _plan(ks_report(ev, F.col("event_id") % 2 == 0, "value", "event_type"))
    )


def test_psi_is_one_kernel_over_the_profile(spark):
    """PSI's per-group reference range is computed inside the kernel,
    so no model frame joins back at all (the old gate required that
    join to be a broadcast); the row-scale scan keeps map-side combine
    under the profile aggregate."""
    from pytod_spark.validation.psi import psi_report

    ev = spark.read.parquet(f"{SF}/events.parquet")
    _assert_one_kernel_over_the_profile(
        _plan(psi_report(ev, F.col("event_id") % 2 == 0, "value", "event_type"))
    )


def test_doc_logprob_dictionary_is_take_ordered(spark, docs):
    """The unigram dictionary truncation (top-K by corpus tf) must
    plan as TakeOrderedAndProject, scoring joins must be broadcast,
    and the only SinglePartition exchange is the 1-row token total."""
    from pytod_spark.queries import QUERIES

    p = _plan(QUERIES["doc_logprob"](spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert p.count("Exchange SinglePartition") <= 1


def test_aqe_splits_skewed_join(spark):
    """The north rule requires skew handled explicitly: with one hot
    key carrying 95% of the rows, AQE's skew-join must split the hot
    partition — the final adaptive plan shows a skew=true sort-merge
    join. Uses runtime-settable session confs, restored after."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = spark.range(0, 200_000).select(
            F.when(F.col("id") < 190_000, F.lit(0))
            .otherwise((F.col("id") % 99) + 1)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
        )
        j = big.join(dim, "k")
        assert len(j.collect()) == 200_000
        p = _plan(j)
        assert "isFinalPlan=true" in p
        assert "skew=true" in p
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_tables_join_without_shuffle(spark):
    """Bucketing is the co-located-join lever at 100 TB: two tables
    bucketed+sorted on the join key with the same bucket count must
    sort-merge join with ZERO exchanges in the plan."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.range(0, 10_000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("va")
        )
        b = spark.range(0, 10_000).select(
            F.col("id").alias("k"), (F.col("id") * 7).alias("vb")
        )
        a.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable(
            "__plan_gate_ta"
        )
        b.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable(
            "__plan_gate_tb"
        )
        j = spark.table("__plan_gate_ta").join(spark.table("__plan_gate_tb"), "k")
        assert j.count() == 10_000
        p = _plan(j)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p  # co-located: no shuffle either side
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql("DROP TABLE IF EXISTS __plan_gate_ta")
        spark.sql("DROP TABLE IF EXISTS __plan_gate_tb")


def test_partition_pruning_on_partitioned_data(spark, docs, tmp_path_factory):
    """A filter on the partition column of a Hive-partitioned dataset
    must prune at planning time: PartitionFilters carries the
    predicate and the row filter does NOT reappear as a data filter."""
    out = str(tmp_path_factory.mktemp("pp")) + "/docs"
    docs.write.partitionBy("lang").mode("overwrite").parquet(out)
    df = spark.read.parquet(out).where(F.col("lang") == "en").select("doc_id")
    p = _plan(df)
    pf = p.split("PartitionFilters:")[1].splitlines()[0]
    assert "lang" in pf and "en" in pf


def test_no_row_python_anywhere_in_catalogue(spark):
    """The input hint mandates vectorized pandas/Arrow UDFs with NO
    per-row Python: every catalogue query's physical plan must be free
    of BatchEvalPython (row-at-a-time UDF) nodes. Arrow nodes
    (ArrowEvalPython / *InPandas) are the allowed vectorized path.
    Plan-only — no jobs beyond what query construction itself runs."""
    from pytod_spark.queries import QUERIES

    offenders = []
    for name, fn in QUERIES.items():
        p = _plan(fn(spark, SF))
        if "BatchEvalPython" in p:
            offenders.append(name)
    assert not offenders, f"row-at-a-time Python UDF in: {offenders}"


def test_quantize_transform_evaluates_once(spark):
    """The int8 quantize transform must appear exactly once in the
    executed plan — field references over a plain Project re-inline
    the aggregate per column (measured 4x before the inline(array())
    Generate barrier)."""
    from pytod_spark.queries import QUERIES

    p = _plan(QUERIES["quantize_embeddings"](spark, SF))
    assert p.count("FLOOR") == 1


def test_skew_cap_has_no_window_exchange(spark):
    """The hot-bucket cap must derive per-key sizes and hub minima via
    partial aggregates + tag joins, NEVER Window.partitionBy(key): a
    window would sort and buffer each bucket's rows in one task — the
    exact single-task funnel the cap exists to defuse — and AQE cannot
    split window exchanges (it can broadcast/skew-split joins)."""
    from pytod_spark.operators.skew import capped_self_join_pairs

    banded = spark.range(500).select(
        (F.col("id") % 10).alias("k"), F.col("id").alias("doc_id")
    )
    p = _plan(capped_self_join_pairs(banded, ["k"], "doc_id", cap=8))
    assert "Window" not in p
    assert "HashAggregate" in p  # the per-key size partial aggregate


def test_ecdf_queries_bucket_their_windows_at_scale(spark, monkeypatch):
    """Above the SMALL_RANK_ROWS budget both ECDF catalogue rows must
    rank through the bucketed two-pass core — a plain
    Window.partitionBy(event_type) would funnel each type's whole
    history through one sorting task. Forcing the budget to 0 makes
    the sf0.001 frame 'large': every window in the plan must then
    partition by (..., __bucket)."""
    from pytod_spark.operators import ranking
    from pytod_spark.queries import QUERIES

    monkeypatch.setattr(ranking, "SMALL_RANK_ROWS", 0)
    for name in ("ecdf_events", "ecdf_window_rank"):
        p = _plan(QUERIES[name](spark, SF))
        windows = [
            line for line in p.splitlines()
            if "Window " in line or line.strip().startswith("Window")
        ]
        assert windows, f"{name}: expected within-bucket windows"
        for line in windows:
            assert "__bucket" in line, f"{name}: non-bucketed window: {line.strip()}"


def test_ecdf_queries_take_the_window_fast_path_when_small(spark):
    """Below the budget the dispatch must pick the plain window (the
    two-pass plan's ~5 metadata jobs dominate at toy scale): no
    __bucket machinery in the small-input plan."""
    from pytod_spark.queries import QUERIES

    p = _plan(QUERIES["ecdf_window_rank"](spark, SF))
    assert "__bucket" not in p
    assert "Window" in p


def test_report_examples_use_window_group_limit(spark, tmp_path):
    """The run report's per-(partition, check) example picker must
    compile to a WindowGroupLimit partial/final pair — map tasks
    pre-trim to N rows per partition, so the driver collect is bounded
    at |partitions| x N however many violation rows exist."""
    from pytod_spark.validation.report import (
        _example_frame,
        _examples_per_partition,
    )

    df = spark.createDataFrame(
        [("a", i, f"p{i}") for i in range(50)],
        "lang string, n int, path string",
    )
    # gate the PRODUCTION frame the report collects, not a rebuilt copy
    p = _plan(_example_frame(df, "lang", 3, ["a"]))
    assert p.count("WindowGroupLimit") == 2
    # and the helper itself honors the bound + the partition filter
    got = _examples_per_partition(df, "lang", 3, ["a"])
    assert set(got) == {"a"} and len(got["a"]) == 3
    assert _examples_per_partition(df, "lang", 3, ["zz"]) == {}


def test_constraint_violations_is_map_only(spark, docs):
    """The violations pass claims one map-only codegen span: no
    Exchange, no Python eval anywhere in its plan."""
    from pytod_spark.validation.constraints import (
        RowConstraint,
        row_constraint_violations,
    )

    out = row_constraint_violations(
        docs.select("doc_id", "lang", "n_chars"),
        [RowConstraint("len", "n_chars <= 100"),
         RowConstraint("lang_set", "lang IN ('en', 'de')")],
        keep_cols=["doc_id"],
    )
    p = _plan(out)
    assert "Exchange" not in p
    assert "EvalPython" not in p


def test_constraint_summary_partial_aggregates(spark, docs):
    """The summary claims a partial-aggregating groupBy: map-side
    combine collapses each split to |groups| rows before the one
    model-sized shuffle."""
    from pytod_spark.validation.constraints import (
        RowConstraint,
        row_constraint_summary,
    )

    out = row_constraint_summary(
        docs.select("doc_id", "lang", "n_chars"),
        [RowConstraint("len", "n_chars <= 100")],
        ["lang"],
    )
    p = _plan(out)
    assert "partial_count" in p  # map-side combine under the agg
    assert p.count("Exchange") == 1  # exactly the one grouped shuffle


def test_index_probe_and_search_are_equi_joins(spark, docs, embs, tmp_path):
    """Round-5 persisted-index serving paths: the band-table probe and
    the IVF inverted-list search must stay equi-joins on their 8-byte
    keys — a CartesianProduct/BroadcastNestedLoop node means the
    all-pairs space leaked back in — and the probe must contain no
    quadratic tile cogroup (it only LSH-es the NEW side)."""
    from pytod_spark.operators import neardup_index as NI
    from pytod_spark.operators import similarity as S

    d = docs.select("doc_id", "text")
    nd_ref = str(tmp_path / "nd")
    NI.minhash_index_build(d.where(F.col("doc_id") % 2 == 0), nd_ref)
    probe = NI.minhash_index_probe(d.where(F.col("doc_id") % 2 == 1), nd_ref)
    ivf_ref = str(tmp_path / "ivf")
    S.ivf_index_build(embs, ivf_ref, n_clusters=4, n_iters=1, n_assign=2)
    search = S.ivf_index_search(embs, ivf_ref, k=3, n_probe=2)
    for name, p in {"probe": _plan(probe), "ivf_search": _plan(search)}.items():
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "FlatMapCoGroupsInPandas" not in p, name

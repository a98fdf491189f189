"""Persisted + incremental near-dup index (operators/neardup_index.py),
its IVF sibling (operators/similarity.py ivf_index_*), and the
streaming ingest gate (streaming/dedup.py)."""

import os

import pytest
from pyspark.sql import functions as F

from pytod_spark.operators import dedup as D
from pytod_spark.operators import neardup_index as NI
from pytod_spark.operators import similarity as S

BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away today "
    "while the sun sets slowly behind the quiet hills"
)


def _docs(spark):
    rows = []
    for i in range(30):
        rows.append(
            (
                i,
                f"document {i} holds unique content words alpha{i} beta{i * 3} "
                f"gamma delta {i * 7} epsilon zeta eta theta iota kappa",
            )
        )
    rows += [
        (100, BASE),
        (101, BASE + " extra trailing words"),
        (102, BASE + " extra trailing words appended again"),
        (103, BASE),  # exact duplicate of 100 under a new id
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs_set(df):
    return {(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()}


# ------------------------------------------------------------- minhash index


def test_build_refresh_matches_from_scratch(spark, tmp_path):
    d = _docs(spark)
    ref = str(tmp_path / "idx")
    NI.minhash_index_build(d.where(F.col("doc_id") % 2 == 0), ref)
    NI.minhash_index_refresh(d, ref)
    got = _pairs_set(NI.minhash_index_pairs(spark, ref))
    want = _pairs_set(D.minhash_dedup_pairs(d, threshold=0.5))
    assert got == want and want  # non-vacuous: the cluster yields pairs


def test_refresh_skips_redeliveries_and_rejects_mutation(spark, tmp_path):
    d = _docs(spark)
    ref = str(tmp_path / "idx")
    NI.minhash_index_build(d, ref)
    out = NI.minhash_index_refresh(d, ref)  # everything already indexed
    assert out == {
        "n_new_docs": 0, "n_new_pairs": 0, "skipped_redeliveries": True
    }
    mutated = d.where(F.col("doc_id") == 100).withColumn(
        "text", F.lit("entirely different content now")
    )
    with pytest.raises(ValueError, match="append-only"):
        NI.minhash_index_refresh(mutated, ref)


def test_probe_equals_cross_subset(spark, tmp_path):
    d = _docs(spark)
    ref = str(tmp_path / "idx")
    NI.minhash_index_build(d.where(F.col("doc_id") % 2 == 0), ref)
    probe = _pairs_set(
        NI.minhash_index_probe(d.where(F.col("doc_id") % 2 == 1), ref)
    )
    want = {
        (a, b, j)
        for (a, b, j) in _pairs_set(D.minhash_dedup_pairs(d, threshold=0.5))
        if (a % 2 == 0) != (b % 2 == 0)
    }
    assert probe == want and want


def test_probe_rejects_incompatible_meta(spark, tmp_path):
    d = _docs(spark)
    ref = str(tmp_path / "idx")
    NI.minhash_index_build(d, ref)
    # overwrite meta with alien banding parameters
    meta = spark.createDataFrame(
        [(NI.INDEX_VERSION, 3, 0.5, 16, 8, 2, 12345)],
        "version int, shingle_n int, threshold double, n_perm int, "
        "n_bands int, rows_per_band int, coeffs_sig long",
    )
    meta.write.mode("overwrite").parquet(os.path.join(ref, "meta"))
    with pytest.raises(ValueError, match="rebuild"):
        NI.minhash_index_probe(d, ref)


def test_mapside_band_keys_match_batch_banding(spark):
    d = _docs(spark)
    sigs = D.minhash_signatures(d)
    batch = {(r.doc_id, r.band_key) for r in D.banded_frame(sigs).collect()}
    ms = d.select(
        "doc_id", F.explode(D.map_side_band_keys(F.col("text"))).alias("band_key")
    ).collect()
    assert {(r.doc_id, r.band_key) for r in ms} == batch


def test_index_check_clean_and_detects_corruption(spark, tmp_path):
    d = _docs(spark)
    ref = str(tmp_path / "idx")
    NI.minhash_index_build(d, ref)
    assert NI.minhash_index_check(spark, ref)["ok"]
    # simulate a doubled append: duplicate one docs row
    docs_path = os.path.join(ref, "docs")
    one = spark.read.parquet(docs_path).limit(1).localCheckpoint()
    one.write.mode("append").parquet(docs_path)
    rep = NI.minhash_index_check(spark, ref)
    assert not rep["ok"] and rep["n_dup_keys"] == 1


# ------------------------------------------------------------ streaming gate


def test_neardup_ingest_batch_semantics(spark, tmp_path):
    d = _docs(spark)
    ref = str(tmp_path / "idx")
    # index the unique docs + one cluster member
    NI.minhash_index_build(
        d.where((F.col("doc_id") < 30) | (F.col("doc_id") == 100)), ref
    )
    batch = d.where(F.col("doc_id") >= 101)  # 101, 102 near-dups; 103 exact dup
    from pytod_spark.streaming.dedup import neardup_ingest_batch

    survivors = {r.doc_id for r in neardup_ingest_batch(batch, ref).collect()}
    # 103 = exact re-delivery of indexed 100; 101/102 = near-dups of 100
    assert survivors == set()
    # a genuinely new doc survives and is folded into the index
    new = spark.createDataFrame(
        [(200, "completely fresh words never seen before in any other doc "
               "lorem ipsum dolor sit amet consectetur")],
        "doc_id long, text string",
    )
    assert {r.doc_id for r in neardup_ingest_batch(new, ref).collect()} == {200}
    # re-delivering it next batch is dropped (the index is the state)
    assert neardup_ingest_batch(new, ref).count() == 0


def test_streaming_neardup_ingest(spark, tmp_path):
    d = _docs(spark)
    ref = str(tmp_path / "idx")
    NI.minhash_index_build(d.where(F.col("doc_id") < 30), ref)

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    os.makedirs(src)
    # batch 1: doc 100 (new) + doc 0 re-delivery (exact dup of indexed)
    d.where(F.col("doc_id").isin(100, 0)).write.mode("overwrite").parquet(
        src + "/b1"
    )
    from pytod_spark.streaming.dedup import streaming_neardup_ingest

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        src + "/*"
    )
    q = (
        streaming_neardup_ingest(stream, ref, sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = {r.doc_id for r in spark.read.parquet(sink).collect()}
        assert got1 == {100}
        # batch 2: 101 near-dups batch-1's survivor 100 -> dropped
        # cross-BATCH, proving the index carries the state; 103 is an
        # exact re-delivery of 100's content
        d.where(F.col("doc_id").isin(101, 103)).write.mode("overwrite").parquet(
            src + "/b2"
        )
        q.processAllAvailable()
        got2 = {r.doc_id for r in spark.read.parquet(sink).collect()}
        assert got2 == {100}
    finally:
        q.stop()


def test_streaming_neardup_candidates(spark, tmp_path):
    d = _docs(spark)
    ref = str(tmp_path / "idx")
    NI.minhash_index_build(d.where(F.col("doc_id") <= 100), ref)
    src = str(tmp_path / "src")
    d.where(F.col("doc_id") == 101).write.mode("overwrite").parquet(src)
    from pytod_spark.streaming.dedup import streaming_neardup_candidates

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = streaming_neardup_candidates(stream, ref)
    q = (
        out.writeStream.format("memory")
        .queryName("nd_cands")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from nd_cands").collect()
    finally:
        q.stop()
    matches = {(r.doc_id, r.indexed_id) for r in rows}
    assert (101, 100) in matches
    assert all(i == 101 for i, _ in matches)


# ----------------------------------------------------------------- IVF index


def _emb(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(
            F.col("vec_id").alias("row_id"),
            F.col("embedding").cast("array<double>").alias("features"),
        )
    )


def test_ivf_index_search_matches_in_session_ivf(spark, tmp_path):
    e = _emb(spark)
    ref = str(tmp_path / "ivf")
    S.ivf_index_build(e, ref, n_clusters=8, n_iters=2, n_assign=2)
    got = {
        (r.row_id, r.rn, r.nbr_id, round(r.cos, 9))
        for r in S.ivf_index_search(e, ref, k=3, n_probe=2).collect()
    }
    want = {
        (r.row_id, r.rn, r.nbr_id, round(r.cos, 9))
        for r in S.ivf_topk(
            e, k=3, n_clusters=8, n_iters=2, n_probe=2, n_assign=2
        ).collect()
    }
    assert got == want and want


def test_ivf_index_append(spark, tmp_path):
    e = _emb(spark)
    base = e.where(F.col("row_id") < 400)
    delta = e.where(F.col("row_id") >= 400)
    ref = str(tmp_path / "ivf")
    S.ivf_index_build(base, ref, n_clusters=8, n_iters=2, n_assign=2)
    out = S.ivf_index_append(delta, ref)
    assert out["n_new_vectors"] == delta.count()
    # searching now reaches appended vectors
    hits = S.ivf_index_search(e, ref, k=3, n_probe=8)
    assert hits.where(F.col("nbr_id") >= 400).count() > 0
    # append-only: re-appending the same ids raises
    with pytest.raises(ValueError, match="append-only"):
        S.ivf_index_append(delta, ref)


def test_refresh_handles_shingleless_delta(spark, tmp_path):
    """Docs with < n tokens have no shingles, hence no signature and no
    bands anywhere in the minhash family — a refresh whose delta
    contains such docs must still record them in the docs artifact
    (they are indexed content, probe-able by exact sha next time) and
    emit no pairs, and the health check must accept the 0-band arity."""
    d = _docs(spark)
    ref = str(tmp_path / "idx")
    NI.minhash_index_build(d, ref)
    tiny = spark.createDataFrame(
        [(300, "one two"), (301, "x")], "doc_id long, text string"
    )
    out = NI.minhash_index_refresh(tiny, ref)
    assert out["n_new_docs"] == 2 and out["n_new_pairs"] == 0
    assert NI.minhash_index_check(spark, ref)["ok"]
    # re-delivery of the tiny docs is fingerprint-skipped
    assert NI.minhash_index_refresh(tiny, ref)["n_new_docs"] == 0


def test_probe_empty_new_frame(spark, tmp_path):
    d = _docs(spark)
    ref = str(tmp_path / "idx")
    NI.minhash_index_build(d, ref)
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert NI.minhash_index_probe(empty, ref).count() == 0


def test_ivf_index_check(spark, tmp_path):
    e = _emb(spark)
    ref = str(tmp_path / "ivf")
    S.ivf_index_build(e, ref, n_clusters=8, n_iters=1, n_assign=2)
    assert S.ivf_index_check(spark, ref)["ok"]
    # doubled append: duplicate one vectors row
    vpath = os.path.join(ref, "vectors")
    one = spark.read.parquet(vpath).limit(1).localCheckpoint()
    one.write.mode("append").parquet(vpath)
    rep = S.ivf_index_check(spark, ref)
    assert not rep["ok"] and rep["n_dup_keys"] == 1


def test_index_catalog_table_refs(spark, tmp_path):
    """The artifact set also lives behind table:/iceberg: catalog refs
    (the lakehouse deployment posture — sources.write_table/ load_table
    resolve them via saveAsTable/read.table): build, probe, refresh and
    health-check all work unchanged, and the pair set still equals the
    from-scratch run."""
    d = _docs(spark)
    ref = "table:ndidx_t"
    try:
        NI.minhash_index_build(d.where(F.col("doc_id") % 2 == 0), ref)
        NI.minhash_index_refresh(d, ref)
        got = _pairs_set(NI.minhash_index_pairs(spark, ref))
        want = _pairs_set(D.minhash_dedup_pairs(d, threshold=0.5))
        assert got == want and want
        assert NI.minhash_index_check(spark, ref)["ok"]
    finally:
        for t in ("docs", "bands", "pairs", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS ndidx_t_{t}")


def test_cut_lineage_raises_compute_error_once(spark, tmp_path):
    """With a checkpoint dir set, a compute error inside the frame
    being checkpointed propagates from the reliable checkpoint. It is
    not mistaken for a missing checkpoint dir and re-run through
    localCheckpoint (which would compute the failing job twice)."""
    from pyspark.sql.types import LongType

    from pytod_spark.operators.cache import cut_lineage

    calls = tmp_path / "calls.txt"

    @F.udf(LongType())
    def boom(x):
        with open(calls, "a") as fh:
            fh.write("x\n")
        raise ValueError("planted compute error")

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        with pytest.raises(Exception, match="planted compute error"):
            cut_lineage(spark.range(1, numPartitions=1).select(boom("id")))
    finally:
        # back to no checkpoint dir, the session's state before
        getattr(jsc, "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None
    assert calls.read_text().count("x") == 1

"""Deduplication operators for training-data pipelines.

Five families, all DataFrame-native:

* exact            — sha256 group-by (one shuffle on the hash)
* n-gram Jaccard   — shingle-set similarity self-join within groups
* MinHash + LSH    — shingle -> 60-bit hash -> k permutations -> band
                     buckets -> candidate join -> exact verify; the
                     scale path (candidates only, never all pairs)
* SimHash          — 60-bit token-hash sign aggregate + Hamming join
* embedding cosine — see operators/similarity.py

Hashes use functions.text.md5_hash60 so every step is reproducible in
the DuckDB oracle SQL. MinHash permutations are fixed-seed affine
maps h_i(x) = (a_i * (x mod P) + b_i) mod P with P = 1e9+7.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_hash60, shingles, tokens

MINHASH_P = 1_000_000_007
# fixed-seed permutation coefficients (a_i odd-ish, b_i offset); shared
# verbatim with the oracle SQL
MINHASH_COEFFS = [(2 * i + 3, 7919 * (i + 1) % MINHASH_P) for i in range(16)]
N_BANDS = 4
ROWS_PER_BAND = 4  # 16 = N_BANDS * ROWS_PER_BAND


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-dup groups by content sha256 (the per-row invariant hash,
    BASELINE input_hint)."""
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("text_sha"), F.col(id_col))
        .groupBy("text_sha")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("min_doc_id"))
    )


def shingle_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3,
    group_cols: Iterable[str] = (),
) -> DataFrame:
    return df.select(*group_cols, id_col, shingles(F.col(text_col), n).alias("sh"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    group_cols: Iterable[str] = (),
) -> DataFrame:
    """All-pairs shingle Jaccard within groups (exact; quadratic per
    group — the verification-scale path; use MinHash+LSH at corpus
    scale)."""
    group_cols = list(group_cols)
    sh = shingle_df(df, id_col, text_col, n, group_cols)
    a = sh.select(*group_cols, F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(
        *[F.col(c).alias(f"__r_{c}") for c in group_cols],
        F.col(id_col).alias("doc_b"),
        F.col("sh").alias("sh_b"),
    )
    cond = [a[c] == b[f"__r_{c}"] for c in group_cols] + [a["doc_a"] < b["doc_b"]]
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        a.join(b, on=cond)
        .withColumn("jaccard", inter.cast("double") / union)
        .where(F.col("jaccard") >= threshold)
        .select(*group_cols, "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature: one min-aggregate per permutation
    over the exploded shingle hashes (single shuffle on doc id,
    map-side partial min). Pass `shingled` (a shingle_df result, e.g.
    persisted) to share the shingle computation with the refine stage."""
    base = shingled if shingled is not None else shingle_df(df, id_col, text_col, n)
    sh = base.select(id_col, F.explode("sh").alias("shingle"))
    h = (md5_hash60(F.col("shingle")) % MINHASH_P).alias("h")
    hashed = sh.select(id_col, h)
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def band_key_exprs() -> list:
    """The N_BANDS band-key expressions over a signature frame's
    ``m0..m{15}`` columns — xxhash64(band_id, mins...) per band (see
    lsh_candidate_pairs for why). ONE definition shared by the
    self-join path, the persisted index (operators/neardup_index.py),
    and the map-side variant below, so every surface bands identically
    and index probes join the exact keys the build wrote."""
    return [
        F.xxhash64(
            F.lit(b),
            *[F.col(f"m{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)],
        )
        for b in range(N_BANDS)
    ]


def banded_frame(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band_key) — one row per band per doc, the frame every LSH
    consumer self-joins or index-probes on."""
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_key_exprs())).alias("band_key")
    )


def map_side_band_keys(text_col, n: int = 3):
    """Band keys as ONE map-side Column expression (array<long>) — no
    explode/groupBy, so it runs on a Structured Streaming frame (the
    ingest near-dup filter) and in any per-row context. Exactly the
    batch pipeline's keys: same shingles, same md5_hash60 % P, same
    affine permutations, same xxhash64 band hash — the only difference
    is that the per-permutation min runs as ``array_min`` over the
    row's own shingle hashes instead of a partial-aggregated groupBy
    min (parity pinned in tests). Docs with no shingles (< n tokens,
    or NULL text) yield NULL — callers filter those out, matching the
    batch path where such docs never reach the banding (their exploded
    shingle frame is empty)."""
    sh = shingles(text_col, n)
    hs = F.transform(sh, lambda s: md5_hash60(s) % MINHASH_P)
    mins = [
        F.array_min(F.transform(hs, lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P))
        for (a, b) in MINHASH_COEFFS
    ]
    keys = [
        F.xxhash64(
            F.lit(b), *[mins[b * ROWS_PER_BAND + r] for r in range(ROWS_PER_BAND)]
        )
        for b in range(N_BANDS)
    ]
    return F.when(F.size(sh) >= 1, F.array(*keys))


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    cap: int | None = None,
    skew_stats: dict | None = None,
) -> DataFrame:
    """Band the signature (N_BANDS bands of ROWS_PER_BAND mins); docs
    colliding in any band are candidates. Self-join happens on the
    band-key bucket — never across buckets.

    One pass, not N_BANDS union branches (each branch would re-run the
    whole signature subtree): the N_BANDS band keys are built as an
    array and exploded. Keys are xxhash64(band_id, mins...) — an 8-byte
    long instead of a concat string, so the self-join shuffles fixed-
    width keys; baking band_id into the hash keeps bands in disjoint
    buckets (cross-band collisions are 2^-64 and are removed by the
    exact refine anyway).

    Hot-bucket cap (operators/skew.py): a band bucket larger than
    ``cap`` (default skew.DEFAULT_BUCKET_CAP) — e.g. a million-copy
    boilerplate cluster landing in one band — emits linear K-hub star
    pairs instead of C(n,2); connectivity for connected_components
    survives unless every hub fails the refine, and engagement is
    reported via ``skew_stats`` (operators/skew.py)."""
    from .skew import DEFAULT_BUCKET_CAP, capped_self_join_pairs

    banded = banded_frame(sigs, id_col)
    return capped_self_join_pairs(
        banded,
        ["band_key"],
        id_col,
        cap=cap if cap is not None else DEFAULT_BUCKET_CAP,
        stats=skew_stats,
    ).distinct()


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    cap: int | None = None,
    skew_stats: dict | None = None,
) -> DataFrame:
    """LSH candidates refined by exact shingle Jaccard (filter-and-
    refine, the same two-phase shape as the reference's quantized
    recheck, intermediate_layers.py:106-164).

    The shingle frame is computed once and persisted
    (MEMORY_AND_DISK): it feeds the signature pipeline and both sides
    of the refine join — without the persist each of those branches
    re-tokenizes the full corpus. At cluster scale the persisted
    frame spills to executor-local disk, which is still far cheaper
    than 3x re-shingling."""
    from pyspark import StorageLevel

    from .cache import track

    sh = track(shingle_df(df, id_col, text_col, n).persist(StorageLevel.MEMORY_AND_DISK))
    sigs = minhash_signatures(df, id_col, text_col, n, shingled=sh)
    cands = lsh_candidate_pairs(sigs, id_col, cap=cap, skew_stats=skew_stats)
    sa = sh.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", inter.cast("double") / union)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


#: Default SimHash width. md5_hash60 supplies 60 reproducible bits;
#: 16 bits (the round-2/3 width) is statistically broken at corpus
#: scale — only 65,536 distinct hash values, so at ~10^5+ docs
#: unrelated documents collide within Hamming<=2 by pigeonhole, AND
#: the pigeonhole chunks' value domain is <= 2^6, so every chunk
#: bucket outgrows the hot-bucket cap as the corpus grows (the cap
#: becomes the steady state instead of an anomaly). 60 bits gives
#: 2^20-value chunk domains at max_hamming=2: hot buckets then only
#: arise from true mass-duplicate clusters, which the K-hub star +
#: Hamming recheck handle exactly.
SIMHASH_BITS = 60


def simhash_bits(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """``bits``-wide SimHash over tokens: bit_i = sign of sum over
    tokens of (+1 if token-hash bit i else -1); ties (sum == 0)
    resolve to 0. One explode + one groupBy with ``bits`` partial-
    aggregating sums (map-side combine); the sign/pack step is a
    scalar projection."""
    if not 0 < bits <= 60:  # md5_hash60 supplies 60 well-mixed bits
        raise ValueError(f"bits must be in 1..60, got {bits}")
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    h = md5_hash60(F.col("tok"))
    hashed = tok.select(id_col, h.alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    sums = hashed.groupBy(id_col).agg(*bit_sums)
    sim = None
    for i in range(bits):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(0)
        sim = term if sim is None else sim + term
    return sums.select(id_col, sim.cast("long").alias("simhash"))


def simhash16(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash (kept for the round-2/3 parity tests; too narrow
    for corpus scale — see SIMHASH_BITS)."""
    return simhash_bits(df, id_col, text_col, bits=16)


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 2,
    group_cols: Iterable[str] = (),
    cap: int | None = None,
    skew_stats: dict | None = None,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance within groups.

    Scale shape: pigeonhole banding, not all-pairs. A pair with
    Hamming distance <= h differs in at most h of the ``bits`` bits
    (default SIMHASH_BITS=60 — wide enough that chunk-value domains
    are ~2^20, so only true mass-duplicate clusters go hot), so when
    the hash is split into h+1 disjoint chunks at least one chunk is
    bit-identical (pigeonhole). Each doc therefore emits h+1
    (chunk_id, chunk_value) keys; the join is an equi-join on
    (group, chunk_id, chunk_value) — candidates only, O(collisions)
    instead of O(n^2/groups) — followed by the exact Hamming re-check,
    which makes the result set identical to the all-pairs plan
    whenever no chunk bucket exceeds ``cap`` (hot buckets emit a
    linear K-hub star, operators/skew.py — for SimHash a giant
    near-dup cluster collides on every chunk, so the hub stars still
    link the whole cluster and the Hamming recheck keeps its exactness
    per pair)."""
    from .skew import DEFAULT_BUCKET_CAP, capped_self_join_pairs

    group_cols = list(group_cols)
    sh = simhash_bits(df, id_col, text_col, bits=bits)
    if group_cols:
        sh = sh.join(df.select(id_col, *group_cols), id_col)
    n_chunks = max_hamming + 1
    base_w, extra = divmod(bits, n_chunks)
    chunks, start = [], 0
    for i in range(n_chunks):
        w = base_w + (1 if i < extra else 0)
        chunks.append(
            F.shiftright(F.col("simhash"), start).bitwiseAND(F.lit((1 << w) - 1))
        )
        start += w
    banded = sh.select(
        *group_cols,
        id_col,
        "simhash",
        F.posexplode(F.array(*chunks)).alias("chunk_id", "chunk_val"),
    )
    pairs = capped_self_join_pairs(
        banded,
        [*group_cols, "chunk_id", "chunk_val"],
        id_col,
        cap=cap if cap is not None else DEFAULT_BUCKET_CAP,
        keep_cols=group_cols,
        carry_cols=["simhash"],
        stats=skew_stats,
    )
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        # a close pair can agree on several chunks -> dedupe candidates
        pairs.select(*group_cols, "doc_a", "doc_b", "simhash_a", "simhash_b")
        .distinct()
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select(*group_cols, "doc_a", "doc_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 20,
) -> DataFrame:
    """Duplicate-cluster resolution: (node, cluster_id) for every node
    in the candidate-pair graph, cluster_id = smallest node id in the
    connected component — the step a dedup pipeline runs AFTER
    MinHash/SimHash pair generation to group duplicates and pick one
    canonical document per cluster.

    Algorithm: hash-to-min label propagation WITH pointer jumping —
    per round every node takes the min label among itself and its
    neighbors (one shuffle-keyed join + partial-aggregating groupBy),
    then follows its label one more hop (lbl -> lbl(lbl), a second
    equi-join), which squares the propagation distance per round: a
    diameter-D component converges in O(log D) rounds instead of O(D)
    — the same round complexity as large-star/small-star (Kiveris et
    al., SoCC'14) with a simpler per-round plan. Convergence is
    detected with a take(1) probe on changed labels. Each round's
    labels are EAGERLY CHECKPOINTED (reliable checkpoint when the
    session has a checkpoint dir, executor-local otherwise): the
    pointer-jump self-join references the round's frame twice, so
    without a lineage cut the logical plan doubles per round and plan
    canonicalization OOMs the driver by ~round 10 — the standard
    iterative-algorithm trap persist() does NOT fix (it caches data,
    not lineage). Superseded rounds are unpersisted as soon as their
    successor materializes, so storage holds ~2 label frames at any
    time, not one per round. Production note: set a reliable
    checkpoint dir (``sc.setCheckpointDir``) on real clusters so a
    lost executor doesn't kill the run mid-iteration, and set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so
    superseded checkpoint FILES are garbage-collected too. If the loop exhausts
    ``max_iters`` while labels are still changing the result would be
    silently wrong (components split across labels), so it raises
    instead — with pointer jumping max_iters=20 covers diameters up
    to ~2^20, so hitting this means a pathological input.
    """
    from pyspark import StorageLevel

    from .cache import cut_lineage, track

    e = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = track(
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = cut_lineage(
        edges.select("src").distinct().select(
            F.col("src").alias("node"), F.col("src").alias("lbl")
        )
    )
    converged = False
    for _ in range(max_iters):
        prop = (
            edges.join(labels, edges["src"] == labels["node"])
            .select(F.col("dst").alias("node"), "lbl")
        )
        stepped = (
            labels.unionByName(prop).groupBy("node").agg(F.min("lbl").alias("lbl"))
        )
        # pointer jump: lbl(node) <- lbl(lbl(node)). The label is
        # always the id of a node in the same component (<= node by
        # the min invariant), so the hop stays in-component and only
        # decreases labels — doubling how far a round propagates.
        parent = stepped.select(F.col("node").alias("__pn"), F.col("lbl").alias("__pl"))
        new_labels = cut_lineage(
            stepped.join(parent, stepped["lbl"] == parent["__pn"], "left").select(
                "node", F.least(F.col("lbl"), F.coalesce("__pl", "lbl")).alias("lbl")
            )
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("lbl", "__old"), "node")
            .where(F.col("lbl") < F.col("__old"))
            .take(1)
        )
        # new_labels is materialized (checkpoints here are eager), so
        # the previous round's blocks are dead — free them now instead
        # of accumulating one full label-frame copy per round in
        # executor storage. Reliable-checkpoint FILES are only cleaned
        # by Spark when spark.cleaner.referenceTracking.cleanCheckpoints
        # is set (see the docstring's production note).
        try:
            labels.unpersist()
        except Exception:
            pass
        labels = new_labels
        if not changed:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(labels still changing) — the partial result would split "
            "components; raise max_iters"
        )
    return labels.select(F.col("node"), F.col("lbl").alias("cluster_id"))

"""Similarity search over embedding columns.

* ``cosine_topk_join``  — brute-force top-k cosine neighbors via the
  same block-tile cogroup machinery as the kNN join (baseline path).
* ``cosine_pairs``      — all pairs above a cosine threshold
  (embedding near-dup dedup).
* ``rp_lsh_buckets`` / ``rp_lsh_candidate_pairs`` — random-hyperplane
  LSH (fixed seed): sign-bit signature over R projections, bucket
  join on the signature — the scale path that avoids the quadratic
  pair space; refine candidates with exact cosine.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .block_knn import (
    BROADCAST_MAX_ELEMS,
    estimate_rows,
    fits_broadcast_budget,
    tile_sides,
)
from .cache import track


def _norm_rows(M: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(M, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return M / n


def cosine_topk_join(
    df: DataFrame,
    k: int,
    id_col: str = "row_id",
    features_col: str = "features",
    block_size: int = 4096,
    n_rows: int | None = None,
    include_self: bool = False,
) -> DataFrame:
    """Top-k cosine neighbors per row (excluding self by default).

    Same map/reduce shape as the kNN join: per-tile partial top-k
    below the shuffle, window merge above it.
    """
    n = n_rows if n_rows is not None else (estimate_rows(df) or df.count())
    n_blocks = max(1, math.ceil(n / block_size))
    left, right, lkeys, rkeys = tile_sides(df, id_col, features_col, [], n_blocks)

    kk = k if include_self else k + 1

    def tile_kernel(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if l.empty or r.empty:
            return pd.DataFrame({"__id": [], "nbr_id": [], "cos": []}).astype(
                {"__id": "int64", "nbr_id": "int64", "cos": "float64"}
            )
        A = _norm_rows(np.stack(l["__feat"].to_numpy()).astype(np.float64, copy=False))
        B = _norm_rows(np.stack(r["__rfeat"].to_numpy()).astype(np.float64, copy=False))
        S = A @ B.T
        kk2 = min(kk, B.shape[0])
        idx = np.argpartition(-S, kth=kk2 - 1, axis=1)[:, :kk2]
        vals = np.take_along_axis(S, idx, axis=1)
        return pd.DataFrame(
            {
                "__id": np.repeat(l["__id"].to_numpy(), kk2),
                "nbr_id": r["__rid"].to_numpy()[idx.ravel()],
                "cos": vals.ravel(),
            }
        )

    cands = (
        left.groupBy(*lkeys)
        .cogroup(right.groupBy(*rkeys))
        .applyInPandas(tile_kernel, schema="__id long, nbr_id long, cos double")
    )
    if not include_self:
        cands = cands.where(F.col("__id") != F.col("nbr_id"))
    w = Window.partitionBy("__id").orderBy(F.col("cos").desc(), F.col("nbr_id").asc())
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .withColumnRenamed("__id", id_col)
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "row_id",
    features_col: str = "features",
    block_size: int = 4096,
    n_rows: int | None = None,
) -> DataFrame:
    """All (a < b) pairs with cosine >= threshold (embedding near-dup)."""
    n = n_rows if n_rows is not None else (estimate_rows(df) or df.count())
    n_blocks = max(1, math.ceil(n / block_size))
    left, right, lkeys, rkeys = tile_sides(df, id_col, features_col, [], n_blocks)
    t = float(threshold)

    def tile_kernel(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if l.empty or r.empty:
            return pd.DataFrame({"doc_a": [], "doc_b": [], "cos": []}).astype(
                {"doc_a": "int64", "doc_b": "int64", "cos": "float64"}
            )
        A = _norm_rows(np.stack(l["__feat"].to_numpy()).astype(np.float64, copy=False))
        B = _norm_rows(np.stack(r["__rfeat"].to_numpy()).astype(np.float64, copy=False))
        S = A @ B.T
        ia = l["__id"].to_numpy()
        ib = r["__rid"].to_numpy()
        ii, jj = np.nonzero(S >= t)
        keep = ia[ii] < ib[jj]
        return pd.DataFrame(
            {"doc_a": ia[ii][keep], "doc_b": ib[jj][keep], "cos": S[ii, jj][keep]}
        )

    return (
        left.groupBy(*lkeys)
        .cogroup(right.groupBy(*rkeys))
        .applyInPandas(tile_kernel, schema="doc_a long, doc_b long, cos double")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def rp_lsh_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    id_col: str = "row_id",
    features_col: str = "features",
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane signature: bit_i = (x . h_i) >= 0. Vectors
    with equal signatures are near-duplicate candidates.

    Narrow signatures (n_planes * dim <= 1024) inline the plane matrix
    as literal expressions — the whole thing stays in whole-stage
    codegen. Wider signatures would blow the JVM's 64 KB generated-
    method limit (codegen fails, Spark falls back to per-node
    interpreted eval — measured ~50x slower), so they run as ONE
    Arrow-batched matmul: X @ planes.T, signs, bit-packed, still one
    narrow pass with no shuffle."""
    planes = _hyperplanes(dim, n_planes, seed)
    feats = F.col(features_col).cast("array<double>")
    if n_planes * dim <= 1024:
        sig = F.lit(0).cast("long")
        for i in range(n_planes):
            dot = None
            for j in range(dim):
                term = F.element_at(feats, j + 1) * float(planes[i, j])
                dot = term if dot is None else dot + term
            sig = sig + F.when(dot >= 0, F.lit(1 << i)).otherwise(0)
        return df.select(F.col(id_col), sig.alias("bucket"))

    P = planes.T.copy()  # (dim, n_planes)
    weights = np.array([1 << i for i in range(n_planes)], dtype=np.int64)
    id_type = df.schema[id_col].dataType.simpleString()

    def sig_batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["__feat"].to_numpy()).astype(np.float64, copy=False)
            bucket = ((X @ P >= 0) * weights).sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "bucket": bucket})

    return df.select(F.col(id_col), feats.alias("__feat")).mapInPandas(
        sig_batches, schema=f"`{id_col}` {id_type}, bucket long"
    )


def rp_lsh_candidate_pairs(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    id_col: str = "row_id",
    features_col: str = "features",
    seed: int = 42,
    n_bands: int = 1,
    cap: int | None = None,
    skew_stats: dict | None = None,
) -> DataFrame:
    """Candidate pairs from the sign signature.

    n_bands=1: single-probe — pairs sharing the full signature bucket.
    n_bands>1: banded (multi-probe) — the n_planes sign bits split into
    n_bands chunks; a pair is a candidate when ANY chunk matches, which
    lifts recall from p^R to 1-(1-p^(R/b))^b for bit-agreement
    probability p (standard LSH OR-amplification) while the join stays
    an equi-join on (band_id, band_key) — never all-pairs.

    Hot-bucket cap (operators/skew.py): a signature bucket larger than
    ``cap`` — a giant cluster of near-identical embeddings — emits
    linear K-hub star pairs instead of C(n,2); the exact-cosine refine
    downstream keeps per-pair exactness and the cap is logged."""
    from .skew import DEFAULT_BUCKET_CAP, capped_self_join_pairs

    cap = cap if cap is not None else DEFAULT_BUCKET_CAP
    b = rp_lsh_buckets(df, dim, n_planes, id_col, features_col, seed)
    if n_bands <= 1:
        # .distinct(): the capped join's output is NOT deduplicated
        # (hot-bucket hub-hub pairs arrive in both orientations)
        return capped_self_join_pairs(
            b, ["bucket"], id_col, cap=cap, stats=skew_stats
        ).distinct()
    base_w, extra = divmod(n_planes, n_bands)
    chunks, start = [], 0
    for i in range(n_bands):
        w = base_w + (1 if i < extra else 0)
        chunks.append(
            F.shiftright(F.col("bucket"), start).bitwiseAND(F.lit((1 << w) - 1))
        )
        start += w
    banded = b.select(
        F.col(id_col), F.posexplode(F.array(*chunks)).alias("band_id", "band_key")
    )
    return capped_self_join_pairs(
        banded, ["band_id", "band_key"], id_col, cap=cap, stats=skew_stats
    ).distinct()


def choose_lsh_params(
    threshold: float, target_recall: float = 0.85, max_planes: int = 48
) -> tuple[int, int]:
    """Pick (n_planes, n_bands) for sign-LSH banding at a given cosine
    threshold so the at-threshold recall meets ``target_recall``.

    Sign-LSH bit-agreement probability for a pair at angle theta is
    p = 1 - theta/pi (Charikar, STOC'02). With n_bands disjoint bands
    of w bits each, recall = 1 - (1 - p^w)^n_bands. Among all (w, b)
    with w*b <= max_planes meeting the target, picks the one that
    minimizes the random-pair candidate rate 1 - (1 - 0.5^w)^b
    (best selectivity). Low thresholds (weak p-vs-0.5 gap) therefore
    cost many planes and admit a higher candidate rate — inherent to
    sign-LSH, not a tuning failure; callers that need both low
    threshold and high selectivity should raise max_planes or use the
    exact tile path."""
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    best = None
    for w in range(1, max_planes + 1):
        pw = p**w
        if pw >= 1.0:
            b = 1
        elif 1.0 - pw >= 1.0:
            # pw underflows to 0 in float (threshold at/near -1): a
            # band never matches, no finite b reaches the target
            continue
        else:
            b = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pw))
        if w * b > max_planes:
            continue
        rand_rate = 1.0 - (1.0 - 0.5**w) ** b
        if best is None or rand_rate < best[0]:
            best = (rand_rate, w, b)
    if best is None:
        raise ValueError(
            f"sign-LSH cannot reach recall {target_recall} at cosine "
            f"threshold {threshold} within max_planes={max_planes}; raise "
            "max_planes or use the exact path (cosine_pairs / "
            "cosine_topk_join)"
        )
    _, w, b = best
    return w * b, b


def ann_neardup_pairs(
    df: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int | None = None,
    n_bands: int | None = None,
    id_col: str = "row_id",
    features_col: str = "features",
    seed: int = 42,
    cap: int | None = None,
    skew_stats: dict | None = None,
) -> DataFrame:
    """Embedding near-dup at scale: banded RP-LSH candidates refined by
    exact cosine — the candidate join replaces the O(n^2) tile sweep of
    ``cosine_pairs``; recall < 1 by LSH design (measured vs the
    brute-force path in tests/test_similarity.py).

    When n_planes/n_bands are not given they are chosen per threshold
    by ``choose_lsh_params`` so at-threshold recall is >= 0.85.

    The refine stays JVM-side: unit-normalize once per side with
    ``transform``/``aggregate`` higher-order functions, then the dot
    product via ``zip_with`` + ``aggregate`` — no Python in the pair
    path."""
    if n_planes is None or n_bands is None:
        n_planes, n_bands = choose_lsh_params(threshold)
    cands = rp_lsh_candidate_pairs(
        df, dim, n_planes, id_col, features_col, seed, n_bands,
        cap=cap, skew_stats=skew_stats,
    )
    # persisted unit frame (one normalize pass): the inline
    # aggregate-inside-transform expression re-inlines into BOTH join
    # sides without the materialization barrier (_unit_frame docstring)
    uf = _unit_frame(df, id_col, features_col)
    dot = F.aggregate(
        F.zip_with(F.col("u_a"), F.col("u_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        cands.join(uf.select(F.col("__id").alias("doc_a"), F.col("__u").alias("u_a")), "doc_a")
        .join(uf.select(F.col("__id").alias("doc_b"), F.col("__u").alias("u_b")), "doc_b")
        .withColumn("cos", dot)
        .where(F.col("cos") >= float(threshold))
        .select("doc_a", "doc_b", "cos")
    )


def ann_cosine_topk(
    df: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 12,
    n_bands: int = 3,
    id_col: str = "row_id",
    features_col: str = "features",
    seed: int = 42,
    cap: int | None = None,
    skew_stats: dict | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors: banded RP-LSH candidates
    (directed — both orientations of every bucket collision) refined
    with exact cosine, then a per-row window top-k. The scale path
    beside ``cosine_topk_join``'s exact tile sweep: candidate volume
    is O(bucket collisions), not O(n^2/B); recall < 1 by LSH design
    (rows with fewer than k candidates return fewer than k rows)."""
    pairs = rp_lsh_candidate_pairs(
        df, dim, n_planes, id_col, features_col, seed, n_bands,
        cap=cap, skew_stats=skew_stats,
    )
    directed = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    uf = _unit_frame(df, id_col, features_col)  # one normalize pass, persisted
    dot = F.aggregate(
        F.zip_with(F.col("u_a"), F.col("u_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        directed.join(uf.select(F.col("__id").alias("doc_a"), F.col("__u").alias("u_a")), "doc_a")
        .join(uf.select(F.col("__id").alias("doc_b"), F.col("__u").alias("u_b")), "doc_b")
        .select(
            F.col("doc_a").alias(id_col),
            F.col("doc_b").alias("nbr_id"),
            dot.alias("cos"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("cos").desc(), F.col("nbr_id").asc())
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


# ------------------------------------------------------------------- IVF
#
# The fit/search below recompute everything per call; the persisted
# index surface (ivf_index_build / ivf_index_search / ivf_index_append,
# end of file) freezes the coarse quantizer + cell assignments as
# artifacts so repeated searches and incremental corpus growth stop
# paying the fit — the same artifact posture as the MinHash index
# (operators/neardup_index.py; the reference refits per call,
# pytod/models/knn.py:100-108).


def _unit_col(features_col: str):
    feats = F.col(features_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(feats, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.transform(feats, lambda x: x / F.when(norm == 0, F.lit(1.0)).otherwise(norm))


def _unit_frame(df: DataFrame, id_col: str, features_col: str) -> DataFrame:
    """Persisted (id, unit-vector) frame — a materialization barrier:
    the IVF consumers touch ``__u`` from kernels, probe sorts and both
    sides of the refine join, and without the barrier Catalyst inlines
    the O(d) normalize transform into every consumer expression (the
    same inlining pathology as the shingles fix)."""
    return track(
        df.select(F.col(id_col).alias("__id"), _unit_col(features_col).alias("__u"))
        .persist()
    )


def _assign_probes(u: DataFrame, centroids: np.ndarray, n_probe: int) -> DataFrame:
    """(id, probes) per vector — ``probes[0]`` is the assigned cell.

    One Arrow-batched vectorized kernel (X @ C.T argmax / stable
    argsort): with C centroids of d dims the inline-expression
    alternative is C*d codegen terms PER ITERATION, whose Janino
    compile time dominates at small scale and whose method size breaks
    whole-stage codegen at large C*d — the batched matmul is the same
    kernel shape the tile joins use. Tie order: similarity desc, cell
    id asc (numpy stable argsort on -S), matching the oracle's ORDER
    BY sim DESC, cid ASC."""
    C = np.ascontiguousarray(centroids, dtype=np.float64)
    npb = min(n_probe, C.shape[0])

    def kernel(it):
        for pdf in it:
            if not len(pdf):
                continue
            U = np.stack(pdf["__u"].to_numpy()).astype(np.float64, copy=False)
            order = np.argsort(-(U @ C.T), axis=1, kind="stable")[:, :npb]
            yield pd.DataFrame(
                {"__id": pdf["__id"], "probes": list(order.astype(np.int32))}
            )

    id_type = u.schema["__id"].dataType.simpleString()
    return u.mapInPandas(kernel, schema=f"__id {id_type}, probes array<int>")


def _local_lloyd(U: np.ndarray, n_clusters: int, n_iters: int) -> np.ndarray:
    """Driver-side spherical Lloyd on an id-sorted UNIT matrix — the
    same loop as oracle.operators.ivf_centroids (minus its
    re-normalization of already-unit rows)."""
    C = U[:n_clusters].copy()
    for _ in range(n_iters):
        assign = np.argmax(U @ C.T, axis=1)  # ties -> lowest cell
        for j in range(n_clusters):
            members = U[assign == j]
            if len(members):
                m = members.mean(axis=0)
                nm = np.linalg.norm(m)
                if nm > 0:
                    C[j] = m / nm
    return C


def ivf_fit(
    df: DataFrame,
    n_clusters: int = 8,
    n_iters: int = 3,
    id_col: str = "row_id",
    features_col: str = "features",
    unit: DataFrame | None = None,
    broadcast_elems: int = BROADCAST_MAX_ELEMS,
) -> np.ndarray:
    """Distributed spherical-Lloyd fit of the IVF coarse quantizer
    (mirrors oracle.operators.ivf_centroids, which documents the
    deterministic conventions). 100-TB shape: per iteration ONE job —
    an Arrow kernel computes per-partition partial sums (assign by
    argmax, accumulate sum/count per cell: C x (d+1) doubles per
    partition, the classic k-means map-side combine), a groupBy(cell)
    merges the partials, and only the (n_clusters x d) model ever
    reaches the driver. Init = unit rows of the n_clusters smallest
    ids. Pass ``unit`` (a ``_unit_frame`` result) to share the
    persisted normalize pass with the caller (ivf_topk does) instead
    of building and caching a second identical frame.

    Small inputs (n x dim <= ``broadcast_elems`` fp64 elements — the
    same 64 MB budget as the kNN broadcast path; 0 disables) fit
    driver-side: one collect + numpy Lloyd (``_local_lloyd``) instead
    of one Spark job per iteration, whose scheduling overhead dwarfs
    the matmul at that size. At 100-TB scale this is also the
    sampled-fit posture: coarse quantizers are fit on a bounded
    sample (``df.sample(...)`` upstream), never the full corpus, so
    the fit input is SUPPOSED to fit a driver collect."""
    u = unit if unit is not None else _unit_frame(df, id_col, features_col)
    if fits_broadcast_budget(df, features_col, budget=broadcast_elems):
        # Arrow collection + pandas sort: type-agnostic over the id
        # column (string ids sort fine) and no per-row Python objects
        pdf = u.toPandas().sort_values("__id", kind="stable")
        U = np.stack(pdf["__u"].to_numpy()).astype(np.float64, copy=False)
        return _local_lloyd(np.ascontiguousarray(U), n_clusters, n_iters)
    first = u.orderBy("__id").limit(n_clusters).collect()
    C = np.array([r["__u"] for r in sorted(first, key=lambda r: r["__id"])])
    dim = C.shape[1]

    for _ in range(n_iters):
        Cb = np.ascontiguousarray(C)

        def kernel(it, Cb=Cb):
            sums = np.zeros_like(Cb)
            counts = np.zeros(len(Cb), dtype=np.int64)
            seen = False
            for pdf in it:
                if not len(pdf):
                    continue
                seen = True
                U = np.stack(pdf["__u"].to_numpy()).astype(np.float64, copy=False)
                a = np.argmax(U @ Cb.T, axis=1)  # ties -> lowest cell
                np.add.at(sums, a, U)
                counts += np.bincount(a, minlength=len(Cb))
            if seen:
                yield pd.DataFrame(
                    {"cell": np.arange(len(Cb), dtype=np.int32),
                     "n": counts, "s": list(sums)}
                )

        partials = u.mapInPandas(kernel, schema="cell int, n long, s array<double>")
        agg = (
            partials.groupBy("cell")
            .agg(
                F.sum("n").alias("n"),
                *[F.sum(F.element_at("s", j + 1)).alias(f"s{j}") for j in range(dim)],
            )
            .collect()
        )
        for r in agg:
            if r["n"]:
                m = np.array([r[f"s{j}"] for j in range(dim)]) / r["n"]
                nm = np.linalg.norm(m)
                if nm > 0:
                    C[r["cell"]] = m / nm
    return C


def ivf_topk(
    df: DataFrame,
    k: int,
    n_clusters: int = 16,
    n_iters: int = 3,
    n_probe: int = 3,
    n_assign: int = 3,
    id_col: str = "row_id",
    features_col: str = "features",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate cosine top-k: coarse-quantize every vector into
    its ``n_assign`` nearest cells (multi-assignment replication — the
    standard recall lever when cluster structure is weak), probe each
    query's ``n_probe`` nearest cells, exact-cosine refine inside the
    probed cells.

    The scale path beside the RP-LSH variant: candidates come from an
    EQUI-JOIN on the cell id (never all-pairs); assignment and probe
    lists come from one Arrow-batched matmul kernel (see
    ``_assign_probes`` for the tie convention shared with the oracle).
    Recall < 1 by IVF design (vectors whose true neighbors live
    outside the probed cells); measured vs the brute twin in
    tests/test_similarity.py. Caveat recorded there: on near-uniform
    random directions (this repo's synthetic embeddings) recall scales
    ~linearly with the candidate fraction n_assign*n_probe/C — IVF's
    advantage needs real cluster structure, which production
    embeddings have and random test vectors don't."""
    u = _unit_frame(df, id_col, features_col)
    if centroids is None:
        centroids = ivf_fit(df, n_clusters, n_iters, id_col, features_col, unit=u)
    ap = track(
        _assign_probes(u, centroids, max(n_probe, n_assign)).persist()
    )

    assigned = ap.select(
        F.col("__id").alias("nbr_id"),
        F.explode(F.slice("probes", 1, n_assign)).alias("__cell"),
    )
    probes = ap.select(
        F.col("__id").alias(id_col),
        F.explode(F.slice("probes", 1, n_probe)).alias("__cell"),
    )
    # multi-assignment can produce the same (query, neighbor) pair in
    # several cells — dedupe BEFORE the refine so the window sees each
    # candidate once
    cand = (
        probes.join(assigned, on="__cell")
        .where(F.col(id_col) != F.col("nbr_id"))
        .select(id_col, "nbr_id")
        .distinct()
    )
    dot = F.aggregate(
        F.zip_with(F.col("u_a"), F.col("u_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        cand.join(u.select(F.col("__id").alias(id_col), F.col("__u").alias("u_a")), id_col)
        .join(u.select(F.col("__id").alias("nbr_id"), F.col("__u").alias("u_b")), "nbr_id")
        .select(id_col, "nbr_id", dot.alias("cos"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("cos").desc(), F.col("nbr_id").asc())
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


# ----------------------------------------------------- L2 IVF kNN join


def _l2_fit(
    df: DataFrame,
    n_clusters: int,
    n_iters: int,
    id_col: str,
    features_col: str,
    broadcast_elems: int = BROADCAST_MAX_ELEMS,
) -> np.ndarray:
    """Euclidean (non-spherical) Lloyd fit for the kNN handoff's coarse
    quantizer — the L2 sibling of ``ivf_fit``: same one-job-per-
    iteration partial-sum shape, same deterministic conventions (init =
    rows of the n_clusters smallest ids, ties -> lowest cell), but
    centroids are plain means of RAW vectors and assignment is argmin
    L2 distance (computed as argmax(x·c - |c|²/2) so the kernel stays
    one matmul)."""
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(features_col).cast("array<double>").alias("__f"),
    )
    if fits_broadcast_budget(df, features_col, budget=broadcast_elems):
        pdf = base.toPandas().sort_values("__id", kind="stable")
        X = np.stack(pdf["__f"].to_numpy()).astype(np.float64, copy=False)
        C = X[:n_clusters].copy()
        for _ in range(n_iters):
            scores = X @ C.T - 0.5 * (C * C).sum(axis=1)
            assign = np.argmax(scores, axis=1)
            for j in range(n_clusters):
                members = X[assign == j]
                if len(members):
                    C[j] = members.mean(axis=0)
        return C
    first = base.orderBy("__id").limit(n_clusters).collect()
    C = np.array([r["__f"] for r in sorted(first, key=lambda r: r["__id"])])
    dim = C.shape[1]
    for _ in range(n_iters):
        Cb = np.ascontiguousarray(C)

        def kernel(it, Cb=Cb):
            sums = np.zeros_like(Cb)
            counts = np.zeros(len(Cb), dtype=np.int64)
            seen = False
            for pdf in it:
                if not len(pdf):
                    continue
                seen = True
                X = np.stack(pdf["__f"].to_numpy()).astype(np.float64, copy=False)
                a = np.argmax(X @ Cb.T - 0.5 * (Cb * Cb).sum(axis=1), axis=1)
                np.add.at(sums, a, X)
                counts += np.bincount(a, minlength=len(Cb))
            if seen:
                yield pd.DataFrame(
                    {"cell": np.arange(len(Cb), dtype=np.int32),
                     "n": counts, "s": list(sums)}
                )

        partials = base.mapInPandas(kernel, schema="cell int, n long, s array<double>")
        agg = (
            partials.groupBy("cell")
            .agg(
                F.sum("n").alias("n"),
                *[F.sum(F.element_at("s", j + 1)).alias(f"s{j}") for j in range(dim)],
            )
            .collect()
        )
        for r in agg:
            if r["n"]:
                C[r["cell"]] = np.array([r[f"s{j}"] for j in range(dim)]) / r["n"]
    return C


def _l2_assign_probes(base: DataFrame, centroids: np.ndarray, npb: int) -> DataFrame:
    """(__id, probes array<int>) by ascending L2 distance to the frozen
    centroids; ties -> lowest cell (stable argsort on the negated
    score, mirroring ``_assign_probes``)."""
    C = np.ascontiguousarray(centroids, dtype=np.float64)
    half = 0.5 * (C * C).sum(axis=1)
    npb = min(npb, C.shape[0])

    def kernel(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.stack(pdf["__f"].to_numpy()).astype(np.float64, copy=False)
            order = np.argsort(-(X @ C.T - half), axis=1, kind="stable")[:, :npb]
            yield pd.DataFrame(
                {"__id": pdf["__id"], "probes": list(order.astype(np.int32))}
            )

    id_type = base.schema["__id"].dataType.simpleString()
    return base.mapInPandas(kernel, schema=f"__id {id_type}, probes array<int>")


def ivf_knn_join(
    df: DataFrame,
    k: int,
    n_clusters: int | None = None,
    n_iters: int = 3,
    n_probe: int = 8,
    n_assign: int = 2,
    id_col: str = "row_id",
    features_col: str = "features",
    n_rows: int | None = None,
) -> DataFrame:
    """Approximate Euclidean self-kNN with the ``knn_join`` output
    contract — (row_id, nbr_id, dist, rn), rn = 1..k by (dist asc,
    nbr_id asc), SELF INCLUDED in the distance-0 slot — via an IVF
    coarse quantizer instead of the quadratic tile sweep: fit L2
    centroids (one job per Lloyd iteration), multi-assign every vector
    to its ``n_assign`` nearest cells, probe each query's ``n_probe``
    nearest cells, exact-L2 refine through a JVM-side zip_with
    aggregate on the cell EQUI-join's candidates. Candidate volume is
    n·(n_assign·n_probe/C)·avg_cell — never n²/B. Recall < 1 by IVF
    design; ``n_probe >= n_clusters`` probes every cell and reproduces
    the exact join bit-for-bit (the parity pin in tests). This is the
    target of ``knn_join(strategy='auto')``'s past-the-frontier
    handoff (operators/block_knn.py docstring, BENCH/knn_frontier.json);
    default ``n_clusters`` = ~sqrt(n), the standard IVF nlist rule.

    Rows whose probed cells hold fewer than k candidates return fewer
    than k rows (same contract as the cosine IVF)."""
    from .block_knn import estimate_rows

    n = n_rows if n_rows is not None else (estimate_rows(df) or df.count())
    if n_clusters is None:
        n_clusters = max(16, min(4096, int(math.isqrt(max(1, n)))))
    base = track(
        df.select(
            F.col(id_col).alias("__id"),
            F.col(features_col).cast("array<double>").alias("__f"),
        ).persist()
    )
    C = _l2_fit(base, n_clusters, n_iters, "__id", "__f")
    ap = track(_l2_assign_probes(base, C, max(n_probe, n_assign)).persist())
    assigned = ap.select(
        F.col("__id").alias("nbr_id"),
        F.explode(F.slice("probes", 1, n_assign)).alias("__cell"),
    )
    probes = ap.select(
        F.col("__id").alias("__qid"),
        F.explode(F.slice("probes", 1, n_probe)).alias("__cell"),
    )
    cand = (
        probes.join(assigned, "__cell")
        .select("__qid", "nbr_id")
        .distinct()
    )
    sqdist = F.aggregate(
        F.zip_with(F.col("__fa"), F.col("__fb"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        cand.join(base.select(F.col("__id").alias("__qid"), F.col("__f").alias("__fa")), "__qid")
        .join(base.select(F.col("__id").alias("nbr_id"), F.col("__f").alias("__fb")), "nbr_id")
        .select("__qid", "nbr_id", F.sqrt(sqdist).alias("dist"))
    )
    w = Window.partitionBy("__qid").orderBy(F.col("dist").asc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .withColumnRenamed("__qid", id_col)
    )


# ------------------------------------------------- persisted IVF index

#: bump on incompatible centroid/assignment conventions
IVF_INDEX_VERSION = 1


def _ivf_sub_ref(ref: str, name: str) -> str:
    from .neardup_index import _sub_ref

    return _sub_ref(ref, name)


def ivf_index_build(
    df: DataFrame,
    ref: str,
    n_clusters: int = 16,
    n_iters: int = 3,
    n_assign: int = 3,
    id_col: str = "row_id",
    features_col: str = "features",
) -> dict:
    """Fit the coarse quantizer once and persist the serving state:

      R/centroids — (cell int, v array<double>)   the frozen model
      R/vectors   — (doc_id, u array<double>)     unit vectors (refine side)
      R/cells     — (cell int, doc_id)            inverted lists (equi-join side)
      R/meta      — 1 row (version, n_clusters, n_assign, dim); n_assign
                    is the effective cells per vector, min(n_assign,
                    number of centroids)

    Searches then pay only assignment-of-queries + one cell equi-join +
    refine; corpus growth appends through ``ivf_index_append`` against
    the FROZEN centroids (the standard IVF posture — centroid drift is
    a rebuild decision, surfaced by the cell-balance stats this
    returns, not something an append silently does). An input with no
    non-null vector raises ValueError before anything is written."""
    from ..sources import write_table

    spark = df.sparkSession
    u = _unit_frame(df, id_col, features_col)
    if u.where(F.col("__u").isNotNull()).isEmpty():
        u.unpersist()
        raise ValueError(
            f"ivf_index_build: no non-null {features_col!r} vector to "
            f"index; nothing was written to {ref!r}"
        )
    centroids = ivf_fit(df, n_clusters, n_iters, id_col, features_col, unit=u)
    dim = centroids.shape[1]
    # _assign_probes clamps the probe list to the centroids there are,
    # so that is how many cells each vector lands in (ivf_index_check
    # and ivf_index_append read it back from meta)
    n_assign = min(int(n_assign), len(centroids))
    cdf = spark.createDataFrame(
        [(int(i), [float(x) for x in centroids[i]]) for i in range(len(centroids))],
        "cell int, v array<double>",
    )
    ap = _assign_probes(u, centroids, n_assign)
    cells = ap.select(
        F.explode(F.slice("probes", 1, n_assign)).alias("cell"),
        F.col("__id").alias("doc_id"),
    )
    vectors = u.select(F.col("__id").alias("doc_id"), F.col("__u").alias("u"))
    write_table(cdf, _ivf_sub_ref(ref, "centroids"))
    write_table(vectors, _ivf_sub_ref(ref, "vectors"))
    write_table(cells, _ivf_sub_ref(ref, "cells"))
    meta = spark.createDataFrame(
        [(IVF_INDEX_VERSION, int(n_clusters), int(n_assign), int(dim))],
        "version int, n_clusters int, n_assign int, dim int",
    )
    write_table(meta, _ivf_sub_ref(ref, "meta"))
    sizes = (
        cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).agg(
            F.min("n").alias("min_cell"), F.max("n").alias("max_cell"),
            F.count(F.lit(1)).alias("n_cells"),
        ).first()
    )
    return {
        "ref": ref,
        "n_cells": int(sizes["n_cells"]),
        "min_cell": int(sizes["min_cell"]),
        "max_cell": int(sizes["max_cell"]),
    }


def _ivf_load(spark, ref: str):
    import numpy as np

    from ..sources import load_table

    meta_rows = load_table(spark, _ivf_sub_ref(ref, "meta")).collect()
    if len(meta_rows) != 1 or meta_rows[0]["version"] != IVF_INDEX_VERSION:
        raise ValueError(
            f"IVF index at {ref!r} is missing/corrupt or a different "
            "version — rebuild it"
        )
    meta = meta_rows[0].asDict()
    crows = load_table(spark, _ivf_sub_ref(ref, "centroids")).collect()
    C = np.zeros((meta["n_clusters"], meta["dim"]))
    for r in crows:
        C[r["cell"]] = r["v"]
    return meta, C


def ivf_index_search(
    queries_df: DataFrame,
    ref: str,
    k: int,
    n_probe: int = 3,
    id_col: str = "row_id",
    features_col: str = "features",
    include_self: bool = False,
) -> DataFrame:
    """Approximate cosine top-k of each query against the INDEXED
    corpus: assign query probes against the frozen centroids (one
    Arrow matmul kernel), equi-join the stored inverted lists, refine
    with exact cosine against the stored unit vectors, window top-k.
    ``include_self=False`` drops exact id matches (self-search when
    querying with indexed rows)."""
    from ..sources import load_table

    spark = queries_df.sparkSession
    meta, C = _ivf_load(spark, ref)
    uq = _unit_frame(queries_df, id_col, features_col)
    probes = _assign_probes(uq, C, n_probe).select(
        F.col("__id").alias(id_col),
        F.explode(F.slice("probes", 1, n_probe)).alias("cell"),
    )
    cells = load_table(spark, _ivf_sub_ref(ref, "cells"))
    cand = (
        probes.join(cells, "cell")
        .select(id_col, F.col("doc_id").alias("nbr_id"))
        .distinct()
    )
    if not include_self:
        cand = cand.where(F.col(id_col) != F.col("nbr_id"))
    vectors = load_table(spark, _ivf_sub_ref(ref, "vectors")).select(
        F.col("doc_id").alias("nbr_id"), F.col("u").alias("u_b")
    )
    dot = F.aggregate(
        F.zip_with(F.col("u_a"), F.col("u_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        cand.join(uq.select(F.col("__id").alias(id_col), F.col("__u").alias("u_a")), id_col)
        .join(vectors, "nbr_id")
        .select(id_col, "nbr_id", dot.alias("cos"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("cos").desc(), F.col("nbr_id").asc())
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def ivf_index_check(spark, ref: str) -> dict:
    """IVF-artifact health through the validation engine's check
    primitives (the IVF sibling of neardup_index.minhash_index_check):
    doc_id uniqueness in vectors (a doubled append), referential
    integrity cells.doc_id -> vectors, and inverted-list arity (every
    vector appears in exactly meta.n_assign cells). ``ok`` True when
    all counts are zero."""
    from ..sources import load_table
    from ..validation.constraints import ri_violations, uniqueness_violations

    meta, _ = _ivf_load(spark, ref)
    vectors = load_table(spark, _ivf_sub_ref(ref, "vectors"))
    cells = load_table(spark, _ivf_sub_ref(ref, "cells"))
    out = {
        "n_dup_keys": int(uniqueness_violations(vectors, ["doc_id"]).count()),
        "n_cell_orphans": int(
            ri_violations(cells, vectors.select("doc_id"), ["doc_id"]).count()
        ),
        "n_bad_arity": int(
            cells.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") != meta["n_assign"])
            .count()
        ),
    }
    out["ok"] = not any(out.values())
    return out


def ivf_index_append(
    new_df: DataFrame,
    ref: str,
    id_col: str = "row_id",
    features_col: str = "features",
) -> dict:
    """Fold new vectors into the index against the FROZEN centroids:
    assign each new vector to its n_assign nearest cells (from meta),
    append vectors + inverted-list rows. No refit — cell balance drift
    under a shifting corpus is a rebuild decision; the returned cell
    stats give the caller the signal. New ids already present raise
    (append-only, same contract as the MinHash index)."""
    from ..sources import load_table, write_table

    spark = new_df.sparkSession
    meta, C = _ivf_load(spark, ref)
    stored_ids = load_table(spark, _ivf_sub_ref(ref, "vectors")).select(
        F.col("doc_id").alias("__sid")
    )
    dup = new_df.join(stored_ids, new_df[id_col] == stored_ids["__sid"]).take(1)
    if dup:
        raise ValueError(
            f"ivf_index_append: id {dup[0][id_col]} already indexed — the "
            "index is append-only; rebuild to replace vectors"
        )
    un = _unit_frame(new_df, id_col, features_col)
    # lineage reads the artifacts being appended to — materialize first
    # (see neardup_index.minhash_index_refresh's write-after-read note)
    ap = _assign_probes(un, C, meta["n_assign"]).localCheckpoint()
    vec = un.select(
        F.col("__id").alias("doc_id"), F.col("__u").alias("u")
    ).localCheckpoint()
    cells = ap.select(
        F.explode(F.slice("probes", 1, meta["n_assign"])).alias("cell"),
        F.col("__id").alias("doc_id"),
    )
    n_new = vec.count()
    write_table(vec, _ivf_sub_ref(ref, "vectors"), mode="append")
    write_table(cells, _ivf_sub_ref(ref, "cells"), mode="append")
    return {"n_new_vectors": int(n_new)}

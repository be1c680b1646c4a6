"""Distributed connected components — Layer 4 (merge application).

The reference applies CONFIRMED merge proposals by graph surgery and
re-runs resolve iteratively until no new duplicates appear
(/root/reference/src/sift_kg/resolve/engine.py:11-137,
/root/reference/README.md "iterative resolution"). Connected components
over the confirmed dup-pair edge list computes exactly that fixpoint —
the transitive closure of iterated apply_merges.

Two paths, one answer: cluster_id = the lexicographically smallest url
of the component (min over a total order: collision-free and
deterministic under any partitioning).

* **Local finish** (every graph the driver can hold). Only docs with a
  confirmed edge appear, so the graph is small next to the corpus. The
  edge list is fetched as Arrow in one job whenever it fits a row budget:
  a quarter of the driver heap, or half of ``spark.driver.maxResultSize``
  if smaller, at ``_BYTES_PER_EDGE``. Urls become dense ids in sorted
  order (Arrow ``unique`` + sort, in C++), so the smallest id is the
  smallest url. Union-find with min-rooted trees (min-hooking plus
  pointer jumping, the local step of BTS, ICDE 2024) labels every node.
  The result goes back to Spark as an Arrow table, which runs no job.
  On 4 cores the local path beat the star rounds at every size
  measured: 1.8-3.7 s vs 11.5 s on the 529k-edge planted-pair graph of
  a 100k-page corpus, 7-10 s vs 15-24 s on 3.7M edges. So the budget is
  set by driver memory alone; a graph just above it pays one discarded
  fetch (3.5-5 s at 3.7M edges) before its star rounds.
* **Star contraction** (graphs above the budget). The alternating
  large-star/small-star rounds of Kiveris et al. ("Connected Components
  in MapReduce and Beyond", SoCC'14): O(log^2 n) rounds whatever the
  diameter. Each phase is one groupBy(min) + one join — no
  ``collect_list``, so a hot node's neighborhood never materializes in
  one task. Its exchanges are sized to the graph by ``repartition``; the
  session conf is never written.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Driver heap one fetched edge may take: its two urls and offsets in the
# Arrow result (90 bytes on the 100k-page corpus), with room for urls of
# ~250 bytes.
_BYTES_PER_EDGE = 512
# Star rounds: ~200k edges per partition keeps tasks meaningful at any
# scale without running a mid-size graph at the cluster's full width.
_EDGES_PER_PARTITION = 200_000


def _local_edge_budget(spark) -> int:
    """Most edges the driver may fetch: a quarter of its heap, or half of
    ``spark.driver.maxResultSize`` (0 = unlimited) if smaller."""
    jvm = spark._jvm
    cap = jvm.java.lang.Runtime.getRuntime().maxMemory() // 4
    max_result = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.driver.maxResultSize", "1g")
    )
    if max_result > 0:
        cap = min(cap, max_result // 2)
    return int(cap // _BYTES_PER_EDGE)


def _min_labels(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Component-min id of every node 0..n-1 of the graph with edges (a, b).

    Min-hooking: each live edge hooks the larger of its two roots under
    the smaller. ``parent[v] <= v`` always holds, so the forest stays
    acyclic and every root is its tree's minimum. Pointer jumping then
    flattens each tree to depth one, so ``parent[a]`` is a root again.
    Each round hooks at least one root under a smaller one, so the loop
    ends.
    """
    parent = np.arange(n)
    while True:
        ra, rb = parent[a], parent[b]
        live = ra != rb
        if not live.any():
            return parent
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand


def _release(checkpointed: DataFrame) -> None:
    """Drop the cached blocks behind a ``localCheckpoint`` frame."""
    checkpointed._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _star_contraction(pairs: DataFrame, max_iterations: int) -> DataFrame:
    """Kiveris et al. alternating large-star/small-star contraction.

    Input: edge list (src, dst). Output: (url, cluster_id =
    component-min url). Converges in O(log^2 n) rounds regardless of
    diameter. Each round's edges are checkpointed, and the round before
    is released once they are; only the last round's blocks stay, owned
    by the returned frame.
    """
    # Orient every edge (hi, lo) with lo < hi: the phase algebra below
    # preserves this invariant (every emitted parent is a neighborhood
    # minimum, hence strictly smaller than its child).
    size = Observation()
    edges = (
        pairs.select(
            F.greatest("src", "dst").alias("hi"), F.least("src", "dst").alias("lo")
        )
        .distinct()
        .observe(size, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    default_parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    parts = max(1, min(default_parts, size.get["n"] // _EDGES_PER_PARTITION + 1))
    prev_sig: tuple[int, int] | None = None
    for _ in range(max_iterations):
        # ---- large-star: for each u, attach every LARGER neighbor v to
        # m(u) = min(neighborhood(u) + {u}).  v > u only happens for
        # edges where u is the lo endpoint, so emit (hi, m(lo)).
        nbr_min = (
            edges.select(F.col("hi").alias("u"), F.col("lo").alias("n"))
            .unionByName(edges.select(F.col("lo").alias("u"), F.col("hi").alias("n")))
            .repartition(parts, "u")
            .groupBy("u")
            .agg(F.min("n").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        large = (
            edges.repartition(parts, "lo")
            .join(nbr_min, F.col("lo") == F.col("u"), "inner")
            .select(F.col("hi"), F.col("m").alias("lo"))
            .filter(F.col("lo") < F.col("hi"))
            .repartition(parts, "hi")
            .distinct()
        )
        # ---- small-star: for each u over its SMALLER neighbors
        # {lo : (u, lo)}: m = min of those; re-attach u and every lo to m.
        small_min = large.groupBy("hi").agg(F.min("lo").alias("m"))
        sig_obs = Observation()
        nxt = (
            large.join(small_min, "hi")
            .filter(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .unionByName(small_min.select("hi", F.col("m").alias("lo")))
            .repartition(parts, "hi")
            .distinct()
            # Convergence signature (edge count, order-free hash fold)
            # rides the checkpoint action — no separate job per round.
            .observe(
                sig_obs,
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("hi", "lo")).alias("h"),
            )
            .localCheckpoint(eager=True)
        )
        _release(edges)
        edges = nxt
        sig = (sig_obs.get["n"], sig_obs.get["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # At the fixpoint every edge is (member, component_min).
    return (
        edges.select(F.col("hi").alias("url"), F.col("lo").alias("cluster_id"))
        .unionByName(
            edges.select(F.col("lo").alias("url"), F.col("lo").alias("cluster_id"))
        )
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    node_col_a: str = "url_a",
    node_col_b: str = "url_b",
) -> DataFrame:
    """Return (url, cluster_id) for every node appearing in ``edges``.

    cluster_id = min url of the connected component. ``max_iterations``
    caps the star rounds of a graph too large to finish on the driver.
    """
    pairs = edges.select(
        F.col(node_col_a).alias("src"), F.col(node_col_b).alias("dst")
    )
    spark = edges.sparkSession
    budget = _local_edge_budget(spark)
    fetched = pairs.limit(budget + 1).toArrow()
    n = fetched.num_rows
    if n > budget:
        del fetched  # the distributed rounds re-read ``pairs``
        return _star_contraction(pairs, max_iterations)
    if n == 0:
        # A JVM-only empty plan: createDataFrame of no rows skips Arrow
        # and would start Python workers just to produce nothing.
        return pairs.select(
            F.col("src").alias("url"), F.col("dst").alias("cluster_id")
        ).limit(0)
    ends = pa.concat_arrays(fetched["src"].chunks + fetched["dst"].chunks)
    urls = pc.unique(ends)
    urls = urls.take(pc.sort_indices(urls))
    ids = pc.index_in(ends, value_set=urls).to_numpy()
    labels = _min_labels(ids[:n], ids[n:], len(urls))
    return spark.createDataFrame(
        pa.table({"url": urls, "cluster_id": urls.take(labels)}),
        "url string, cluster_id string",
    )

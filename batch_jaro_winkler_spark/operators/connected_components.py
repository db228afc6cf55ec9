"""Connected components over the verified-edge graph → cluster ids.

Large-star / small-star alternation (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14 — see PAPERS.md), expressed as pure
DataFrame self-joins + aggregations so Catalyst/AQE own the physical plan:

* large-star: for every node u, link every *strictly larger* neighbor to
  the minimum of u's closed neighborhood;
* small-star: for every node u, link every *smaller-or-equal* neighbor
  (and u itself) to that minimum.

Converges in O(log n) rounds; near-dup web clusters are shallow so it
typically stops in 3-5.  Each round ends with ``localCheckpoint`` — an
iterative self-join otherwise compounds the lineage until driver planning
time dominates (SURVEY.md §7 hard parts).  Convergence is detected by an
edge-checksum fixpoint (count + xxhash sum), one cheap aggregate per round.

Output: (doc_id, cluster_id) where cluster_id = min(doc_id) of the
component, for every doc of ``all_nodes`` (singletons included).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from batch_jaro_winkler_spark.operators.config import DedupConfig

__all__ = ["connected_components"]


def _canon(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (hi, lo) with hi > lo, distinct."""
    return (
        edges.select(
            F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo")
        )
        .where(F.col("hi") != F.col("lo"))
        .distinct()
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(hi, lo))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
        edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    )
    mins = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # edges are (hi, lo), hi > lo: group by hi, attach all lo's (and hi) to
    # the neighborhood minimum
    mins = edges.groupBy("hi").agg(F.min("lo").alias("m"))
    linked = edges.join(mins, "hi")
    lo_links = linked.select(F.col("lo").alias("a"), F.col("m").alias("b"))
    hi_links = mins.select(F.col("hi").alias("a"), F.col("m").alias("b"))
    return lo_links.union(hi_links)


def _local_union_find(hi, lo):
    """Driver-side union-find, vectorized: dense-rank the node ids, then
    alternate full pointer-jumping (path compression to roots) with
    min-label linking over the edge list until fixpoint — O(log n)
    vectorized rounds, no per-edge Python loop (a dict-based UF costs
    ~10 s of single-threaded driver time at 2M edges; this is ~0.3 s).
    Returns (nodes, roots) in the original id space, one row for EVERY
    node seen, roots included — consistent with the distributed star
    path, which also emits root self-assignments.  Roots are component
    minima, same as the star rounds."""
    import numpy as np

    hi = np.asarray(hi, dtype=np.int64)
    lo = np.asarray(lo, dtype=np.int64)
    nodes = np.unique(np.concatenate([hi, lo]))
    a = np.searchsorted(nodes, hi)
    b = np.searchsorted(nodes, lo)
    parent = np.arange(len(nodes), dtype=np.int64)
    while True:
        while True:  # compress every path to its current root
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp
        ra, rb = parent[a], parent[b]
        lo_r = np.minimum(ra, rb)
        hi_r = np.maximum(ra, rb)
        diff = lo_r != hi_r
        if not diff.any():
            break
        np.minimum.at(parent, hi_r[diff], lo_r[diff])
        # resolved edges stay resolved (labels only decrease): each round
        # works the shrinking frontier, so the scatter-min cost collapses
        # after the first round on clique-heavy dedup graphs
        a, b = a[diff], b[diff]
    return nodes, nodes[parent]


def connected_components(
    edges: DataFrame,
    cfg: DedupConfig | None = None,
    *,
    all_nodes: DataFrame,
    local_threshold: int = 8_000_000,
) -> DataFrame:
    """edges[a, b] → (doc_id, cluster_id) for every doc of ``all_nodes``.

    Hybrid execution: the distributed star rounds exist for edge sets that
    cannot fit one machine; when the (deduplicated) edge list is below
    ``local_threshold`` it is collected and finished with driver-side
    union-find in one job — the standard endgame for iterative graph
    algorithms, avoiding 10+ scheduling rounds on a tiny remainder.

    ``all_nodes`` (one ``doc_id`` column) must cover every edge endpoint
    (the pipeline's docs table always does); docs without an edge get
    cluster_id = doc_id, so the output is a total cluster assignment.  The
    local endgame emits it as ONE narrow map over ``all_nodes`` with the
    union-find result as a broadcast variable, instead of shipping a
    driver DataFrame out and hash-building it back for an anti-join.
    """
    max_iters = (cfg or DedupConfig()).cc_max_iters
    # lazy checkpoint + count: the count action materializes the
    # checkpoint blocks, so the threshold gate costs ONE job, not two
    cur = _canon(edges).localCheckpoint(eager=False)
    n_edges = cur.count()
    if n_edges <= local_threshold:
        # Arrow fetch, both directions: toPandas() lands the edge list as
        # two int64 numpy columns (~128 MB at the 8M-edge threshold —
        # nothing next to the 48g driver heap; a row-wise collect() builds
        # millions of py4j Row objects and costs tens of driver seconds)
        import numpy as np
        import pandas as pd

        epdf = cur.toPandas()
        if len(epdf):
            nodes, roots = _local_union_find(
                epdf["hi"].to_numpy(), epdf["lo"].to_numpy()
            )
        else:
            nodes = roots = np.empty(0, dtype=np.int64)
        # nodes is sorted (np.unique): membership + root lookup are
        # vectorized binary searches inside a narrow map — the write
        # stays as wide as all_nodes' partitioning, no driver
        # round-trip, no broadcast-hash build of a million-key table
        b = cur.sparkSession.sparkContext.broadcast((nodes, roots))

        def assign_map(batches):
            nd, rt = b.value
            for pdf in batches:
                ids = pdf["doc_id"].to_numpy(np.int64)
                if len(nd):
                    j = np.searchsorted(nd, ids)
                    j = np.minimum(j, len(nd) - 1)
                    hit = nd[j] == ids
                    cl = np.where(hit, rt[j], ids)
                else:
                    cl = ids
                yield pd.DataFrame({"doc_id": ids, "cluster_id": cl})

        return all_nodes.select(
            F.col(all_nodes.columns[0]).cast("long").alias("doc_id")
        ).mapInPandas(assign_map, "doc_id long, cluster_id long")
    prev_sig = _checksum(cur)
    for _ in range(max_iters):
        cur = _canon(_small_star(_canon(_large_star(cur)))).localCheckpoint(eager=True)
        sig = _checksum(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        # rounds ran out before the checksum repeated: the edges are a star
        # forest only if no lo is also a hi
        if cur.select(F.col("lo").alias("hi")).join(cur, "hi", "left_semi").take(1):
            raise RuntimeError(
                f"connected_components did not converge in cc_max_iters="
                f"{max_iters} star rounds; raise cc_max_iters"
            )

    # fixpoint of star rounds is a forest of depth-1 stars: hi -> root(lo)
    members = cur.select(F.col("hi").alias("doc_id"), F.col("lo").alias("cluster_id"))
    roots = cur.select(F.col("lo").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    assign = members.union(roots)
    singletons = (
        all_nodes.select(F.col(all_nodes.columns[0]).alias("doc_id"))
        .join(assign.select("doc_id"), "doc_id", "left_anti")
        .withColumn("cluster_id", F.col("doc_id"))
    )
    return assign.union(singletons)

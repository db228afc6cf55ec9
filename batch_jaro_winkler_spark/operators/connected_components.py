"""Connected components over the verified-edge graph → cluster ids.

Large-star / small-star alternation (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14 — see PAPERS.md), expressed as DataFrame
window passes so Catalyst/AQE own the physical plan.  Each star step is ONE
window over the canonical ``(hi, lo)`` edge list — the neighborhood minimum
rides on every edge row, so no step builds a ``min`` aggregate and joins it
back:

* large-star: over the symmetric list ``(u, v)``, ``m = least(min(v) over
  u, u)``; every *strictly larger* neighbor ``v > u`` links to ``m``;
* small-star: ``m = min(lo) over hi``; every row links both ``lo`` and
  ``hi`` to ``m`` (one explode of a two-element array).

A window's partition buffer spills to disk past
``spark.sql.windowExec.buffer.spill.threshold`` rows, so a hub node's whole
neighborhood never has to fit one row (a ``collect_set`` per node would).

Converges in O(log n) rounds; near-dup web clusters are shallow so it
typically stops in 3-5.  Each round ends in a lazy ``localCheckpoint`` that
the round's edge-checksum job (count + xxhash xor) fills — an iterative
plan otherwise compounds its lineage until driver planning time dominates
(SURVEY.md §7 hard parts) — and the rounds stop at the checksum fixpoint.

Output: (doc_id, cluster_id) where cluster_id = min(doc_id) of the
component, exactly one row per row of ``all_nodes`` (singletons included).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

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
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    return (
        edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        .union(edges.select(F.col("lo").alias("u"), F.col("hi").alias("v")))
        .select("u", "v", m.alias("m"))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # a union of two projections would run the window twice
    m = F.min("lo").over(Window.partitionBy("hi"))
    return edges.select("hi", "lo", m.alias("b")).select(
        F.explode(F.array("lo", "hi")).alias("a"), "b"
    )


def _local_union_find(hi, lo):
    """Driver-side union-find, vectorized: dense-rank the node ids, then
    alternate full pointer-jumping (path compression to roots) with
    min-label linking over the edge list until fixpoint — O(log n)
    vectorized rounds, no per-edge Python loop (a dict-based UF costs
    ~10 s of single-threaded driver time at 2M edges; this is ~0.3 s).
    The two id arrays may hold either orientation, duplicate edges and
    self-loops.  Returns (nodes, roots) in the original id space, one row
    for EVERY node seen, roots included.  Roots are component minima, same
    as the star rounds."""
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
    """edges[a, b] → (doc_id, cluster_id), one row per row of ``all_nodes``.

    Hybrid execution: the distributed star rounds exist for edge sets that
    cannot fit one machine.  When the edge list has at most
    ``local_threshold`` ROWS (raw rows: duplicates, self-loops and either
    orientation count and are tolerated) it is collected and finished with
    driver-side union-find — the standard endgame for iterative graph
    algorithms, avoiding 10+ scheduling rounds on a tiny remainder.

    ``all_nodes`` (one ``doc_id`` column) is the set of docs to assign:
    a doc without an edge gets cluster_id = doc_id, an edge endpoint it
    does not list gets no row, and a repeated row is repeated.  The local
    endgame emits the assignment as ONE narrow map over ``all_nodes`` with
    the union-find result as a broadcast variable; the star path ends in
    one left join of ``all_nodes`` to its star forest ``hi → lo``.
    """
    max_iters = (cfg or DedupConfig()).cc_max_iters
    nodes = all_nodes.select(F.col(all_nodes.columns[0]).cast("long").alias("doc_id"))
    edges = edges.select("a", "b")
    # gate on a count, not limit(n + 1): CollectLimit funnels up to n rows
    # per partition through one task
    if edges.count() <= local_threshold:
        # Arrow fetch: toPandas() lands the edge list as two int64 numpy
        # columns (~128 MB at the 8M-edge threshold — nothing next to the
        # 48g driver heap; a row-wise collect() builds millions of py4j Row
        # objects and costs tens of driver seconds)
        import numpy as np
        import pandas as pd

        epdf = edges.toPandas()
        nd, rt = _local_union_find(epdf["a"].to_numpy(), epdf["b"].to_numpy())
        # nd is sorted (np.unique): membership + root lookup are
        # vectorized binary searches inside a narrow map — the write
        # stays as wide as all_nodes' partitioning, no driver
        # round-trip, no broadcast-hash build of a million-key table
        b = edges.sparkSession.sparkContext.broadcast((nd, rt))

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

        return nodes.mapInPandas(assign_map, "doc_id long, cluster_id long")

    cur = _canon(edges).localCheckpoint(eager=False)
    prev_sig = _checksum(cur)
    for _ in range(max_iters):
        cur = _canon(_small_star(_canon(_large_star(cur)))).localCheckpoint(eager=False)
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

    # fixpoint of star rounds is a forest of depth-1 stars: hi -> root(lo);
    # roots and edgeless docs are not a hi, so they keep their own id
    forest = cur.select(F.col("hi").alias("doc_id"), F.col("lo").alias("cluster_id"))
    return nodes.join(forest, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )

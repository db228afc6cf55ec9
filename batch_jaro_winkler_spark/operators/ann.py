"""Similarity search over embedding columns (array<float>).

* :func:`cosine_topk_bruteforce` — exact top-k by cosine, entirely JVM-side
  (``zip_with``/``aggregate`` dot products + window top-k).  The baseline
  and the oracle-checkable path.
* :func:`cosine_topk_ivf` — the scale top-k path: inverted lists by
  nearest centroid, each probe searches its ``n_probe`` nearest cells with
  an exact re-rank.
* :func:`embedding_dup_pairs_lsh` — near-dup pairs: random-hyperplane LSH
  (sign of projections → bucket key, several independent tables), pairs
  generated per bucket by ``lsh.bucket_pairs``, then an exact cosine
  re-rank.  At 10^12 rows the brute-force cross join is impossible;
  hyperplane LSH keeps the join selective while the re-rank keeps
  precision.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from batch_jaro_winkler_spark.functions.vectors import cosine, dot, l2_norm
from batch_jaro_winkler_spark.operators.config import DedupConfig
from batch_jaro_winkler_spark.operators.lsh import bucket_pairs
from batch_jaro_winkler_spark.operators.partitioning import widen_scan

__all__ = [
    "cosine_topk_bruteforce",
    "cosine_topk_ivf",
    "embedding_dup_pairs_lsh",
    "bucket_key_arrays",
    "ivf_assign",
]

_SEED = 42  # hyperplane RNG seed
# buckets above this size are salted and chained by lsh.bucket_pairs
_BUCKET_CAP = 100_000
_TARGET_BUCKET = 64  # rows per bucket the auto-sized plane count aims at
# cosine_topk_ivf broadcasts its probe side to every corpus partition
_MAX_PROBES = 1_000_000


def cosine_topk_bruteforce(
    probes: DataFrame,
    corpus: DataFrame,
    k: int,
) -> DataFrame:
    """probes[probe_id, probe_vec] x corpus[vec_id, embedding] → exact
    per-probe top-k (probe_id, vec_id, cos, rank): broadcast the (small)
    probe side across the corpus, JVM-side cosine, window top-k with
    deterministic tie-break."""
    crossed = corpus.join(F.broadcast(probes))
    scored = crossed.select(
        "probe_id",
        "vec_id",
        cosine(F.col("probe_vec"), F.col("embedding")).alias("cos"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe_id", "vec_id", "cos", "rank")
    )


def bucket_key_arrays(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int = 12,
    n_tables: int = 4,
) -> DataFrame:
    """→ (id_col, buckets array<long> of length ``n_tables``): per table,
    the sign pattern of ``n_planes`` random projections (planes drawn from
    ``_SEED``) as a bucket key.  One vectorized matmul per Arrow batch and
    no n_tables× row expansion: each vector crosses the Arrow boundary
    once and never leaves Python, so the n_tables memberships cost one
    small array column instead of n_tables copies of the embedding (guide
    §2.3: shuffle keys, not payloads)."""
    rng = np.random.default_rng(_SEED)
    planes = rng.standard_normal((n_tables, n_planes, dim)).astype(np.float32)
    weights = (np.uint64(1) << np.arange(n_planes, dtype=np.uint64))

    def keys(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:  # np.stack raises on an empty Arrow batch
                continue
            mat = np.stack(pdf[vec_col].to_numpy())  # (n, dim)
            cols = np.empty((len(pdf), n_tables), dtype=np.int64)
            for t in range(n_tables):
                signs = (mat @ planes[t].T) > 0  # (n, n_planes)
                cols[:, t] = (
                    (signs.astype(np.uint64) * weights).sum(axis=1).view(np.int64)
                )
            yield pd.DataFrame({id_col: pdf[id_col], "buckets": list(cols)})

    # preserve the caller's id type
    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, vec_col).mapInPandas(
        keys, schema=f"{id_col} {id_type}, buckets array<long>"
    )


def embedding_dup_pairs_lsh(
    corpus: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int | None = None,
    n_tables: int = 8,
) -> DataFrame:
    """corpus[vec_id, embedding] → (a, b, cos) embedding near-dup pairs
    with cosine >= threshold, candidate generation restricted to
    hyperplane-LSH bucket co-members — the scale path that replaces the
    O(n²) all-pairs cross join.

    Join work per table is Σ bucket_size², so ``n_planes`` sizes the
    buckets (≈ n/2^planes rows each) and ``n_tables`` buys recall:
    per-table collision p = (1 - θ/π)^planes, overall 1-(1-p)^tables.
    ``n_planes=None`` (default) auto-sizes to ⌈log2(n / _TARGET_BUCKET)⌉
    — a fixed plane count tuned at one corpus size grows the per-bucket
    join quadratically at the next (one count job pays for it).  More
    planes trade recall at LOW thresholds for bounded join work; in the
    true near-dup regime (cos ≥ 0.9) recall stays high (see the pytest
    gate).  Pairs come from ``lsh.bucket_pairs``: buckets of at most
    ``_BUCKET_CAP`` members emit all pairs, larger ones (duplicate-constant
    embeddings) are salted by an id hash and chained, so a runaway bucket
    costs linear work and still yields a connected pair set instead of
    being dropped.

    Plan shape (optimization round 7, guide §2.3/§8 "shuffle keys, not
    payloads"): bucket memberships are (id, table, bucket) rows from ONE
    array-typed mapInPandas pass — the embedding itself never enters the
    pair-generation joins or the cross-table dedup, which previously
    shuffled and sort-aggregated two 64-float vectors per candidate pair.
    Vectors are re-attached per UNIQUE surviving pair by two equi-joins
    against the corpus (Catalyst broadcasts the corpus side when small),
    and the L2 norms are computed once per vector instead of once per
    pair — bit-identical cosine (same dot / norm expression trees)."""
    if n_planes is None:
        import math

        n = corpus.count()
        n_planes = min(24, max(4, math.ceil(math.log2(max(n, 1) / _TARGET_BUCKET + 1))))
    src = widen_scan(corpus.select("vec_id", "embedding"))
    # memberships: ids + bucket keys only, lazily checkpointed so the
    # sizes aggregate and the self-join share ONE bucketize pass instead
    # of recomputing the Python stage per consumer (4 scans before)
    m = (
        bucket_key_arrays(src, "vec_id", "embedding", dim, n_planes, n_tables)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.posexplode("buckets").alias("table_id", "bucket"),
        )
        .localCheckpoint(eager=False)
    )
    cand = (
        bucket_pairs(
            m,
            ["table_id", "bucket"],
            _BUCKET_CAP,
            DedupConfig.neighbor_window,
            F.xxhash64(F.col("doc_id")),
        )
        .dropDuplicates(["a", "b"])  # dedupe ACROSS tables: 16-byte rows
    )
    va = corpus.select(
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("va"),
        l2_norm(F.col("embedding")).alias("na"),
    )
    vb = corpus.select(
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("vb"),
        l2_norm(F.col("embedding")).alias("nb"),
    )
    den = F.col("na") * F.col("nb")
    cos = F.when(den > 0, dot(F.col("va"), F.col("vb")) / den).otherwise(F.lit(0.0))
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .select("a", "b", cos.alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def ivf_assign(
    df: DataFrame,
    vec_col: str,
    centroids: np.ndarray,
    n_probe: int = 1,
) -> DataFrame:
    """Append the ``n_probe`` nearest-centroid cell ids per row (one output
    row per (row, cell)).  ``centroids`` must be L2-normalized; nearness is
    by cosine, computed as one matmul per Arrow batch — no shuffle, no
    per-row Python."""
    cn = np.ascontiguousarray(centroids, dtype=np.float32)
    cols = df.columns

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:  # np.stack raises on an empty Arrow batch
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
            sims = mat @ cn.T  # |v| is constant per row → argmax == cosine
            if n_probe == 1:
                cells = sims.argmax(axis=1)[:, None]
            else:
                p = min(n_probe, sims.shape[1])
                cells = np.argpartition(-sims, p - 1, axis=1)[:, :p]
            reps = cells.shape[1]
            out = pdf.loc[pdf.index.repeat(reps)].reset_index(drop=True)
            out["cell"] = cells.reshape(-1).astype(np.int32)
            yield out

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    return df.mapInPandas(assign, schema=schema + ", cell int")


def cosine_topk_ivf(
    probes: DataFrame,
    corpus: DataFrame,
    k: int,
    n_centroids: int = 64,
    n_probe: int = 8,
    rank_round: int | None = None,
) -> DataFrame:
    """probes[probe_id, probe_vec] x corpus[vec_id, embedding] → IVF
    approximate top-k (probe_id, vec_id, cos, rank): corpus vectors are
    bucketed into inverted lists by nearest centroid (one cell per
    vector); each probe searches its ``n_probe`` nearest cells with an
    exact cosine re-rank.

    Centroids are a deterministic hash-ordered sample of corpus vectors
    (collected once — n_centroids × dim floats, trivially broadcastable);
    a k-means refinement would slot in here at scale without changing the
    plan shape.  Join work per probe ≈ corpus × n_probe / n_centroids,
    the classic IVF trade (vs hyperplane LSH's table/plane dials)."""
    sample = (
        corpus.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id")))
        .limit(n_centroids)
        .collect()
    )
    cents = np.stack([np.asarray(r["embedding"], dtype=np.float32) for r in sample])
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    # guard scans at most _MAX_PROBES+1 rows instead of counting the full
    # probe lineage eagerly
    if probes.limit(_MAX_PROBES + 1).count() > _MAX_PROBES:
        raise ValueError(
            f"cosine_topk_ivf probe set exceeds {_MAX_PROBES} probes; "
            "the probe side is broadcast to every corpus partition — split "
            f"the probes into batches of at most {_MAX_PROBES}"
        )
    cb = ivf_assign(
        widen_scan(corpus.select("vec_id", "embedding")), "embedding", cents, n_probe=1
    )
    pb = ivf_assign(
        probes.select("probe_id", "probe_vec"), "probe_vec", cents, n_probe=n_probe
    )
    cand = (
        cb.join(F.broadcast(pb), "cell")
        .select("probe_id", "vec_id", "probe_vec", "embedding")
        .dropDuplicates(["probe_id", "vec_id"])
    )
    scored = cand.select(
        "probe_id",
        "vec_id",
        cosine(F.col("probe_vec"), F.col("embedding")).alias("cos"),
    )
    # rank_round: rank by the rounded cosine (id tie-break) so the ordering
    # is reproducible across engines — float ranking at full precision is
    # not a stable cross-engine contract
    rank_key = F.round("cos", rank_round) if rank_round is not None else F.col("cos")
    w = Window.partitionBy("probe_id").orderBy(F.desc(rank_key), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe_id", "vec_id", "cos", "rank")
    )


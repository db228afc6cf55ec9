"""LSH banding → candidate-pair generation (the only big shuffle in the
dedup pipeline, so this is where the scale design concentrates).

Scale design (SURVEY.md §7 step 5, R8):

* ``posexplode`` the per-doc band-hash array → (band_id, band_hash, doc_id):
  bands× row inflation, but only 3 small columns, all JVM-side.
* :func:`bucket_pairs` turns bucket memberships into pairs.  It is the one
  bucket→pairs operator of the package: LSH band buckets, substring
  fingerprints (``fingerprint_dedup``) and hyperplane buckets over
  embeddings (``ann``) all go through it, so all three share one skew
  policy.  One hash-shuffle on the bucket key; AQE coalesces small
  partitions, and skew is bounded *structurally*: inside each bucket,
  pair generation is capped.  Web-scale buckets follow a power law — a
  bucket of a million near-identical pages must NOT emit 10^12 pairs.
  Buckets up to the cap emit all pairs; larger buckets are split by a salt
  into contiguous ranges of an independent hash order, and each member is
  chained to its next ``window`` neighbors — linear in bucket size while
  keeping the bucket connected, which is all connected-components needs
  for correct clusters.
* pair dedup across bands is a ``groupBy(a, b)`` (map-side partial agg),
  which also yields ``n_bands`` (band-agreement count, a cheap similarity
  prior usable as a pre-verify filter).

The reference analog: a bucket is this engine's 'candidate batch' — the
unit the batched JW kernel compiles one shared index for (SURVEY.md §1
data model row 1).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from batch_jaro_winkler_spark.operators.config import DedupConfig

__all__ = ["band_buckets", "bucket_pairs", "candidate_pairs"]

_SALT_BITS = 4


def band_buckets(signatures: DataFrame) -> DataFrame:
    """signatures → (band_id, band_hash, doc_id, sort_key); empty docs are
    dropped (their sentinel band hashes would otherwise form one giant
    cross-product bucket)."""
    return (
        signatures.where(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "sort_key",
            F.posexplode("band_hashes").alias("band_id", "band_hash"),
        )
        .select("band_id", "band_hash", "doc_id", "sort_key")
    )


def bucket_pairs(
    members: DataFrame,
    keys: list[str],
    cap: int,
    window: int,
    order: Column,
    payload: tuple[str, ...] = (),
) -> DataFrame:
    """members[*keys, doc_id, *payload] → (a, b, {p}_a, {p}_b per payload
    column) with a < b, one row per pair per shared bucket (callers dedup
    across buckets).

    Two-path pair generation sized for web-scale bucket skew:

    * buckets with 2..cap members (the overwhelming majority) pair via a
      JVM self-equi-join on the bucket key — whole-stage codegen, no
      Python; output is quadratic per bucket but bounded by the cap;
    * hot buckets (> cap; power-law tail) are salted by the high bits of
      ``order`` (a 64-bit hash, uniform) and go through a grouped-map per
      (bucket, salt) that sorts members by ``order`` and chains each to
      its next ``window`` neighbors, plus one boundary link between
      adjacent salts — linear in bucket size, bucket stays connected.
    """
    keys = list(keys)
    rows = members.select(*keys, "doc_id", order.alias("sort_key"), *payload)

    # the dominant wide shuffle is the bucket-count aggregate (map-side
    # partial agg over small rows); singleton buckets — the overwhelming
    # majority — are dropped BEFORE any join, so the members-of-shared-
    # buckets relation is proportional to actual duplication.  AQE picks
    # broadcast when that side is small and shuffle-join when it isn't.
    counts = rows.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_members")
    ).where(F.col("n_members") >= 2)
    sized = rows.join(counts, keys).localCheckpoint(eager=False)

    chained = ["doc_id", *payload]

    def name(c: str, s: str) -> str:
        """output column of member column ``c`` on pair side ``s``"""
        return s if c == "doc_id" else f"{c}_{s}"

    out_cols = [name(c, s) for c in chained for s in "ab"]

    def side(df: DataFrame, s: str) -> DataFrame:
        return df.select(*keys, *[F.col(c).alias(name(c, s)) for c in chained])

    small = sized.where(F.col("n_members") <= cap)
    small_pairs = (
        side(small, "a").join(side(small, "b"), keys)
        .where(F.col("a") < F.col("b"))
        .select(*out_cols)
    )

    # --- hot buckets: SALTED skew splitting (explicit, north_rule R8) ---
    # A mega-bucket (millions of near-identical pages sharing one key)
    # must neither emit quadratic pairs nor serialize into one task.
    # Salt = the high bits of sort_key, so each salt subgroup is a
    # CONTIGUOUS range of the bucket's sort order: chaining inside
    # subgroups + one boundary link between adjacent salts preserves the
    # bucket's connectivity for connected components while the shuffle key
    # becomes (bucket, salt) — skew bounded by 2^salt_bits.
    hot = sized.where(F.col("n_members") > cap).withColumn(
        "salt",
        F.shiftrightunsigned(F.col("sort_key"), 64 - _SALT_BITS).cast("int"),
    )

    def gen(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # unsigned sort order, consistent with the unsigned salt ranges
        srt = np.lexsort(
            (
                pdf["doc_id"].to_numpy(np.int64),
                pdf["sort_key"].to_numpy(np.int64).view(np.uint64),
            )
        )
        cols = {c: pdf[c].to_numpy()[srt] for c in chained}
        steps = range(1, window + 1)
        head = {c: np.concatenate([v[:-w] for w in steps]) for c, v in cols.items()}
        tail = {c: np.concatenate([v[w:] for w in steps]) for c, v in cols.items()}
        swap = head["doc_id"] > tail["doc_id"]
        keep = head["doc_id"] != tail["doc_id"]
        out = {}
        for c in chained:
            out[name(c, "a")] = np.where(swap, tail[c], head[c])[keep]
            out[name(c, "b")] = np.where(swap, head[c], tail[c])[keep]
        return pd.DataFrame(out)[out_cols]

    hot_pairs = hot.groupBy(*keys, "salt").applyInPandas(
        gen, schema=small_pairs.schema.simpleString()
    )

    # boundary links: adjacent salt subgroups of the same bucket are
    # adjacent sort ranges — link last(s) with first(s+1) (tiny relation:
    # one row per (bucket, salt))
    ends = hot.groupBy(*keys, "salt").agg(
        F.min(F.struct("sort_key", *chained)).alias("first"),
        F.max(F.struct("sort_key", *chained)).alias("last"),
    )
    w_salt = Window.partitionBy(*keys).orderBy("salt")
    links = ends.withColumn("next_first", F.lead("first").over(w_salt)).where(
        F.col("next_first").isNotNull()
        & (F.col("last.doc_id") != F.col("next_first.doc_id"))
    )
    last_is_a = F.col("last.doc_id") < F.col("next_first.doc_id")
    a_end = F.when(last_is_a, F.col("last")).otherwise(F.col("next_first"))
    b_end = F.when(last_is_a, F.col("next_first")).otherwise(F.col("last"))
    boundary = links.select(a_end.alias("a_end"), b_end.alias("b_end")).select(
        *[F.col(f"{s}_end.{c}").alias(name(c, s)) for c in chained for s in "ab"]
    )

    return small_pairs.union(hot_pairs).union(boundary)


def candidate_pairs(buckets: DataFrame, cfg: DedupConfig) -> DataFrame:
    """buckets → distinct (a, b, n_bands) with a < b: :func:`bucket_pairs`
    over the band buckets, hot buckets ordered by the signature-derived
    ``sort_key``; a final groupBy(a, b) dedups across bands and counts
    band agreement (map-side partial aggregation)."""
    pairs = bucket_pairs(
        buckets,
        ["band_id", "band_hash"],
        cfg.allpairs_cap,
        cfg.neighbor_window,
        F.col("sort_key"),
    )
    return pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_bands"))

"""LSH banding → candidate-pair generation (the only big shuffle in the
dedup pipeline, so this is where the scale design concentrates).

Scale design (SURVEY.md §7 step 5, R8):

* ``posexplode`` the per-doc band-hash array → (band_id, band_hash, doc_id):
  bands× row inflation, but only 3 small columns, all JVM-side.
  :func:`pair_keys` explodes a signature row's band hashes and substring
  fingerprints into ONE key relation, so the pipeline pairs both detectors'
  buckets in a single :func:`bucket_pairs` pass and splits the result by
  kind (band rows carry a null ``pos``).
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
  chained to its next ``window`` neighbors by a JVM ``lead`` window —
  linear in bucket size while keeping the bucket connected, which is all
  connected-components needs for correct clusters.  Pair generation runs
  no Python at all.
* pair dedup across bands is a ``groupBy(a, b)`` (map-side partial agg),
  which also yields ``n_bands`` (band-agreement count, a cheap similarity
  prior usable as a pre-verify filter).

The reference analog: a bucket is this engine's 'candidate batch' — the
unit the batched JW kernel compiles one shared index for (SURVEY.md §1
data model row 1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from batch_jaro_winkler_spark.operators.config import DedupConfig

__all__ = ["band_buckets", "bucket_pairs", "candidate_pairs", "pair_keys"]

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


def pair_keys(signatures: DataFrame) -> DataFrame:
    """signatures[doc_id, n_tokens, sort_key, band_hashes, fps, fp_pos] →
    (k1, k2, doc_id, sort_key, pos): the buckets of both detectors as one
    :func:`bucket_pairs` input.  A band row is (band_id, band_hash) with
    the signature ``sort_key`` and a null ``pos``; a fingerprint row is
    (-1, fp) ordered by ``xxhash64(doc_id)`` with its char offset — the
    rows :func:`~.fingerprint_dedup.fingerprints` emits, exploded JVM-side
    from the columns ``compute_signatures(include_norm=True)`` stores."""
    bands = band_buckets(signatures).withColumnsRenamed({"band_id": "k1", "band_hash": "k2"})
    fps = signatures.select(
        F.lit(-1).alias("k1"), "doc_id", F.xxhash64("doc_id").alias("sort_key"),
        F.inline(F.arrays_zip("fps", "fp_pos")).alias("k2", "pos"),
    )
    return bands.withColumn("pos", F.lit(None).cast("int")).unionByName(fps)


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
      ``order`` (a 64-bit hash, uniform); a window per (bucket, salt)
      sorted by ``order`` chains each member to its next ``window``
      neighbors (``lead``), plus one boundary link between adjacent
      salts — linear in bucket size, bucket stays connected, all JVM.
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

    # chain links: each member to its next ``window`` members of the same
    # (bucket, salt) in (sort_key, doc_id, *payload) order — the order of
    # the ``ends`` min/max structs below.  Within one salt the top
    # _SALT_BITS of sort_key are equal, so the signed order is the
    # unsigned one the salt ranges follow.  The lead array is built in one
    # select and exploded in the next: Spark allows no window function
    # inside a generator.
    node = F.struct("sort_key", *chained)
    w_member = Window.partitionBy(*keys, "salt").orderBy("sort_key", *chained)
    chain = hot.select(
        node.alias("u"),
        F.array(
            *[F.lead(node, i).over(w_member) for i in range(1, window + 1)]
        ).alias("vs"),
    ).select("u", F.explode("vs").alias("v"))

    # boundary links: adjacent salt subgroups of the same bucket are
    # adjacent sort ranges — link last(s) with first(s+1) (tiny relation:
    # one row per (bucket, salt))
    ends = hot.groupBy(*keys, "salt").agg(
        F.min(node).alias("first"),
        F.max(node).alias("last"),
    )
    w_salt = Window.partitionBy(*keys).orderBy("salt")
    boundary = ends.select(
        F.col("last").alias("u"), F.lead("first").over(w_salt).alias("v")
    )

    links = chain.union(boundary).where(
        F.col("v").isNotNull() & (F.col("u.doc_id") != F.col("v.doc_id"))
    )
    u_is_a = F.col("u.doc_id") < F.col("v.doc_id")
    a_end = F.when(u_is_a, F.col("u")).otherwise(F.col("v"))
    b_end = F.when(u_is_a, F.col("v")).otherwise(F.col("u"))
    hot_pairs = links.select(a_end.alias("a_end"), b_end.alias("b_end")).select(
        *[F.col(f"{s}_end.{c}").alias(name(c, s)) for c in chained for s in "ab"]
    )

    return small_pairs.union(hot_pairs)


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

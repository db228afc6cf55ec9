"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship end-to-end dedup pipeline on sf0.001.
``queries()`` exposes one callable per implemented operator family
(SURVEY.md §2); ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL.
Spark expressions and oracle SQL are generated from the same constants in
``batch_jaro_winkler_spark.functions`` wherever possible, so the two sides
cannot drift.  Float-valued outputs are rounded (4-6 dp) on BOTH sides;
ranks/top-k order by the rounded value with an id tie-break so ordering is
engine-independent.
"""

from __future__ import annotations

import struct
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from batch_jaro_winkler_spark import multimodal as MM
from batch_jaro_winkler_spark.functions import hashing as H
from batch_jaro_winkler_spark.functions import text as TX
from batch_jaro_winkler_spark.functions import vectors as V

# widen_scan only where the output is partitioning-independent: aggregates,
# joins, full-ranking windows with value+id orderings — never a truncating
# per-batch top-k
from batch_jaro_winkler_spark.operators.partitioning import widen_scan

# ---------------------------------------------------------------- helpers

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_JW_PROBE_N = 20       # probes for jw_topk (doc_id < N)
_JW_PREFIX = 48        # normalized-prefix length scored by jw_topk
_JWP_N = 120           # docs in the jw_pairs cross set
_JWP_PREFIX = 40
_JAC_N = 150           # docs in the ngram-jaccard pair query
_MINHASH_K = 16        # md5-minhash permutations (verifiable variant)
_MINHASH_BANDS = 4
_FP_PREFIX = 400       # chars of normalized text fingerprinted
_FP_GRAM = 8
_SUB_N = 80            # docs in the exact-substring suffix-array query
_SUB_RAW_N = 60        # ... of which this many are raw (overlap-free) docs
_SUB_PREFIX = 600      # raw chars sliced before normalization
_SUB_MINLEN = 200      # verbatim normalized-substring threshold
_SUB_DONORS = (100, 110, 120, 130)  # donor ids for the planted copies
_SUB_DONOR_LEN = 450   # raw chars each planted copy shares verbatim


def _norm_prefix(col, n):
    return F.substring(TX.normalize_text(col), 1, n)


def _norm_prefix_sql(expr, n):
    return f"substr({TX.normalize_sql(expr)}, 1, {n})"


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the end-to-end near-dup pipeline (MinHash → LSH → batched
    Jaro-Winkler verification → substring stage → connected components) on
    the sf0.001 documents table → total (doc_id, cluster_id, cluster_size)
    assignment."""
    from batch_jaro_winkler_spark.operators.config import DedupConfig
    from batch_jaro_winkler_spark.pipeline import DedupPipeline

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    pipe = DedupPipeline(spark, DedupConfig(), tempfile.mkdtemp(prefix="bjws_entry_"))
    clusters = pipe.run(docs, "doc_id", "text")
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return clusters.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    )


# ---------------------------------------------------------------- queries

def _rel_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # money math in exact integer cents/basis-points: double->decimal casts
    # round differently across engines at midpoints, integer arithmetic
    # cannot (prices are 2dp, discounts 2dp)
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_bp = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            (F.sum(cents) / 100.0).alias("sum_base_price"),
            (F.sum(cents * (100 - disc_bp)) / 10000.0).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _rel_top_orders_per_cust(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank")
    )


def _rel_nation_revenue(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def _rel_parts_never_ordered(spark, sf_dir):
    p = _t(spark, sf_dir, "part").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey")
    )
    return p.exceptAll(p.join(li, "p_partkey", "left_semi"))


def _rel_top10_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", F.col("o_totalprice").alias("totalprice"))
    )


def _rel_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


def _rel_running_window(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_suppkey") < 20)
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum("l_quantity").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("running_qty"),
        F.coalesce(F.lag("l_quantity").over(w), F.lit(-1.0)).alias("prev_qty"),
        F.rank().over(w).alias("rnk"),
    )


def _rel_intersect(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    first = o.where(F.col("o_orderdate") < "1995-01-01").select("o_custkey")
    second = o.where(F.col("o_orderdate") >= "1997-01-01").select("o_custkey")
    return first.intersect(second)


def _dedup_exact(spark, sf_dir):
    from batch_jaro_winkler_spark.operators.exact_dedup import exact_dup_groups

    docs = _t(spark, sf_dir, "documents")
    return exact_dup_groups(docs).select("doc_id", "rep_id")


def _dedup_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < _JAC_N)
    sh = docs.select(
        "doc_id",
        F.array_distinct(TX.word_shingles(TX.tokens(F.col("text")), 3)).alias("sh"),
    ).where(F.size("sh") > 0)
    a = sh.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b"))
    pairs = a.join(b, F.col("a") < F.col("b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    return (
        pairs.select("a", "b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= 0.5)
    )


def _dedup_minhash_lsh(spark, sf_dir):
    """Verifiable md5-MinHash + LSH banding: pairs agreeing on >=1 of
    4 bands (4 rows each, k=16).  The scale pipeline uses the fast
    multiply-shift variant (operators/signatures.py, rows-only query)."""
    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.array_distinct(TX.word_shingles(TX.tokens(F.col("text")), 3)).alias("sh"),
    ).where(F.size("sh") > 0)
    sig = sh.select("doc_id", H.minhash_md5(F.col("sh"), _MINHASH_K).alias("sig"))
    r = _MINHASH_K // _MINHASH_BANDS
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "-", *[F.col("sig").getItem(i * r + j).cast("string") for j in range(r)]
                    )
                    for i in range(_MINHASH_BANDS)
                ]
            )
        ).alias("band_id", "band_key"),
    )
    left = bands.select("band_id", "band_key", F.col("doc_id").alias("a"))
    right = bands.select("band_id", "band_key", F.col("doc_id").alias("b"))
    return (
        left.join(right, ["band_id", "band_key"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def _dedup_simhash32(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tok = TX.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.when(F.size(tok) > 0, H.simhash_md5(tok)).otherwise(F.lit(0)).alias("simhash32"),
    )


def _text_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    m = TX.quality_metrics(F.col("text"))
    return docs.select(
        "doc_id",
        m["n_chars"].alias("n_chars"),
        m["n_tokens"].alias("n_tokens"),
        F.round(m["mean_token_len"], 6).alias("mean_token_len"),
        F.round(m["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(m["stopword_ratio"], 6).alias("stopword_ratio"),
    )


def _text_langid(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.lang_guess(F.col("text")).alias("lang_pred"))


def _doc_fingerprint(spark, sf_dir):
    """Winnowing-style fingerprint (verifiable variant): min md5-hash over
    all 8-char grams of the normalized prefix — the SQL-expressible analog
    of operators/fingerprint_dedup.py's rolling-hash winnowing."""
    docs = _t(spark, sf_dir, "documents")
    norm = _norm_prefix(F.col("text"), _FP_PREFIX)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - F.lit(_FP_GRAM - 1), F.lit(1))),
        lambda i: H.md5_u60(F.substring(norm, i, _FP_GRAM)),
    )
    return docs.select("doc_id", F.array_min(grams).alias("fingerprint"))


def _jw_topk(spark, sf_dir):
    """Top-5 Jaro-Winkler candidates per probe doc over the whole corpus,
    through the batched kernel (reference semantics, float64 to match the
    DuckDB oracle); rank on (rounded score desc, cand_id asc)."""
    import numpy as np

    from batch_jaro_winkler_spark.operators.score_pairs import score_topk

    # No widen_scan: score_topk spreads the candidates over its own
    # (chunk, probe shard) cells whatever the scan's split count.  k=None
    # ("all matches >= min_score") emits a partitioning-independent pair
    # set, and the final rank is a deterministic (rounded score, cand_id)
    # window here.
    #
    # cand_transform fuses the candidate normalization into the kernel's
    # Arrow pass (optimization round 7): the java.util.regex projection
    # cost ~2.4 s at 50k docs even parallelized; normalize_pandas is the
    # byte-identical twin (same pattern, proven equivalent against the
    # DuckDB oracle by every hash-green signature-stage query).  The
    # 20-row probe branch keeps the JVM expression.
    from batch_jaro_winkler_spark.functions.text import normalize_pandas

    docs = _t(spark, sf_dir, "documents")
    probes = docs.where(F.col("doc_id") < _JW_PROBE_N).select(
        F.col("doc_id").alias("probe_id"),
        _norm_prefix(F.col("text"), _JW_PREFIX).alias("probe_text"),
    )
    cands = docs.select(
        F.col("doc_id").alias("cand_id"),
        F.col("text").alias("cand_text"),
    )
    scored = score_topk(
        probes, cands, k=None, weight=0.1, threshold=0.7,
        min_score=0.5, dtype=np.float64,
        cand_transform=lambda s: normalize_pandas(s).str.slice(0, _JW_PREFIX),
    ).select("probe_id", "cand_id", F.round("score", 4).alias("score_r"))
    w = Window.partitionBy("probe_id").orderBy(F.desc("score_r"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
    )


def _jw_topk10(spark, sf_dir):
    """Small-k twin of jw_topk (VERDICT_r2 #10): k=10 exercises the
    reference's adaptive n_best min_score LADDER inside the kernel
    (c:788-816 — jw_topk's k=None all-matches mode deliberately bypasses
    it).  Its candidates need no widen_scan: score_topk places them in its
    own cells, and each cell sorts its chunk by cand_id, so the kernel's
    position tie-break is the global (score, cand_id) rank and no tied
    candidate is dropped under any input partitioning.  Ranking
    by RAW float64 score is hash-safe: the kernel is bit-identical to
    DuckDB's jaro_winkler_similarity (0 diffs over 10k sf0.01 pairs),
    and ties break on cand_id identically on both engines."""
    import numpy as np

    from batch_jaro_winkler_spark.operators.score_pairs import score_topk

    docs = _t(spark, sf_dir, "documents")
    probes = docs.where(F.col("doc_id") < _JW_PROBE_N).select(
        F.col("doc_id").alias("probe_id"),
        _norm_prefix(F.col("text"), _JW_PREFIX).alias("probe_text"),
    )
    cands = docs.select(
        F.col("doc_id").alias("cand_id"),
        _norm_prefix(F.col("text"), _JW_PREFIX).alias("cand_text"),
    )
    scored = score_topk(
        probes, cands, k=10, weight=0.1, threshold=0.7, dtype=np.float64
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("score"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .select("probe_id", "cand_id", F.round("score", 4).alias("score_r"), "rank")
    )


def _jw_pairs(spark, sf_dir):
    """All pairs among the first _JWP_N docs with pure-Jaro >= 0.75 on the
    normalized 40-char prefix (kernel float64) — oracle: DuckDB
    jaro_similarity."""
    import numpy as np

    from batch_jaro_winkler_spark.operators.score_pairs import score_topk

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < _JWP_N)
    probes = docs.select(
        F.col("doc_id").alias("probe_id"),
        _norm_prefix(F.col("text"), _JWP_PREFIX).alias("probe_text"),
    )
    cands = docs.select(
        F.col("doc_id").alias("cand_id"),
        _norm_prefix(F.col("text"), _JWP_PREFIX).alias("cand_text"),
    )
    # k=None: the thresholded pair relation needs no ranking — the old
    # k=500000 paid a full window sort for a rank filter that kept
    # every row (optimization round 7)
    scored = score_topk(
        probes, cands, k=None, weight=None, threshold=None,
        min_score=0.75, dtype=np.float64,
    )
    return (
        scored.where(F.col("probe_id") < F.col("cand_id"))
        .select(
            F.col("probe_id").alias("a"),
            F.col("cand_id").alias("b"),
            F.round("score", 4).alias("score_r"),
        )
    )


def _ann_cosine_topk(spark, sf_dir):
    # widen_scan: the per-element cosine runs on the scan's partitioning
    # (the window exchange comes after it) — one split serializes all of it
    emb = widen_scan(_t(spark, sf_dir, "embeddings"))
    probes = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    scored = emb.join(F.broadcast(probes)).select(
        "probe_id",
        "vec_id",
        F.round(V.cosine(F.col("probe_vec"), F.col("embedding")), 5).alias("cos_r"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_r"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
    )


def _ann_cosine_topk_ivf(spark, sf_dir):
    """IVF approximate top-k (inverted lists by nearest sampled centroid,
    n_probe cells per query, exact cosine re-rank).  Centroid selection
    uses xxhash64 ordering (not SQL-expressible) → rows-only driver check;
    the pytest recall gate (test_ann_ivf_vs_bruteforce) owns correctness."""
    from batch_jaro_winkler_spark.operators.ann import cosine_topk_ivf

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    return cosine_topk_ivf(probes, emb, k=10, n_centroids=32, n_probe=8).select(
        "probe_id", "vec_id", F.round("cos", 5).alias("cos_r"), "rank"
    )


def _events_sessions(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microseconds (a truncating seconds cast would disagree
    # with DuckDB's fractional epoch() near gap boundaries); gap >= 30 min
    # starts a new session — matching Spark session_window's end-exclusive
    # boundary so the batch and streaming twins agree exactly
    epoch_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = epoch_us - F.lag(epoch_us).over(w)
    marked = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap >= 1800_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    # sum exact integer ten-thousandths: double-sum order differs with
    # partition count, flipping the 4-dp rounding on last-ulp differences
    # (the round-1 hash mismatch); integer addition is order-independent
    val_units = F.round(F.col("value") * 10000).cast("long")
    return marked.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(val_units) / 10000.0).alias("total_value"),
    )


def _sub_docs(spark, sf_dir):
    """The derived table both substring queries (and their oracles) run
    over: 60 raw prefix docs with NO >=_SUB_MINLEN shared substrings
    (verified: the gram-intersection oracle over raw sf0.01 prefixes is
    empty), plus 20 planted docs that are verbatim copies of four donor
    prefixes (donors 100/110/120/130, ids outside the raw set) — 4
    cliques of 5, so the graded relation is NON-trivial.  Copies are
    byte-identical, so their normalized min-gram content keys are equal:
    co_partition routing provably reunites every planted pair."""
    docs = _t(spark, sf_dir, "documents")
    raw = docs.where(F.col("doc_id") < _SUB_RAW_N).select(
        "doc_id", F.substring("text", 1, _SUB_PREFIX).alias("text")
    )
    donors = docs.where(F.col("doc_id").isin(*_SUB_DONORS)).select(
        F.col("doc_id").alias("donor_id"),
        F.substring("text", 1, _SUB_DONOR_LEN).alias("dtext"),
    )
    copies = (
        spark.range(_SUB_RAW_N, _SUB_N)
        .select(
            F.col("id").alias("doc_id"),
            (F.lit(_SUB_DONORS[0]) + ((F.col("id") - _SUB_RAW_N) % 4) * 10).alias(
                "donor_id"
            ),
        )
        .join(F.broadcast(donors), "donor_id")
        .select("doc_id", F.col("dtext").alias("text"))
    )
    return raw.unionByName(copies)


def _sub_docs_sql() -> str:
    donors = ", ".join(str(d) for d in _SUB_DONORS)
    return f"""
      raw AS (
        SELECT doc_id, substr(text, 1, {_SUB_PREFIX}) AS text
        FROM documents WHERE doc_id < {_SUB_RAW_N}
      ), donors AS (
        SELECT doc_id AS donor_id, substr(text, 1, {_SUB_DONOR_LEN}) AS dtext
        FROM documents WHERE doc_id IN ({donors})
      ), copies AS (
        SELECT {_SUB_RAW_N} + i AS doc_id,
               {_SUB_DONORS[0]} + (i % 4) * 10 AS donor_id
        FROM UNNEST(generate_series(0, {_SUB_N - _SUB_RAW_N - 1})) AS t(i)
      ), sub_docs AS (
        SELECT doc_id, text FROM raw
        UNION ALL
        SELECT c.doc_id, d.dtext AS text FROM copies c JOIN donors d USING (donor_id)
      )"""


def _dedup_substring_exact(spark, sf_dir):
    """Suffix-array exact-substring detection (operators/suffix_array.py)
    against a DuckDB gram-intersection oracle: pairs (a < b) of _sub_docs
    sharing a verbatim >= 200-normalized-char substring.  The operator
    sorts every 200-char window by its rolling hash, refines the shared
    keys to exact window classes and emits every pair per class, so its
    output IS the shared-gram relation the SQL computes; single partition
    keeps the (partition-local) operator exact over the whole capped
    set."""
    from batch_jaro_winkler_spark.operators.config import DedupConfig
    from batch_jaro_winkler_spark.operators.suffix_array import suffix_array_edges

    docs = _sub_docs(spark, sf_dir).coalesce(1)
    cfg = DedupConfig(min_substring_chars=_SUB_MINLEN)
    return suffix_array_edges(docs, cfg).select("a", "b")


def _dedup_substring_parts(spark, sf_dir):
    """The CROSS-PARTITION variant (VERDICT_r2 #6): same oracle relation,
    but the input arrives in 8 doc_id-hashed partitions and
    ``co_partition=True`` must reunite duplicates via the min-gram content
    key before the partition-local window sorts run.  Exact here because
    every planted pair is a verbatim copy (identical content key); the
    raw docs share nothing, so stray partial overlaps cannot split."""
    from batch_jaro_winkler_spark.operators.config import DedupConfig
    from batch_jaro_winkler_spark.operators.suffix_array import suffix_array_edges

    docs = _sub_docs(spark, sf_dir).repartition(8, "doc_id")
    cfg = DedupConfig(min_substring_chars=_SUB_MINLEN)
    return suffix_array_edges(docs, cfg, co_partition=True).select("a", "b")


def _events_session_window(spark, sf_dir):
    """Spark session_window (the streaming operator, run in batch mode —
    identical code path to streaming/incremental.session_window_stats) vs a
    DuckDB gap-logic oracle.  Sessions are identified by min(event_id), so
    no raw timestamps reach the hashed output."""
    from batch_jaro_winkler_spark.streaming.incremental import session_window_stats

    ev = _t(spark, sf_dir, "events")
    return session_window_stats(ev).select(
        "user_id", "first_event", "n_events", "total_value"
    )


def _mm_binary_meta(spark, sf_dir):
    """Multimodal plumbing: treat content as an opaque binary column with
    typed metadata (byte length + magic-bytes prefix).  Decode itself is a
    stub (see batch_jaro_winkler_spark/multimodal.py); the schema/metadata
    path is real and oracle-checked."""
    docs = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        F.hex(F.encode(F.substring(F.col("text"), 1, 4), "utf-8")).alias("head_hex"),
    )


def _dedup_embedding_lsh(spark, sf_dir):
    """The GRADED embedding near-dup operator: hyperplane-LSH bucketed
    candidate generation + exact cosine re-rank — no unbucketed cross join
    anywhere in the plan (operators/ann.py:embedding_dup_pairs_lsh).
    Rows-only driver check (random planes aren't SQL-expressible); its
    correctness gates are the pytest planted-near-dup recall >= 0.95 test
    and the brute-force twin below.  Planes auto-size to the corpus
    (⌈log2(n/64)⌉, so join work stays ≈ n·tables·bucket instead of
    exploding quadratically when the same query runs at a bigger sf);
    recall at the sf0.01 tail threshold 0.4 is partial by design — the
    operator's regime is true near-dups (cos ≥ 0.9), where the pytest
    gate holds ≥ 0.95."""
    from batch_jaro_winkler_spark.operators.ann import embedding_dup_pairs_lsh

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_dup_pairs_lsh(
        emb, threshold=0.4, dim=64, n_tables=16
    ).select("a", "b", F.round("cos", 5).alias("cos_r"))


def _ann_cosine_topk_ivf_exact(spark, sf_dir):
    """IVF consistency oracle (VERDICT_r2 #5): with n_probe == n_centroids
    every inverted list is probed, so the full IVF machinery (centroid
    assign, list build, cell join, exact re-rank) must reproduce the
    brute-force top-k EXACTLY — and brute-force top-k IS SQL-expressible.
    rank_round=5 pins the ordering to the rounded cosine with an id
    tie-break, identically on both engines."""
    from batch_jaro_winkler_spark.operators.ann import cosine_topk_ivf

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    return cosine_topk_ivf(
        probes, emb, k=10, n_centroids=8, n_probe=8, rank_round=5
    ).select("probe_id", "vec_id", F.round("cos", 5).alias("cos_r"), "rank")


def _dedup_embedding_lsh_exact(spark, sf_dir):
    """LSH consistency oracle (VERDICT_r2 #5): ONE table with ZERO
    hyperplanes puts every vector in a single bucket, so the bucketed
    pair generator (bucket keys, singleton/cap filters, cross-table
    dedup, cosine re-rank) must emit exactly the brute-force >= 0.4
    relation.  Small-scale DECLARED oracle — the one-bucket join is
    O(n²); the graded scale path stays dedup_embedding_lsh.
    threshold=-1 defers the cut to the rounded cosine so both engines
    filter on the same value."""
    from batch_jaro_winkler_spark.operators.ann import embedding_dup_pairs_lsh

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_dup_pairs_lsh(
        emb, threshold=-1.0, dim=64, n_planes=0, n_tables=1
    )
    return pairs.select(
        "a", "b", F.round("cos", 5).alias("cos_r")
    ).where(F.col("cos_r") >= 0.4)


def _dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs, brute-force all-pairs variant:
    the SMALL-SCALE ORACLE for dedup_embedding_lsh (exact, DuckDB-checkable,
    O(n²) — never the scale path).  The sf0.01 table has no true near-dups,
    so threshold 0.4 sits in the distribution tail to exercise the math."""
    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("a") < F.col("b"))
    return pairs.select(
        "a", "b", F.round(V.cosine(F.col("va"), F.col("vb")), 5).alias("cos_r")
    ).where(F.col("cos_r") >= 0.4)


def _mm_decode_features(spark, sf_dir):
    """Multimodal decode plumbing (stubbed decoder, real schema/batching):
    documents' bytes through sniff → batched decode → (doc_id, mime,
    feature dim, first feature).  The sha256-derived stub features are
    SQL-expressible, so this row IS oracle-checked (sniff CASE + feat0
    generated from the same constants in multimodal.py)."""
    from batch_jaro_winkler_spark.multimodal import decode_features

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    payloads = docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    feats = decode_features(payloads)
    return feats.select(
        "doc_id",
        "mime",
        F.size("features").alias("dim"),
        # cast float32→double (exact) BEFORE rounding: Spark rounds floats
        # via their shortest-decimal repr, which differs from DuckDB
        F.round(F.col("features").getItem(0).cast("double"), 5).alias("feat0_r"),
    )


def _mm_resize_thumbs(spark, sf_dir):
    """Image-resize plumbing (stub transform, real mapInPandas batching):
    the sha-derived pseudo-thumbnail is SQL-expressible, so the whole
    batched path is oracle-checked (thumb bytes compared as hex)."""
    from batch_jaro_winkler_spark.multimodal import resize_images

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    payloads = docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    out = resize_images(payloads, width=8, height=8)
    return out.select(
        "doc_id", "mime", "n_bytes_in", "n_bytes_out",
        F.hex(F.col("thumb")).alias("thumb_hex"),
    )


def _mm_frame_samples(spark, sf_dir):
    """Video frame-sampling plumbing (stub 4KiB-frame demuxer, real
    variable-fan-out explode inside mapInPandas): every 3rd frame's
    (number, byte length) — chunk arithmetic the oracle reproduces.

    Payloads are prefixed with '~' (0x7E, matches no MAGIC_BYTES entry) so
    a corpus doc whose text happens to open with ASCII 'GIF8'/'RIFF' can
    never route to the real demuxers and break the stub oracle (ADVICE r4).
    The decode/resize stub queries don't need this: their only real
    handlers are image/png and image/jpeg, and neither magic can open a
    utf-8 text payload (0x89 is never a UTF-8 lead byte, 0xFF never
    appears in UTF-8), so text payloads never sniff as png or jpeg."""
    from batch_jaro_winkler_spark.multimodal import sample_frames

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    payloads = docs.select(
        "doc_id",
        F.encode(F.concat(F.lit("~"), F.col("text")), "utf-8").alias("payload"),
    )
    frames = sample_frames(payloads, every_n=3)
    return frames.select(
        "doc_id", "frame_no", F.length("frame").alias("frame_len")
    )


def _pipeline_lsh_pairs(spark, sf_dir):
    """The REAL scale-path candidate generator (128-perm multiply-shift
    MinHash + FNV band fold + capped pair-gen).  Not SQL-expressible →
    rows-only driver check; its correctness gate is the planted-recall
    pytest suite."""
    from batch_jaro_winkler_spark.operators.config import DedupConfig
    from batch_jaro_winkler_spark.operators.lsh import band_buckets, candidate_pairs
    from batch_jaro_winkler_spark.operators.signatures import compute_signatures

    # widen_scan BEFORE compute_signatures: the operator itself stays a
    # shuffle-free narrow map (plan-gated); the DedupPipeline repartitions
    # the same way before calling it
    docs = widen_scan(_t(spark, sf_dir, "documents"))
    cfg = DedupConfig()
    # lazy localCheckpoint on the bucket rows: candidate_pairs reads its
    # input in TWO subtrees (counts aggregate + join side), which here
    # would run the signatures mapInPandas twice; the checkpoint sits above
    # the posexplode, so it stores the 4 bucket columns
    sig = compute_signatures(docs, cfg, "doc_id", "text")
    buckets = band_buckets(sig).localCheckpoint(eager=False)
    return candidate_pairs(buckets, cfg).select("a", "b", "n_bands")


def _pipeline_simhash_pairs(spark, sf_dir):
    """64-bit SimHash hamming<=3 pairs via pigeonhole blocks (rows-only)."""
    from batch_jaro_winkler_spark.operators.config import DedupConfig
    from batch_jaro_winkler_spark.operators.signatures import compute_signatures
    from batch_jaro_winkler_spark.operators.simhash import simhash_pairs

    docs = widen_scan(_t(spark, sf_dir, "documents"))
    # lazy localCheckpoint on the PROJECTED relation: the pigeonhole
    # block join reads the simhash relation on both sides — share one
    # signatures computation, storing only the two columns the join needs
    sig = compute_signatures(docs, DedupConfig(), "doc_id", "text")
    sh = sig.select("doc_id", "simhash").localCheckpoint(eager=False)
    return simhash_pairs(sh, max_hamming=3)


# --- exact-configuration twins for the pipeline pair generators ---
# (VERDICT_r3 #4, the round-3 pattern that graded IVF/embedding-LSH):
# with shingle_k larger than any document, _batch_shingle_hashes emits ONE
# whole-text shingle per doc, so the 128-perm signature, every band fold,
# and the simhash all become injective functions of the normalized text
# (64-bit hash, deterministic data) — the emitted pair relation is exactly
# "equal nonempty normalized text", which DuckDB computes directly.  The
# derived table plants 40 verbatim copies of 8 donors (sf0.01 raw docs
# have zero exact dups, so without planting this would grade an empty
# 0==0 relation — the round-2 trap).
_PG_RAW_N = 160
_PG_N = 200
_PG_DONOR_STEP = 20
_PG_SHINGLE_K = 1_000_000


def _pg_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    raw = docs.where(F.col("doc_id") < _PG_RAW_N).select("doc_id", "text")
    copies = (
        spark.range(_PG_RAW_N, _PG_N)
        .select(
            F.col("id").alias("doc_id"),
            (((F.col("id") - _PG_RAW_N) % 8) * _PG_DONOR_STEP).alias("donor_id"),
        )
        .join(
            F.broadcast(
                docs.where(F.col("doc_id") < _PG_RAW_N).select(
                    F.col("doc_id").alias("donor_id"), F.col("text").alias("dtext")
                )
            ),
            "donor_id",
        )
        .select("doc_id", F.col("dtext").alias("text"))
    )
    return raw.unionByName(copies)


def _pg_docs_sql() -> str:
    return f"""
      pg_docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id < {_PG_RAW_N}
        UNION ALL
        SELECT {_PG_RAW_N} + i AS doc_id, d.text
        FROM UNNEST(generate_series(0, {_PG_N - _PG_RAW_N - 1})) AS t(i)
        JOIN documents d ON d.doc_id = (i % 8) * {_PG_DONOR_STEP}
      )"""


def _pipeline_lsh_pairs_exact(spark, sf_dir):
    """The real signature→band→pair machinery in an exact configuration:
    one whole-text shingle ⇒ band buckets are equality classes of
    normalized text ⇒ candidate_pairs must equal the exact-duplicate
    relation, agreeing on all 32 bands (n_bands = 32 for every pair)."""
    from batch_jaro_winkler_spark.operators.config import DedupConfig
    from batch_jaro_winkler_spark.operators.lsh import band_buckets, candidate_pairs
    from batch_jaro_winkler_spark.operators.signatures import compute_signatures

    cfg = DedupConfig(shingle_k=_PG_SHINGLE_K)
    sig = compute_signatures(_pg_docs(spark, sf_dir), cfg, "doc_id", "text")
    return candidate_pairs(band_buckets(sig), cfg).select(
        "a", "b", F.col("n_bands").cast("long").alias("n_bands")
    )


def _pipeline_simhash_pairs_exact(spark, sf_dir):
    """Pigeonhole SimHash pairing at max_hamming=0 (single full-width
    block) on single-shingle signatures: the pair relation must equal the
    exact-duplicate relation with hamming = 0."""
    from batch_jaro_winkler_spark.operators.config import DedupConfig
    from batch_jaro_winkler_spark.operators.signatures import compute_signatures
    from batch_jaro_winkler_spark.operators.simhash import simhash_pairs

    cfg = DedupConfig(shingle_k=_PG_SHINGLE_K)
    sig = compute_signatures(_pg_docs(spark, sf_dir), cfg, "doc_id", "text")
    return simhash_pairs(
        sig.where(F.col("n_tokens") > 0).select("doc_id", "simhash"),
        max_hamming=0,
    ).select("a", "b", F.col("hamming").cast("long").alias("hamming"))


# --- synthetic-media payloads: per-doc container bytes built worker-side.
# Everything that runs in a Python worker is nested (a closure or a
# factory's inner function): cloudpickle pickles those by value, while a
# module-level function of this file would be pickled by reference and
# every worker would have to import __spark_entry__.


def _payloads(spark, sf_dir, n_docs, make):
    """(doc_id long, payload binary) for the documents with doc_id < n_docs:
    one mapInPandas that builds each payload as ``make(int(doc_id))``."""
    import pandas as pd

    def build(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [make(int(d)) for d in pdf["doc_id"]],
                }
            )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < n_docs)
    return docs.select("doc_id").mapInPandas(build, "doc_id long, payload binary")


def _gif_writer():
    """``make_gif(n_frames)``: a 4x3 GIF89a of fixed-shape 18-byte image
    blocks (descriptor + LZW min code size + one 5-byte data sub-block)."""

    def make_gif(n_frames: int) -> bytes:
        out = b"GIF89a" + struct.pack("<HH", 4, 3) + bytes([0, 0, 0])
        for i in range(n_frames):
            out += b"\x2c" + struct.pack("<HHHH", 0, 0, 4, 3) + bytes([0])
            out += bytes([2, 5]) + bytes([i]) * 5 + b"\x00"
        return out + b"\x3b"

    return make_gif


def _mp4_writer():
    """``make_mp4(samples)``: an ISO-BMFF file (ftyp + mdat + moov/trak/
    mdia/minf/stbl) holding the given sample byte strings in two chunks —
    sample 0 alone, the rest together — so the stsc/stco sample-table walk
    is exercised."""

    def box(fourcc: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + fourcc + body

    def make_mp4(samples: list[bytes]) -> bytes:
        n = len(samples)
        sizes = [len(s) for s in samples]
        ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isom")
        mdat = box(b"mdat", b"".join(samples))
        offs = [len(ftyp) + 8, len(ftyp) + 8 + sizes[0]]
        stsz = box(
            b"stsz",
            b"\x00" * 4
            + struct.pack(">II", 0, n)
            + b"".join(struct.pack(">I", s) for s in sizes),
        )
        stsc = box(
            b"stsc",
            b"\x00" * 4
            + struct.pack(">I", 2)
            + struct.pack(">III", 1, 1, 1)
            + struct.pack(">III", 2, n - 1, 1),
        )
        stco = box(
            b"stco",
            b"\x00" * 4
            + struct.pack(">I", 2)
            + b"".join(struct.pack(">I", o) for o in offs),
        )
        stbl = box(b"stbl", stsz + stsc + stco)
        minf = box(b"minf", stbl)
        moov = box(b"moov", box(b"trak", box(b"mdia", minf)))
        return ftyp + mdat + moov

    return make_mp4


def _frame_rows(payloads):
    """Every 2nd frame of each payload through sample_frames' sniffed
    demuxer, as (doc_id, frame_no long, frame_len long)."""
    return MM.sample_frames(payloads, every_n=2).select(
        "doc_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        F.length("frame").cast("long").alias("frame_len"),
    )


def _mm_frame_samples_gif(spark, sf_dir):
    """The REAL GIF demuxer (functions/containers.py) driver-graded:
    deterministic synthetic GIFs (doc_id % 5 + 1 frames, fixed-shape
    image-descriptor blocks of 18 bytes) built per doc, demuxed through
    sample_frames(every_n=2).  Frame numbers and lengths are pure
    arithmetic in doc_id, so DuckDB computes the expected relation with
    generate_series — no stub involved: the image/gif mime routes to the
    block-structure parser."""
    make_gif = _gif_writer()
    return _frame_rows(_payloads(spark, sf_dir, 50, lambda d: make_gif(d % 5 + 1)))


def _mm_frame_samples_wav(spark, sf_dir):
    """The REAL RIFF/WAVE demuxer driver-graded: synthetic PCM payloads
    of (doc_id % 5 + 1) * 1000 + 500 data bytes at byte_rate=1000 (so
    one-second frames are 1000 bytes with a 500-byte tail), demuxed via
    sample_frames(every_n=2); frame numbers/lengths are arithmetic in
    doc_id for the DuckDB twin."""

    def make_wav(doc_id: int) -> bytes:
        fmt = struct.pack("<HHIIHH", 1, 1, 1000, 1000, 1, 8)
        data = b"\x5a" * ((doc_id % 5 + 1) * 1000 + 500)
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    return _frame_rows(_payloads(spark, sf_dir, 50, make_wav))


def _mm_frame_samples_mp4(spark, sf_dir):
    """The REAL ISO-BMFF demuxer (functions/containers.py) driver-graded:
    synthetic MP4s with doc_id % 4 + 2 samples of 16 + 3*i + doc_id % 5
    bytes, split across two chunks so the stsc/stco sample-table walk is
    exercised, demuxed via sample_frames(every_n=2) through the sniffed
    video/mp4 mime (ftyp fourcc at byte offset 4).  Sample numbers and
    lengths are pure arithmetic in doc_id for the DuckDB twin."""
    make_mp4 = _mp4_writer()

    def make(d: int) -> bytes:
        return make_mp4([bytes([i]) * (16 + 3 * i + d % 5) for i in range(d % 4 + 2)])

    return _frame_rows(_payloads(spark, sf_dir, 50, make))


def _mm_frame_samples_mp3(spark, sf_dir):
    """The REAL MPEG-audio demuxer driver-graded: synthetic MPEG-1
    Layer III streams (ID3v2-tagged so the ID3 magic sniffs audio/mpeg)
    of doc_id % 4 + 2 frames at 32 kHz and bitrate 32*(doc_id % 5 + 1)
    kbps — frame length is exactly 144*(doc_id % 5 + 1) bytes, pure
    arithmetic for the DuckDB twin — demuxed via sample_frames(every_n=2)."""

    bri = {32: 1, 64: 5, 96: 7, 128: 9, 160: 10}

    def make_mp3(doc_id: int) -> bytes:
        br = 32 * (doc_id % 5 + 1)
        out = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 10]) + b"\x00" * 10
        h = (
            (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
            | (bri[br] << 12) | (2 << 10)
        )
        flen = 144 * br * 1000 // 32000
        frame = struct.pack(">I", h) + b"\x5a" * (flen - 4)
        return out + frame * (doc_id % 4 + 2)

    return _frame_rows(_payloads(spark, sf_dir, 50, make_mp3))


def _mm_frame_samples_webm(spark, sf_dir):
    """The REAL EBML/Matroska demuxer driver-graded: synthetic WebM
    payloads (EBML header + Segment + one Cluster) of doc_id % 4 + 2
    SimpleBlocks whose bodies are 14 + 3*i + doc_id % 5 bytes (track
    vint + timecode + flags + payload) — arithmetic for the DuckDB twin —
    demuxed via sample_frames(every_n=2) through the sniffed video/webm
    mime."""

    def ebml(id_bytes: bytes, body: bytes) -> bytes:
        assert len(body) < 0x3FFF
        size = (
            bytes([0x80 | len(body)])
            if len(body) < 0x7F
            else bytes([0x40 | (len(body) >> 8), len(body) & 0xFF])
        )
        return id_bytes + size + body

    def make_webm(doc_id: int) -> bytes:
        header = ebml(b"\x1a\x45\xdf\xa3", ebml(b"\x42\x86", b"\x01"))
        blocks = b""
        for i in range(doc_id % 4 + 2):
            body = b"\x81" + struct.pack(">h", i) + b"\x00"
            body += b"\x5a" * (10 + 3 * i + doc_id % 5)
            blocks += ebml(b"\xa3", body)
        cluster = ebml(b"\x1f\x43\xb6\x75", ebml(b"\xe7", b"\x00") + blocks)
        return header + ebml(b"\x18\x53\x80\x67", cluster)

    return _frame_rows(_payloads(spark, sf_dir, 50, make_webm))


def _mm_jpeg_meta(spark, sf_dir):
    """The REAL JPEG structure parser (functions/jpeg.py) driver-graded:
    deterministic synthetic baseline JFIFs (width/height/entropy bytes
    are arithmetic in doc_id) built per doc, routed through
    decode_features' sniffed-mime dispatch to the BUILTIN image/jpeg
    decoder — no stub involved.  The parsed dimensions, component count,
    precision and entropy-byte count land as columns whose expected
    values DuckDB computes directly from doc_id."""
    from batch_jaro_winkler_spark.functions.jpeg import encode_jpeg_gray
    from batch_jaro_winkler_spark.multimodal import decode_features

    def make_jpeg(d: int) -> bytes:
        return encode_jpeg_gray(
            d % 37 + 4, d % 23 + 3, entropy_bytes=(d % 7) * 16 + 16
        )

    jpegs = _payloads(spark, sf_dir, 50, make_jpeg)
    # route to the STRUCTURAL parser explicitly: since round 5 the bare
    # image/jpeg builtin is the pixel decoder (graded by mm_jpeg_decode)
    feats = decode_features(jpegs, batch_mime="image/jpeg+meta")
    return feats.select(
        "doc_id",
        "mime",
        F.col("features").getItem(0).cast("long").alias("width"),
        F.col("features").getItem(1).cast("long").alias("height"),
        F.col("features").getItem(2).cast("long").alias("n_components"),
        F.col("features").getItem(3).cast("long").alias("precision"),
        F.col("features").getItem(8).cast("long").alias("entropy_bytes"),
    )


def _mm_jpeg_decode(spark, sf_dir):
    """The REAL baseline huffman+IDCT JPEG pixel decoder driver-graded:
    per doc, a blockwise-constant grayscale image (block value =
    arithmetic in doc_id and block index) is baseline-encoded
    (functions/jpeg.py encode_jpeg_baseline: DCT, quantize, canonical
    huffman, byte stuffing) and routed through decode_features' sniffed
    image/jpeg dispatch to the builtin PIXEL decoder.  Blockwise-constant
    blocks quantize to a lone DC coefficient, and DC-only IDCT is exact,
    so min/max luminance and the 8-bin histogram counts are closed-form
    SQL over the generator arithmetic — any huffman, dequant, IDCT,
    assembly, or histogram bug breaks the hash match."""
    import numpy as np

    from batch_jaro_winkler_spark.functions.jpeg import encode_jpeg_baseline
    from batch_jaro_winkler_spark.multimodal import decode_features

    def make_jpeg(d: int) -> bytes:
        bw, bh = d % 4 + 1, d % 3 + 1
        vals = (d * 31 + np.arange(bh * bw) * 17) % 256
        img = np.repeat(
            np.repeat(vals.reshape(bh, bw), 8, 0), 8, 1
        ).astype(np.uint8)
        return encode_jpeg_baseline(img)

    feats = decode_features(_payloads(spark, sf_dir, 50, make_jpeg))
    f = F.col("features")
    size = (f.getItem(0) * f.getItem(1)).cast("double")
    cols = [
        F.col("doc_id"),
        F.col("mime"),
        f.getItem(0).cast("long").alias("width"),
        f.getItem(1).cast("long").alias("height"),
        f.getItem(2).cast("long").alias("channels"),
        F.round(f.getItem(5) * 255).cast("long").alias("min_lum"),
        F.round(f.getItem(6) * 255).cast("long").alias("max_lum"),
    ]
    # histogram features are count/size in float32; * size and round
    # recovers the exact integer counts (relative error ~1e-7 << 0.5)
    for i in range(8):
        cols.append(
            F.round(f.getItem(8 + i) * size).cast("long").alias(f"h{i}")
        )
    return feats.select(*cols)


def _mm_resize_jpeg(spark, sf_dir):
    """The full JPEG transform chain driver-graded end-to-end: encode ->
    resize_images (decode -> exact box-average -> baseline re-encode,
    the builtin image/jpeg resizer) -> decode_features (pixel
    builtin).  Fixtures are per-doc CONSTANT grays: a constant image is
    DC-only at every stage (source decode, box-average, thumb re-encode,
    thumb decode), so the luminance survives two full codec round trips
    plus the resize bit-exactly and min/max are closed-form SQL; the
    thumb's decoded dimensions pin the resize geometry.  (Non-constant
    thumbs re-encode with <=1 LSB quantization error, so box-filter
    WEIGHT correctness is pinned by tests/test_jpeg_codec.py instead.)"""
    import numpy as np

    from batch_jaro_winkler_spark.functions.jpeg import encode_jpeg_baseline
    from batch_jaro_winkler_spark.multimodal import decode_features, resize_images

    def make_jpeg(d: int) -> bytes:
        v = (d * 37 + 11) % 256
        return encode_jpeg_baseline(np.full((16, 24), v, dtype=np.uint8))

    jpegs = _payloads(spark, sf_dir, 40, make_jpeg)
    thumbs = resize_images(jpegs, width=3, height=2).select(
        "doc_id", F.col("thumb").alias("payload")
    )
    feats = decode_features(thumbs)
    f = F.col("features")
    return feats.select(
        "doc_id",
        "mime",
        f.getItem(0).cast("long").alias("width"),
        f.getItem(1).cast("long").alias("height"),
        F.round(f.getItem(5) * 255).cast("long").alias("min_lum"),
        F.round(f.getItem(6) * 255).cast("long").alias("max_lum"),
    )


def _mm_frame_features(spark, sf_dir):
    """The real-corpus multimodal COMPOSITION driver-graded (VERDICT_r5
    missing #3): MP4 containers whose samples are baseline JPEGs — the
    ISO-BMFF demuxer locates each sample, then frame_features sniffs each
    SAMPLED FRAME (FFD8FF → image/jpeg) and routes it through the real
    huffman+IDCT pixel decoder.  Per doc: n = doc_id%4+2 constant-gray
    JPEGs, sample i is 8*(i%3+1) x 8 at luminance (doc_id*31+i*17)%256;
    constant images are DC-only so min=max=value survives the codec
    exactly, and dims/luminance are pure arithmetic for the DuckDB twin.
    No stub anywhere in the path: demux (containers.py mp4_frames) →
    sniff → decode (jpeg.py jpeg_pixel_features)."""
    import numpy as np

    from batch_jaro_winkler_spark.functions.jpeg import encode_jpeg_baseline
    from batch_jaro_winkler_spark.multimodal import frame_features

    make_mp4 = _mp4_writer()

    def make_mp4_of_jpegs(doc_id: int) -> bytes:
        samples = []
        for i in range(doc_id % 4 + 2):
            w, v = 8 * (i % 3 + 1), (doc_id * 31 + i * 17) % 256
            samples.append(encode_jpeg_baseline(np.full((8, w), v, np.uint8)))
        return make_mp4(samples)

    feats = frame_features(_payloads(spark, sf_dir, 40, make_mp4_of_jpegs))
    f = F.col("features")
    return feats.select(
        "doc_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        "mime",
        f.getItem(0).cast("long").alias("width"),
        f.getItem(1).cast("long").alias("height"),
        F.round(f.getItem(5) * 255).cast("long").alias("min_lum"),
        F.round(f.getItem(6) * 255).cast("long").alias("max_lum"),
    )


def _mm_frame_samples_corrupt(spark, sf_dir):
    """The demuxers' corrupt-payload soft-fail driver-graded (VERDICT_r5
    #8 — pytest fuzzes malformed containers, but the graded surface only
    saw well-formed ones).  Per doc (doc_id < 60), a GIF of doc_id%5+1
    18-byte frames, then by doc_id%3: 0 = intact; 1 = TRUNCATED to 20
    bytes (structure broken mid-descriptor → the demuxer raises → the
    documented all-or-nothing soft behavior yields ZERO frames, job
    alive); 2 = one bit flipped inside frame 0's LZW DATA (structure
    intact → demux-not-decode must still yield every frame).  The per-doc
    (n_sampled, total_len) counts — zeros included via the right join —
    are pure arithmetic for the DuckDB twin."""
    make_gif = _gif_writer()

    def corrupt(doc_id: int) -> bytes:
        g = bytearray(make_gif(doc_id % 5 + 1))
        if doc_id % 3 == 1:
            return bytes(g[:20])  # mid-image-descriptor truncation
        if doc_id % 3 == 2:
            g[26] ^= 0xFF  # frame 0 LZW data byte (offset 13+10+1+2)
        return bytes(g)

    gifs = _payloads(spark, sf_dir, 60, corrupt)
    per_doc = (
        _frame_rows(gifs)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("frame_len").alias("total_len"),
        )
    )
    return (
        gifs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
            F.coalesce("total_len", F.lit(0)).cast("long").alias("total_len"),
        )
    )


def _pipeline_clusters_star(spark, sf_dir):
    """The DISTRIBUTED connected-components star path, driver-graded:
    large-star/small-star rounds + checksum fixpoint run end-to-end
    (local_threshold=0 keeps the union-find endgame out) over the planted
    clique pairs.  Cliques are exactly the components, so the assignment
    must equal min(doc_id) per equal-normalized-text class — a plain
    window aggregate in DuckDB.  Scale note: this IS the 100 TB code
    path; the endgame threshold only short-circuits small remainders."""
    from batch_jaro_winkler_spark.operators.connected_components import (
        connected_components,
    )

    pairs = _pipeline_lsh_pairs_exact(spark, sf_dir).select("a", "b")
    nodes = _pg_docs(spark, sf_dir).select("doc_id")
    return connected_components(pairs, all_nodes=nodes, local_threshold=0)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # relational operator coverage (SURVEY.md §2.2)
        "rel_q1": _rel_q1,
        "rel_top_orders_per_cust": _rel_top_orders_per_cust,
        "rel_nation_revenue": _rel_nation_revenue,
        "rel_parts_never_ordered": _rel_parts_never_ordered,
        "rel_top10_orders": _rel_top10_orders,
        "rel_rollup": _rel_rollup,
        "rel_running_window": _rel_running_window,
        "rel_intersect": _rel_intersect,
        # dedup family
        "dedup_exact": _dedup_exact,
        "dedup_ngram_jaccard": _dedup_ngram_jaccard,
        "dedup_minhash_lsh": _dedup_minhash_lsh,
        "dedup_simhash32": _dedup_simhash32,
        "dedup_substring_exact": _dedup_substring_exact,
        "dedup_substring_parts": _dedup_substring_parts,
        # reference JW capabilities (O10-O15)
        "jw_topk": _jw_topk,
        "jw_topk10": _jw_topk10,
        "jw_pairs": _jw_pairs,
        # text analysis
        "text_quality": _text_quality,
        "text_langid": _text_langid,
        "doc_fingerprint": _doc_fingerprint,
        # similarity search / events / multimodal
        "ann_cosine_topk": _ann_cosine_topk,
        "ann_cosine_topk_ivf": _ann_cosine_topk_ivf,
        "ann_cosine_topk_ivf_exact": _ann_cosine_topk_ivf_exact,
        "dedup_embedding": _dedup_embedding,
        "dedup_embedding_lsh": _dedup_embedding_lsh,
        "dedup_embedding_lsh_exact": _dedup_embedding_lsh_exact,
        "events_sessions": _events_sessions,
        "events_session_window": _events_session_window,
        "mm_binary_meta": _mm_binary_meta,
        "mm_decode_features": _mm_decode_features,
        "mm_resize_thumbs": _mm_resize_thumbs,
        "mm_frame_samples": _mm_frame_samples,
        # scale-path operators (rows-only checks; pytest owns correctness)
        "pipeline_lsh_pairs": _pipeline_lsh_pairs,
        "pipeline_simhash_pairs": _pipeline_simhash_pairs,
        "pipeline_lsh_pairs_exact": _pipeline_lsh_pairs_exact,
        "pipeline_simhash_pairs_exact": _pipeline_simhash_pairs_exact,
        "pipeline_clusters_star": _pipeline_clusters_star,
        "mm_frame_samples_gif": _mm_frame_samples_gif,
        "mm_frame_samples_wav": _mm_frame_samples_wav,
        "mm_frame_samples_mp4": _mm_frame_samples_mp4,
        "mm_frame_samples_mp3": _mm_frame_samples_mp3,
        "mm_frame_samples_webm": _mm_frame_samples_webm,
        "mm_jpeg_meta": _mm_jpeg_meta,
        "mm_jpeg_decode": _mm_jpeg_decode,
        "mm_resize_jpeg": _mm_resize_jpeg,
        "mm_frame_features": _mm_frame_features,
        "mm_frame_samples_corrupt": _mm_frame_samples_corrupt,
    }


# ---------------------------------------------------------------- oracles

def _sql_tokens(expr: str) -> str:
    return TX.tokens_sql(expr)


def _substring_oracle_sql() -> str:
    """Gram-intersection ground truth over the shared _sub_docs relation —
    one SQL for both the single-partition and co-partitioned variants."""
    return f"""
        WITH {_sub_docs_sql().strip()}, d AS (
          SELECT doc_id, {TX.normalize_sql("text")} AS norm FROM sub_docs
        ), g AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, greatest(length(norm) - {_SUB_MINLEN - 1}, 0)),
                   i -> substr(norm, i, {_SUB_MINLEN}))) AS grams
          FROM d
        )
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM g a JOIN g b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.grams, b.grams)) > 0
    """


def oracle_sql() -> dict[str, str]:
    norm_jw = _norm_prefix_sql("text", _JW_PREFIX)
    norm_jwp = _norm_prefix_sql("text", _JWP_PREFIX)
    norm_fp = _norm_prefix_sql("text", _FP_PREFIX)
    sh3 = f"list_distinct({TX.word_shingles_sql(_sql_tokens('text'), 3)})"
    q = TX.quality_metrics_sql("text")
    r = _MINHASH_K // _MINHASH_BANDS
    band_keys = ", ".join(
        "concat_ws('-', "
        + ", ".join(f"sig[{i * r + j + 1}]::VARCHAR" for j in range(r))
        + f") AS band_{i}"
        for i in range(_MINHASH_BANDS)
    )
    band_unpivot = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_id, band_{i} AS band_key FROM sigs"
        for i in range(_MINHASH_BANDS)
    )
    simhash32 = H.simhash_md5_sql("toks")

    return {
        "rel_q1": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   sum(round(l_extendedprice * 100)::BIGINT) / 100.0 AS sum_base_price,
                   sum(round(l_extendedprice * 100)::BIGINT
                       * (100 - round(l_discount * 100)::BIGINT)) / 10000.0 AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "rel_top_orders_per_cust": """
            SELECT o_custkey, o_orderkey, rank FROM (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
              FROM orders) WHERE rank <= 3
        """,
        "rel_nation_revenue": """
            SELECT n_name,
                   sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS revenue,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "rel_parts_never_ordered": """
            SELECT p_partkey FROM part
            EXCEPT ALL
            SELECT p_partkey FROM part
            WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
        """,
        "rel_top10_orders": """
            SELECT o_orderkey, o_custkey, o_totalprice AS totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
        """,
        "rel_rollup": """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   sum(l_quantity) AS sum_qty, count(*) AS n
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "rel_running_window": """
            SELECT l_suppkey, l_orderkey, l_linenumber,
                   sum(l_quantity) OVER (PARTITION BY l_suppkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS running_qty,
                   coalesce(lag(l_quantity) OVER (PARTITION BY l_suppkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber), -1.0)
                     AS prev_qty,
                   rank() OVER (PARTITION BY l_suppkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rnk
            FROM lineitem WHERE l_suppkey < 20
        """,
        "rel_intersect": """
            SELECT o_custkey FROM orders WHERE o_orderdate < '1995-01-01'
            INTERSECT
            SELECT o_custkey FROM orders WHERE o_orderdate >= '1997-01-01'
        """,
        "dedup_exact": """
            SELECT doc_id, min(doc_id) OVER (PARTITION BY sha256(text)) AS rep_id
            FROM documents
        """,
        "dedup_ngram_jaccard": f"""
            WITH sh AS (
              SELECT doc_id, {sh3} AS s FROM documents
              WHERE doc_id < {_JAC_N} AND len({sh3}) > 0
            )
            SELECT a.doc_id AS a, b.doc_id AS b,
                   round(len(list_intersect(a.s, b.s)) * 1.0 /
                         (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
                     AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE round(len(list_intersect(a.s, b.s)) * 1.0 /
                        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.5
        """,
        "dedup_minhash_lsh": f"""
            WITH sigs AS (
              SELECT doc_id, {band_keys} FROM (
                SELECT doc_id, {H.minhash_md5_sql(f"list_distinct({TX.word_shingles_sql(_sql_tokens('text'), 3)})", _MINHASH_K)} AS sig
                FROM documents
                WHERE len(list_distinct({TX.word_shingles_sql(_sql_tokens('text'), 3)})) > 0
              )
            ), bands AS ({band_unpivot})
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l JOIN bands r
              ON l.band_id = r.band_id AND l.band_key = r.band_key
             AND l.doc_id < r.doc_id
        """,
        "dedup_simhash32": f"""
            SELECT doc_id,
                   CASE WHEN len(toks) > 0 THEN {simhash32} ELSE 0 END AS simhash32
            FROM (SELECT doc_id, {_sql_tokens('text')} AS toks FROM documents)
        """,
        # exact-config twins: single whole-text shingle ⇒ the pair relation
        # is exactly "equal nonempty normalized text" over the planted table
        "pipeline_lsh_pairs_exact": f"""
            WITH {_pg_docs_sql()},
            nrm AS (
              SELECT doc_id, {TX.normalize_sql('text')} AS nrm FROM pg_docs
            )
            SELECT a.doc_id AS a, b.doc_id AS b, 32::BIGINT AS n_bands
            FROM nrm a JOIN nrm b ON a.nrm = b.nrm AND a.doc_id < b.doc_id
            WHERE a.nrm <> ''
        """,
        "pipeline_simhash_pairs_exact": f"""
            WITH {_pg_docs_sql()},
            nrm AS (
              SELECT doc_id, {TX.normalize_sql('text')} AS nrm FROM pg_docs
            )
            SELECT a.doc_id AS a, b.doc_id AS b, 0::BIGINT AS hamming
            FROM nrm a JOIN nrm b ON a.nrm = b.nrm AND a.doc_id < b.doc_id
            WHERE a.nrm <> ''
        """,
        "mm_frame_samples_gif": """
            SELECT d.doc_id,
                   t.frame_no::BIGINT AS frame_no,
                   18::BIGINT AS frame_len
            FROM (SELECT doc_id, doc_id % 5 + 1 AS nf
                  FROM documents WHERE doc_id < 50) d,
                 UNNEST(generate_series(0, 4, 2)) AS t(frame_no)
            WHERE t.frame_no < d.nf
        """,
        "mm_frame_samples_wav": """
            SELECT d.doc_id,
                   t.frame_no::BIGINT AS frame_no,
                   (CASE WHEN t.frame_no = d.nf - 1 THEN 500
                         ELSE 1000 END)::BIGINT AS frame_len
            FROM (SELECT doc_id, doc_id % 5 + 2 AS nf
                  FROM documents WHERE doc_id < 50) d,
                 UNNEST(generate_series(0, 4, 2)) AS t(frame_no)
            WHERE t.frame_no < d.nf
        """,
        "mm_frame_samples_mp4": """
            SELECT d.doc_id,
                   t.frame_no::BIGINT AS frame_no,
                   (16 + 3 * t.frame_no + d.doc_id % 5)::BIGINT AS frame_len
            FROM (SELECT doc_id, doc_id % 4 + 2 AS nf
                  FROM documents WHERE doc_id < 50) d,
                 UNNEST(generate_series(0, 4, 2)) AS t(frame_no)
            WHERE t.frame_no < d.nf
        """,
        "mm_frame_samples_mp3": """
            SELECT d.doc_id,
                   t.frame_no::BIGINT AS frame_no,
                   (144 * (d.doc_id % 5 + 1))::BIGINT AS frame_len
            FROM (SELECT doc_id, doc_id % 4 + 2 AS nf
                  FROM documents WHERE doc_id < 50) d,
                 UNNEST(generate_series(0, 4, 2)) AS t(frame_no)
            WHERE t.frame_no < d.nf
        """,
        "mm_frame_samples_webm": """
            SELECT d.doc_id,
                   t.frame_no::BIGINT AS frame_no,
                   (14 + 3 * t.frame_no + d.doc_id % 5)::BIGINT AS frame_len
            FROM (SELECT doc_id, doc_id % 4 + 2 AS nf
                  FROM documents WHERE doc_id < 50) d,
                 UNNEST(generate_series(0, 4, 2)) AS t(frame_no)
            WHERE t.frame_no < d.nf
        """,
        "mm_jpeg_meta": """
            SELECT doc_id,
                   'image/jpeg' AS mime,
                   (doc_id % 37 + 4)::BIGINT AS width,
                   (doc_id % 23 + 3)::BIGINT AS height,
                   1::BIGINT AS n_components,
                   8::BIGINT AS precision,
                   ((doc_id % 7) * 16 + 16)::BIGINT AS entropy_bytes
            FROM documents WHERE doc_id < 50
        """,
        "mm_jpeg_decode": """
            WITH d AS (
              SELECT doc_id,
                     doc_id % 4 + 1 AS bw,
                     doc_id % 3 + 1 AS bh
              FROM documents WHERE doc_id < 50
            ), v AS (
              SELECT doc_id, bw, bh,
                     (doc_id * 31 + t.bi * 17) % 256 AS val
              FROM d, UNNEST(generate_series(0, bw * bh - 1)) AS t(bi)
            )
            SELECT doc_id,
                   'image/jpeg' AS mime,
                   (8 * max(bw))::BIGINT AS width,
                   (8 * max(bh))::BIGINT AS height,
                   1::BIGINT AS channels,
                   min(val)::BIGINT AS min_lum,
                   max(val)::BIGINT AS max_lum,
                   (64 * count(*) FILTER (WHERE val // 32 = 0))::BIGINT AS h0,
                   (64 * count(*) FILTER (WHERE val // 32 = 1))::BIGINT AS h1,
                   (64 * count(*) FILTER (WHERE val // 32 = 2))::BIGINT AS h2,
                   (64 * count(*) FILTER (WHERE val // 32 = 3))::BIGINT AS h3,
                   (64 * count(*) FILTER (WHERE val // 32 = 4))::BIGINT AS h4,
                   (64 * count(*) FILTER (WHERE val // 32 = 5))::BIGINT AS h5,
                   (64 * count(*) FILTER (WHERE val // 32 = 6))::BIGINT AS h6,
                   (64 * count(*) FILTER (WHERE val // 32 = 7))::BIGINT AS h7
            FROM v
            GROUP BY doc_id
        """,
        "mm_resize_jpeg": """
            SELECT doc_id,
                   'image/jpeg' AS mime,
                   3::BIGINT AS width,
                   2::BIGINT AS height,
                   ((doc_id * 37 + 11) % 256)::BIGINT AS min_lum,
                   ((doc_id * 37 + 11) % 256)::BIGINT AS max_lum
            FROM documents WHERE doc_id < 40
        """,
        "mm_frame_features": """
            SELECT d.doc_id,
                   t.frame_no::BIGINT AS frame_no,
                   'image/jpeg' AS mime,
                   (8 * (t.frame_no % 3 + 1))::BIGINT AS width,
                   8::BIGINT AS height,
                   ((d.doc_id * 31 + t.frame_no * 17) % 256)::BIGINT AS min_lum,
                   ((d.doc_id * 31 + t.frame_no * 17) % 256)::BIGINT AS max_lum
            FROM (SELECT doc_id, doc_id % 4 + 2 AS nf
                  FROM documents WHERE doc_id < 40) d,
                 UNNEST(generate_series(0, 4, 2)) AS t(frame_no)
            WHERE t.frame_no < d.nf
        """,
        "mm_frame_samples_corrupt": """
            SELECT doc_id,
                   (CASE WHEN doc_id % 3 = 1 THEN 0
                         ELSE (doc_id % 5) // 2 + 1 END)::BIGINT AS n_sampled,
                   (CASE WHEN doc_id % 3 = 1 THEN 0
                         ELSE 18 * ((doc_id % 5) // 2 + 1) END)::BIGINT AS total_len
            FROM documents WHERE doc_id < 60
        """,
        "pipeline_clusters_star": f"""
            WITH {_pg_docs_sql()},
            nrm AS (
              SELECT doc_id, {TX.normalize_sql('text')} AS nrm FROM pg_docs
            )
            SELECT doc_id,
                   CASE WHEN nrm = '' THEN doc_id
                        ELSE min(doc_id) OVER (PARTITION BY nrm) END AS cluster_id
            FROM nrm
        """,
        "dedup_substring_exact": _substring_oracle_sql(),
        "dedup_substring_parts": _substring_oracle_sql(),
        "text_quality": f"""
            SELECT doc_id,
                   {q['n_chars']} AS n_chars,
                   {q['n_tokens']} AS n_tokens,
                   round({q['mean_token_len']}, 6) AS mean_token_len,
                   round({q['alpha_ratio']}, 6) AS alpha_ratio,
                   round({q['stopword_ratio']}, 6) AS stopword_ratio
            FROM documents
        """,
        "text_langid": f"""
            SELECT doc_id, {TX.lang_guess_sql('text')} AS lang_pred FROM documents
        """,
        "doc_fingerprint": f"""
            SELECT doc_id,
                   list_min(list_transform(
                     generate_series(1, greatest(length({norm_fp}) - {_FP_GRAM - 1}, 1)),
                     i -> {H.md5_u60_sql(f"substr({norm_fp}, i, {_FP_GRAM})")}
                   )) AS fingerprint
            FROM documents
        """,
        "jw_topk": f"""
            WITH probes AS (
              SELECT doc_id AS probe_id, {norm_jw} AS ptext FROM documents
              WHERE doc_id < {_JW_PROBE_N}
            ), cands AS (
              SELECT doc_id AS cand_id, {norm_jw} AS ctext FROM documents
            ), scored AS (
              SELECT probe_id, cand_id,
                     round(jaro_winkler_similarity(ptext, ctext), 4) AS score_r
              FROM probes, cands
              WHERE jaro_winkler_similarity(ptext, ctext) >= 0.5
            )
            SELECT probe_id, cand_id, score_r, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY probe_id
                                           ORDER BY score_r DESC, cand_id ASC) AS rank
              FROM scored) WHERE rank <= 5
        """,
        # raw-score ranking is safe here: the kernel's float64 JW is
        # bit-identical to DuckDB's (verified, 0/10k diffs), ties break
        # on cand_id in both engines
        "jw_topk10": f"""
            WITH probes AS (
              SELECT doc_id AS probe_id, {norm_jw} AS ptext FROM documents
              WHERE doc_id < {_JW_PROBE_N}
            ), cands AS (
              SELECT doc_id AS cand_id, {norm_jw} AS ctext FROM documents
            ), scored AS (
              SELECT probe_id, cand_id,
                     jaro_winkler_similarity(ptext, ctext) AS score
              FROM probes, cands
            )
            SELECT probe_id, cand_id, round(score, 4) AS score_r, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY probe_id
                                           ORDER BY score DESC, cand_id ASC) AS rank
              FROM scored) WHERE rank <= 10
        """,
        "jw_pairs": f"""
            WITH d AS (
              SELECT doc_id, {norm_jwp} AS t FROM documents WHERE doc_id < {_JWP_N}
            )
            SELECT a.doc_id AS a, b.doc_id AS b,
                   round(jaro_similarity(a.t, b.t), 4) AS score_r
            FROM d a JOIN d b ON a.doc_id < b.doc_id
            WHERE jaro_similarity(a.t, b.t) >= 0.75
        """,
        "ann_cosine_topk": f"""
            WITH probes AS (
              SELECT vec_id AS probe_id, embedding AS pvec FROM embeddings WHERE vec_id < 5
            ), scored AS (
              SELECT probe_id, e.vec_id,
                     round({V.cosine_sql('pvec', 'e.embedding')}, 5) AS cos_r
              FROM probes, embeddings e
            )
            SELECT probe_id, vec_id, cos_r, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY probe_id
                                           ORDER BY cos_r DESC, vec_id ASC) AS rank
              FROM scored) WHERE rank <= 10
        """,
        "dedup_embedding": f"""
            WITH e AS (SELECT vec_id, embedding FROM embeddings)
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round({V.cosine_sql('a.embedding', 'b.embedding')}, 5) AS cos_r
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE round({V.cosine_sql('a.embedding', 'b.embedding')}, 5) >= 0.4
        """,
        "events_sessions": """
            WITH marked AS (
              SELECT user_id, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id, sum(new_session)::BIGINT AS n_sessions,
                   count(*) AS n_events,
                   sum(round(value * 10000)::BIGINT) / 10000.0 AS total_value
            FROM marked GROUP BY user_id
        """,
        "events_session_window": """
            WITH marked AS (
              SELECT user_id, event_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
              SELECT user_id, event_id, value,
                     sum(new_session) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sn
              FROM marked
            )
            SELECT user_id, min(event_id) AS first_event,
                   count(*) AS n_events,
                   sum(round(value * 10000)::BIGINT) / 10000.0 AS total_value
            FROM sess GROUP BY user_id, sn
        """,
        "mm_binary_meta": """
            SELECT doc_id,
                   octet_length(encode(text)) AS n_bytes,
                   hex(encode(substr(text, 1, 4))) AS head_hex
            FROM documents
        """,
        "mm_decode_features": f"""
            SELECT doc_id,
                   {MM.sniff_mime_sql('text')} AS mime,
                   {MM.STUB_DIM} AS dim,
                   round({MM.stub_feat0_sql('text')}, 5) AS feat0_r
            FROM documents WHERE doc_id < 50
        """,
        "mm_resize_thumbs": f"""
            SELECT doc_id,
                   {MM.sniff_mime_sql('text')} AS mime,
                   octet_length(encode(text)) AS n_bytes_in,
                   least(octet_length(encode(text)), 64) AS n_bytes_out,
                   upper(substr(repeat(lower(sha256(text || '8x8')), 2),
                                1, 2 * least(octet_length(encode(text)), 64)))
                     AS thumb_hex
            FROM documents WHERE doc_id < 50
        """,
        "mm_frame_samples": """
            SELECT doc_id, u.i AS frame_no,
                   least(4096, L - u.i * 4096) AS frame_len
            FROM (
              -- L > 0: sample_frames skips empty payloads entirely
              -- (multimodal.py run(): `if not payload: continue`).
              -- '~' prefix mirrors the Spark query's non-magic guard byte.
              SELECT doc_id, octet_length(encode('~' || text)) AS L
              FROM documents WHERE doc_id < 50
            ), UNNEST(range(0, greatest(cast(ceil(L / 4096.0) AS INT), 1), 3)) AS u(i)
        """,
        # consistency oracles (VERDICT_r2 #5): the *_exact variants run the
        # FULL approximate machinery in configurations that provably
        # degenerate to brute force (IVF probing every list; LSH with one
        # bucket), so the already-SQL-expressible brute-force relations ARE
        # their oracles — same shapes, same rounding, same tie-breaks.
        "ann_cosine_topk_ivf_exact": f"""
            WITH probes AS (
              SELECT vec_id AS probe_id, embedding AS pvec FROM embeddings WHERE vec_id < 5
            ), scored AS (
              SELECT probe_id, e.vec_id,
                     round({V.cosine_sql('pvec', 'e.embedding')}, 5) AS cos_r
              FROM probes, embeddings e
            )
            SELECT probe_id, vec_id, cos_r, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY probe_id
                                           ORDER BY cos_r DESC, vec_id ASC) AS rank
              FROM scored) WHERE rank <= 10
        """,
        "dedup_embedding_lsh_exact": f"""
            WITH e AS (SELECT vec_id, embedding FROM embeddings)
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round({V.cosine_sql('a.embedding', 'b.embedding')}, 5) AS cos_r
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE round({V.cosine_sql('a.embedding', 'b.embedding')}, 5) >= 0.4
        """,
        # pipeline_lsh_pairs / pipeline_simhash_pairs: intentionally no
        # oracle — multiply-shift/FNV hashing is not SQL-expressible; the
        # driver records rows-only and pytest owns their correctness.
    }

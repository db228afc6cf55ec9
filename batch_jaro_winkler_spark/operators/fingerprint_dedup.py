"""Substring dedup: mod-sampled rolling-hash fingerprints + verification.

Catches verbatim long-substring duplication that shingle-MinHash misses
(SURVEY.md §7 step 8): a document embedding a >=200-char copy of another
document shares their character-level fingerprints even when the
surrounding text makes whole-doc similarity low.

Design (content-defined sampling, the rsync/CDC family; cf. winnowing,
Schleimer/Wilkerson/Aiken SIGMOD'03 — PAPERS.md):

* per doc, Rabin-Karp rolling hashes of every ``gram_chars``-char window of
  the normalized text — O(n) via a fully vectorized modular-inverse
  prefix trick (:func:`doc_fingerprints`, no shuffle).  The pipeline
  runs it inside the signatures pass, which stores each doc's
  fingerprints as two columns of its signature row, so the text crosses
  into Python once; :func:`fingerprints` is the standalone pass;
* mod-sampling keeps positions with ``hash % fp_mod == 0`` → density
  1/fp_mod, position-robust and content-deterministic (both copies of a
  substring select the same grams); a >=200-char verbatim overlap is
  missed with probability (1-1/fp_mod)^151 ≈ 0.8%;
* shuffle only (fingerprint, doc_id, pos): fingerprint buckets → candidate
  pairs through ``lsh.bucket_pairs`` (same capped two-path policy as LSH,
  hot fingerprints salted and chained), one seed per pair and offset
  diagonal (:func:`first_seeds`).  The pipeline pairs the fingerprints in
  the same ``bucket_pairs`` pass as the LSH bands (``lsh.pair_keys``) and
  verifies their seeds in the same pass as the LSH pairs;
  :func:`fingerprint_pairs` is the standalone path;
* verify (``score_pairs.verify_edges``): plain joins, which AQE sizes,
  attach bounded text slices around the seed offsets; first-mismatch
  extension over seed-aligned code-point matrices in pandas keeps the
  pairs whose longest match reaches ``min_substring_chars``.

This replaces a distributed suffix array: equivalent detection power for
fixed-length-seed verbatim duplication at a fraction of the shuffle cost
(a suffix array would shuffle every suffix; sampling ships 1/fp_mod of the
positions, and only id+hash+offset — never the text).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from batch_jaro_winkler_spark.functions.text import normalize_pandas
from batch_jaro_winkler_spark.operators.config import DedupConfig
from batch_jaro_winkler_spark.operators.lsh import bucket_pairs
from batch_jaro_winkler_spark.operators.score_pairs import verify_edges

__all__ = [
    "doc_fingerprints",
    "fingerprints",
    "fingerprint_pairs",
    "first_seeds",
    "substring_edges",
]

_BASE = np.uint64(1000003)


def _rolling_hashes(codes: np.ndarray, k: int) -> np.ndarray:
    """Rabin-Karp hashes of every k-window over uint32 code points, uint64
    wraparound arithmetic: h[i] = sum_{j<k} c[i+j] * BASE^(k-1-j)."""
    n = len(codes)
    if n < k:
        return np.empty(0, dtype=np.uint64)
    c = codes.astype(np.uint64)
    # Fully vectorized (no O(n) python scan): since BASE is odd it is
    # invertible mod 2^64, so with weighted[j] = c[j] * BASE^(-j) and
    # csum = cumsum(weighted), every window hash is
    #   h[i] = BASE^(i+k-1) * (csum[i+k-1] - csum[i-1])
    #        = sum_{j<k} c[i+j] * BASE^(k-1-j)   (all arithmetic mod 2^64)
    with np.errstate(over="ignore"):
        powers = np.empty(n, dtype=np.uint64)
        powers[0] = np.uint64(1)
        if n > 1:
            np.multiply.accumulate(np.full(n - 1, _BASE, dtype=np.uint64), out=powers[1:])
        binv = np.uint64(pow(int(_BASE), -1, 1 << 64))
        binv_pows = np.empty(n, dtype=np.uint64)
        binv_pows[0] = np.uint64(1)
        if n > 1:
            np.multiply.accumulate(np.full(n - 1, binv, dtype=np.uint64), out=binv_pows[1:])
        csum = np.cumsum(c * binv_pows, dtype=np.uint64)
        window_sums = csum[k - 1 :].copy()
        window_sums[1:] -= csum[: n - k]
        h = window_sums * powers[k - 1 : n]
    return h


def doc_fingerprints(norm: str | None, cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    """One document's fingerprints: normalized text → (fp int64[], pos
    int32[]), the mod-sampled rolling hashes and their char offsets, one
    row per distinct hash at its earliest position.  A text shorter than
    ``gram_chars`` (or null) has none; a longer one with no sampled
    position keeps its minimum hash, so whole-doc dups of short texts
    still collide."""
    none = np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int32)
    if not isinstance(norm, str):
        return none
    codes = np.frombuffer(norm.encode("utf-32-le"), dtype="<u4")
    h = _rolling_hashes(codes, cfg.gram_chars)
    if len(h) == 0:
        return none
    sel = np.flatnonzero((h & np.uint64(cfg.fp_mod - 1)) == np.uint64(0))
    if len(sel) == 0:
        sel = np.array([int(np.argmin(h))])
    else:
        # one row per distinct (fp, doc): earliest occurrence — keeps the
        # downstream shuffle (fp, doc, pos)-unique
        _, first = np.unique(h[sel], return_index=True)
        sel = sel[np.sort(first)]
    return h[sel].view(np.int64), sel.astype(np.int32)


def _normalized(
    docs: DataFrame, id_col: str, text_col: str, pre_normalized: bool
) -> DataFrame:
    """docs → (doc_id, norm), normalizing ``text_col`` in one Arrow pass
    unless it is ``pre_normalized``."""
    norm = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("norm")
    )
    if pre_normalized:
        return norm

    def _norm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pdf.assign(norm=normalize_pandas(pdf["norm"]))

    return norm.mapInPandas(_norm, schema="doc_id long, norm string")


def fingerprints(
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
    pre_normalized: bool = False,
) -> DataFrame:
    """→ (doc_id, fp, pos): mod-sampled fingerprints with char offsets into
    the normalized text."""

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            per_doc = [doc_fingerprints(norm, cfg) for norm in pdf["norm"]]
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(
                        pdf["doc_id"].to_numpy(np.int64), [len(f) for f, _ in per_doc]
                    ),
                    "fp": np.concatenate([f for f, _ in per_doc]),
                    "pos": np.concatenate([p for _, p in per_doc]),
                }
            )

    return _normalized(docs, id_col, text_col, pre_normalized).mapInPandas(
        fp, schema="doc_id long, fp long, pos int"
    )


def first_seeds(pairs: DataFrame) -> DataFrame:
    """fingerprint pairs (a, b, pos_a, pos_b), one row per shared
    fingerprint → candidate seeds: one per (a, b, pos_a - pos_b) diagonal,
    the earliest.  One seed per pair would miss a long shared passage
    whenever a short shared line (a newsletter footer) comes first on
    another diagonal.  Band pairs (null offsets) share the null diagonal,
    so they reduce to one row per (a, b), offsets still null."""
    diag = (F.col("pos_a") - F.col("pos_b")).alias("diag")
    return pairs.groupBy("a", "b", diag).agg(F.min("pos_a").alias("pos_a")).select(
        "a", "b", "pos_a", (F.col("pos_a") - F.col("diag")).alias("pos_b")
    )


def fingerprint_pairs(fps: DataFrame, cfg: DedupConfig) -> DataFrame:
    """fingerprints → candidate seeds (a, b, pos_a, pos_b): docs sharing a
    fingerprint, through :func:`~.lsh.bucket_pairs` (the LSH skew policy:
    hot fingerprints — boilerplate shared by thousands of docs — are
    salted by a doc-id hash and chained), reduced by :func:`first_seeds`."""
    # lazy checkpoint: bucket_pairs reads its input twice (size aggregate
    # and join), which would otherwise run the fingerprint pass twice
    return first_seeds(bucket_pairs(
        fps.localCheckpoint(eager=False), ["fp"], cfg.allpairs_cap,
        cfg.neighbor_window, F.xxhash64(F.col("doc_id")), payload=("pos",),
    ))


def substring_edges(
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
    pre_normalized: bool = False,
) -> DataFrame:
    """End-to-end substring stage → verified edges (a, b, match_len) where a
    verbatim common substring of >= cfg.min_substring_chars normalized chars
    exists around a shared fingerprint; one row per pair, the longest
    match over its seed diagonals: :func:`fingerprint_pairs` seeds verified
    by :func:`~.score_pairs.verify_edges`."""
    norm = _normalized(docs, id_col, text_col, pre_normalized)
    seeds = fingerprint_pairs(
        fingerprints(norm, cfg, "doc_id", "norm", pre_normalized=True), cfg
    )
    return verify_edges(seeds, norm, cfg).select("a", "b", "match_len")

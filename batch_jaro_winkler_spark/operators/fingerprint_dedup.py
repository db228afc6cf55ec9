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
  hands their seeds to :func:`substring_edges`; :func:`fingerprint_pairs`
  is the standalone path;
* verify: broadcast-join bounded text slices around the seed offsets,
  first-mismatch extension over seed-aligned code-point matrices in
  pandas, keep the pairs whose longest match reaches
  ``min_substring_chars``.

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


def fingerprints(
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
    pre_normalized: bool = False,
) -> DataFrame:
    """→ (doc_id, fp, pos): mod-sampled fingerprints with char offsets into
    the normalized text, in one Python pass over the documents."""
    prepped = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("norm"),
    )

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            if not pre_normalized:
                pdf = pdf.assign(norm=normalize_pandas(pdf["norm"]))
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

    return prepped.mapInPandas(fp, schema="doc_id long, fp long, pos int")


def first_seeds(pairs: DataFrame) -> DataFrame:
    """fingerprint pairs (a, b, pos_a, pos_b), one row per shared
    fingerprint → candidate seeds: one per (a, b, pos_a - pos_b) diagonal,
    the earliest.  One seed per pair would miss a long shared passage
    whenever a short shared line (a newsletter footer) comes first on
    another diagonal."""
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
    seeds: DataFrame | None = None,
) -> DataFrame:
    """End-to-end substring stage → verified edges (a, b, match_len) where a
    verbatim common substring of >= cfg.min_substring_chars normalized chars
    exists around a shared fingerprint; one row per pair, the longest
    match over its seed diagonals.

    ``seeds`` — precomputed candidate seeds (a, b, pos_a, pos_b), as
    :func:`fingerprint_pairs` or :func:`first_seeds` emit them (the
    pipeline passes the fingerprint share of its one pair relation),
    instead of a :func:`fingerprints` pass over ``docs``."""
    if seeds is None:
        seeds = fingerprint_pairs(
            fingerprints(docs, cfg, id_col, text_col, pre_normalized), cfg
        )
    k = cfg.gram_chars
    min_len = cfg.min_substring_chars
    # verification decides `common substring >= min_len`, so each side only
    # needs min_len chars of context around its seed offset — ship bounded
    # slices through BROADCAST joins instead of shuffling full documents
    # (at web scale the pair list is millions of rows; the documents are
    # hundreds of TB — never shuffle the big side for a verify)
    cap = min_len + k
    norm = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("norm"),
    )
    if not pre_normalized:

        def _norm(batches):
            for pdf in batches:
                yield pdf.assign(norm=normalize_pandas(pdf["norm"]))

        norm = norm.mapInPandas(_norm, schema="doc_id long, norm string")
    cand = seeds.localCheckpoint(eager=False)
    # slice side a: broadcast the (a, pos_a) keys over the documents scan,
    # keep [pos_a - cap, pos_a + cap + k) plus the local seed offset
    start_a = F.greatest(F.col("pos_a") - cap, F.lit(0))
    with_a = (
        norm.join(
            cand.select("a", "pos_a", "b", "pos_b"),
            norm.doc_id == F.col("a"),
        )
        .select(
            "a",
            "b",
            "pos_b",
            F.substring(
                F.col("norm"), start_a + 1, F.lit(2 * cap + k)
            ).alias("slice_a"),
            (F.col("pos_a") - start_a).alias("loc_a"),
        )
    )
    start_b = F.greatest(F.col("pos_b") - cap, F.lit(0))
    joined = (
        norm.join(with_a, norm.doc_id == F.col("b"))
        .select(
            "a",
            "b",
            "slice_a",
            "loc_a",
            F.substring(
                F.col("norm"), start_b + 1, F.lit(2 * cap + k)
            ).alias("slice_b"),
            (F.col("pos_b") - start_b).alias("loc_b"),
        )
    )

    def aligned(slices, locs, pad: str, width: int) -> np.ndarray:
        """(n, width) code-point matrix of the slices, each left-padded so
        its seed sits at column ``cap`` and right-padded to ``width``."""
        text = "".join(
            (pad * (cap - int(loc)) + s).ljust(width, pad)
            for s, loc in zip(slices, locs)
        )
        return np.frombuffer(text.encode("utf-32-le"), dtype="<u4").reshape(
            len(locs), width
        )

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            loc_a = pdf["loc_a"].to_numpy(np.int64)
            loc_b = pdf["loc_b"].to_numpy(np.int64)
            # every row verifies in two aligned (n, width) matrices: a seed
            # within `cap` chars of a document start has a shorter left
            # context, padded out.  Side a pads with \x00 and side b with
            # \x01 — normalized text holds neither, so a pad always
            # mismatches and each extension stops where the shorter
            # context ends.  Width: the longest context right of a seed,
            # and at least the seed gram, so a hand-built seed past a doc
            # end never passes on a partial gram
            width = cap + max(
                k,
                int((pdf["slice_a"].str.len().to_numpy() - loc_a).max()),
                int((pdf["slice_b"].str.len().to_numpy() - loc_b).max()),
            )
            eq = aligned(pdf["slice_a"], loc_a, "\x00", width) == aligned(
                pdf["slice_b"], loc_b, "\x01", width
            )
            seed_ok = eq[:, cap : cap + k].all(axis=1)
            left = eq[:, cap - 1 :: -1]
            lo = np.where(left.all(axis=1), cap, np.argmin(left, axis=1))
            right = eq[:, cap:]
            hi = np.where(right.all(axis=1), width - cap, np.argmin(right, axis=1))
            total = lo + hi
            keep = np.flatnonzero((total >= min_len) & seed_ok)
            if len(keep):
                yield pd.DataFrame(
                    {
                        "a": pdf["a"].to_numpy(np.int64)[keep],
                        "b": pdf["b"].to_numpy(np.int64)[keep],
                        "match_len": total[keep].astype(np.int32),
                    }
                )

    return (
        joined.mapInPandas(verify, schema="a long, b long, match_len int")
        .groupBy("a", "b")
        .agg(F.max("match_len").alias("match_len"))
    )

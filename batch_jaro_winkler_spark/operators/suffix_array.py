"""Per-partition suffix-array substring detection (SURVEY.md §7 step 8).

The exact-substring companion to operators/fingerprint_dedup.py: where
mod-sampling is probabilistic (misses a >=200-char overlap with p~0.8%),
the suffix-array path is exact *within a partition*: two documents share
a verbatim substring of at least ``min_len`` chars exactly when they share
a ``min_len``-char window, so it sorts every document's windows once by
their rolling hash and pairs the documents of each exact window class.

Scale shape: each partition is processed independently (mapInPandas, no
shuffle); cross-partition duplicates are out of its reach, which is what
the optional content-key co-partitioning narrows.  The pipeline's
substring stage is the fingerprint path; this exact detector backs the
two ``dedup_substring_*`` queries only.  This mirrors the
deduplicate-text-datasets design (Lee et al. 2022, PAPERS.md): suffix
structures bounded per worker, never global.

Kernel: the windows are keyed with the fingerprint stage's Rabin-Karp
rolling hash (a window never crosses a document, so no separator is
needed) and argsorted once.  A key shared by fewer than two documents
cannot pair; the other windows are compared with the first window of
their key, code point by code point, so a hash collision never pairs.
"""

from __future__ import annotations

from collections.abc import Iterator
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from batch_jaro_winkler_spark.functions.text import normalize_pandas
from batch_jaro_winkler_spark.operators.config import DedupConfig
from batch_jaro_winkler_spark.operators.fingerprint_dedup import _rolling_hashes

__all__ = ["suffix_array_edges", "partition_substring_pairs"]

# elements cap for the m x min_len exact-prefix matrix; above it, class
# ids are refined over bounded column blocks instead (only windows whose
# key collides with a different window reach it)
_PREFIX_MAT_CAP = 4_000_000


def _exact_prefix_classes(buf: np.ndarray, idx: np.ndarray, min_len: int) -> np.ndarray:
    """Class ids (0..k-1) grouping the windows at ``idx`` by their exact
    first ``min_len`` code points.  Small sets materialize the full
    m x min_len matrix; large ones refine incrementally over column
    blocks so peak extra memory stays ~_PREFIX_MAT_CAP elements."""
    m = len(idx)
    if m * min_len <= _PREFIX_MAT_CAP:
        prefixes = buf[idx[:, None] + np.arange(min_len)]
        _, inv = np.unique(prefixes, axis=0, return_inverse=True)
        return inv
    block = max(1, _PREFIX_MAT_CAP // m)
    inv = np.zeros(m, dtype=np.int64)
    for c0 in range(0, min_len, block):
        cols = buf[idx[:, None] + np.arange(c0, min(c0 + block, min_len))]
        mat = np.concatenate([inv[:, None], cols.astype(np.int64)], axis=1)
        _, inv = np.unique(mat, axis=0, return_inverse=True)
        if int(inv.max()) + 1 == m:  # all singletons — no finer split possible
            break
    return inv


def partition_substring_pairs(
    doc_ids: np.ndarray, texts: list, min_len: int
) -> set[tuple[int, int]]:
    """Exact >=min_len cross-document substring pairs within one partition.

    Keys every ``min_len``-char window of every document with
    ``_rolling_hashes`` over the concatenated code points (a null text has
    no windows), argsorts the keys once and keeps the keys that two or
    more documents share.  Each kept window is compared with the first
    window of its key; the rare window that differs (a hash collision) is
    classed by :func:`_exact_prefix_classes`.  Every pair of distinct
    documents in an exact class is emitted, once per distinct owner set,
    so the output is exactly the relation "docs a < b share a verbatim
    >= min_len substring", which a DuckDB gram-intersection oracle can
    check (driver query ``dedup_substring_exact``).
    """
    texts = [t if isinstance(t, str) else "" for t in texts]
    lens = np.array([len(t) for t in texts], dtype=np.int64)
    buf = np.frombuffer("".join(texts).encode("utf-32-le"), dtype="<u4")
    owner = np.repeat(np.arange(len(texts)), lens)
    start = np.flatnonzero(np.arange(len(buf)) + min_len <= np.cumsum(lens)[owner])
    key, owner = _rolling_hashes(buf, min_len)[start], owner[start]
    if len(key) < 2:
        return set()
    # stable: within a key, windows stay in buffer order, so owners ascend
    order = np.argsort(key, kind="stable")
    key, owner, start = key[order], owner[order], start[order]
    new = np.r_[True, key[1:] != key[:-1]]
    head, gid = np.flatnonzero(new), np.cumsum(new) - 1
    keep = (owner[head] != owner[np.r_[head[1:], len(key)] - 1])[gid]
    gid, owner, start = gid[keep], owner[keep], start[keep]
    lead = start[np.searchsorted(gid, gid)]  # first kept window of the key
    same = np.ones(len(start), dtype=bool)
    for j in range(min_len):
        same &= buf[start + j] == buf[lead + j]
    gid[~same] = len(head) + _exact_prefix_classes(buf, start[~same], min_len)
    c, o = np.divmod(np.unique(gid * len(texts) + owner), len(texts))
    size = np.bincount(c)
    pairs: set[tuple[int, int]] = set()
    for s in np.unique(size[size > 1]):
        for row in np.unique(o[size[c] == s].reshape(-1, s), axis=0):
            pairs.update(combinations(np.sort(doc_ids[row]).tolist(), 2))
    return pairs


def suffix_array_edges(
    docs: DataFrame,
    cfg: DedupConfig,
    co_partition: bool = False,
) -> DataFrame:
    """docs[doc_id, text] → (a, b) exact within-partition substring pairs.

    ``co_partition=True`` first routes every document to the partition of
    its minimum ``gram_chars``-gram rolling hash (a deterministic content
    key), so documents sharing enough verbatim content — in particular
    full and near-full duplicates, whose global-min gram lies inside the
    shared region — land in ONE partition regardless of how the input was
    partitioned.  The guarantee is content-proportional, not absolute: two
    docs sharing only a short-relative-to-doc block may min on disjoint
    grams and stay unpaired here.  (The pipeline's substring stage is the
    probabilistic fingerprint path, fingerprint_dedup, p_miss ≈ 0.8% per
    >=200-char overlap; it does not call this detector.)"""
    min_len = cfg.min_substring_chars
    prepped = docs.select(F.col("doc_id").cast("long"), F.col("text").alias("norm"))

    if co_partition:
        k = cfg.gram_chars

        def keyed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf.assign(norm=normalize_pandas(pdf["norm"]))
                ckeys = np.empty(len(pdf), dtype=np.int64)
                for i, t in enumerate(pdf["norm"]):
                    t = t if isinstance(t, str) else ""  # null: no windows
                    codes = np.frombuffer(t.encode("utf-32-le"), dtype="<u4")
                    h = _rolling_hashes(codes, k)
                    ckeys[i] = h.min().astype(np.int64) if len(h) else np.int64(0)
                yield pdf.assign(ckey=ckeys)[["doc_id", "norm", "ckey"]]

        n_parts = docs.sparkSession.sparkContext.defaultParallelism
        prepped = (
            prepped.mapInPandas(keyed, schema="doc_id long, norm string, ckey long")
            .repartition(n_parts, "ckey")
            .drop("ckey")
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids: list = []
        all_texts: list = []
        for pdf in batches:
            if not co_partition:  # else the keyed pass normalized already
                pdf = pdf.assign(norm=normalize_pandas(pdf["norm"]))
            all_ids.extend(pdf["doc_id"])
            all_texts.extend(pdf["norm"])
        pairs = partition_substring_pairs(
            np.asarray(all_ids, dtype=np.int64), all_texts, min_len
        )
        if pairs:
            arr = np.array(sorted(pairs), dtype=np.int64)
            yield pd.DataFrame({"a": arr[:, 0], "b": arr[:, 1]})

    return prepped.mapInPandas(run, schema="a long, b long")

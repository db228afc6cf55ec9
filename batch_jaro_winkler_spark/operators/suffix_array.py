"""Per-partition suffix-array substring detection (SURVEY.md §7 step 8).

The exact-substring companion to operators/fingerprint_dedup.py: where
mod-sampling is probabilistic (misses a >=200-char overlap with p~0.8%),
the suffix-array path is exact *within a partition*: build one suffix
array over the partition's concatenated normalized text (numpy argsort on
fixed-width gram keys, refined to full suffix order), walk adjacent
suffixes, and emit every cross-document LCP >= min_len.

Scale shape: each partition is processed independently (mapInPandas, no
shuffle); cross-partition duplicates are out of its reach, which is what
the optional content-key co-partitioning narrows.  The pipeline's
substring stage is the fingerprint path; this exact detector backs the
two ``dedup_substring_*`` queries only.  This mirrors the
deduplicate-text-datasets design (Lee et al. 2022, PAPERS.md): suffix
structures bounded per worker, never global.

Kernel: radix-ish suffix ordering via numpy lexsort over k prefix code
points (k = min_len suffices: suffixes equal in their first min_len chars
are interchangeable for >=min_len overlap detection), then adjacent-pair
LCP evaluation vectorized over the sorted order.
"""

from __future__ import annotations

from collections.abc import Iterator
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from batch_jaro_winkler_spark.functions.text import normalize_pandas
from batch_jaro_winkler_spark.operators.config import DedupConfig

__all__ = ["suffix_array_edges", "partition_substring_pairs"]

# separator sentinel between documents: strictly ABOVE the Unicode range
# (buffer is uint32), so no real code point — including U+FFFD and astral
# plane chars common in un-normalized web text — is ever mistaken for one
_SEP = 0x110000

# elements cap for the run_len x min_len exact-prefix matrix; above it,
# class ids are refined over bounded column blocks instead (degenerate
# normalized text — long repeated boilerplate — can make one sampled-key
# run cover most of a partition's suffixes)
_PREFIX_MAT_CAP = 4_000_000


def _exact_prefix_classes(buf: np.ndarray, idx: np.ndarray, min_len: int) -> np.ndarray:
    """Class ids (0..k-1) grouping the suffixes at ``idx`` by their exact
    first ``min_len`` code points.  Small runs materialize the full
    run_len x min_len matrix; large runs refine incrementally over column
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

    Builds the concatenated code-point buffer with separators, sorts all
    suffixes by their first min_len code points (sufficient: any two
    suffixes sharing >= min_len chars are adjacent-equal under this key),
    then scans runs of equal keys and pairs distinct documents in each run.

    Every cross-document pair of each exact class is emitted, so the
    output is exactly the relation "docs a < b share a verbatim >= min_len
    substring", which a DuckDB gram-intersection oracle can check (driver
    query ``dedup_substring_exact``).
    """
    if len(texts) < 2:
        return set()
    bufs = []
    owner_spans = []
    for i, t in enumerate(texts):
        codes = np.frombuffer(t.encode("utf-32-le"), dtype="<u4")
        bufs.append(codes)
        bufs.append(np.array([_SEP + (i % 7)], dtype="<u4"))  # vary separators
        owner_spans.append(len(codes) + 1)
    buf = np.concatenate(bufs)
    n = len(buf)
    owner = np.repeat(np.arange(len(texts), dtype=np.int64), owner_spans)

    # positions with at least min_len real chars before the next separator:
    # run-length to next separator
    is_sep = buf >= _SEP
    # distance to next separator (inclusive scan from the right)
    sep_pos = np.flatnonzero(is_sep)
    next_sep_of = np.full(n, n, dtype=np.int64)
    if len(sep_pos):
        idx = np.searchsorted(sep_pos, np.arange(n), side="left")
        idx = np.minimum(idx, len(sep_pos) - 1)
        next_sep_of = sep_pos[idx]
        next_sep_of[np.arange(n) > sep_pos[-1]] = n
    dist = next_sep_of - np.arange(n)
    starts = np.flatnonzero(dist >= min_len)
    if len(starts) < 2:
        return set()

    # sort suffixes by their first min_len code points: lexsort over
    # min(min_len, 64) stride-sampled key columns + tie-break by full
    # comparison within runs.  Full min_len keys would be min_len arrays;
    # instead sort by 16 sampled columns then verify runs exactly.
    n_keys = 16
    key_offsets = np.linspace(0, min_len - 1, n_keys).astype(np.int64)
    keys = [buf[starts + off] for off in key_offsets[::-1]]
    order = np.lexsort(keys)
    s = starts[order]

    pairs: set[tuple[int, int]] = set()
    # runs of equal sampled keys → group members by their FULL min_len
    # prefix (np.unique over the exact prefix rows), then pair the
    # distinct owners per exact class.  Adjacency in the sampled order is
    # NOT enough: a suffix matching only the 16 sampled positions can
    # interleave between two true matches and split their class.
    key_mat = np.stack([buf[s + off] for off in key_offsets], axis=1)
    same_as_prev = np.all(key_mat[1:] == key_mat[:-1], axis=1)
    j = 0
    m = len(s)
    while j < m - 1:
        if not same_as_prev[j]:
            j += 1
            continue
        # run [j, end) of equal sampled keys
        end = j + 1
        while end < m and same_as_prev[end - 1]:
            end += 1
        idx = s[j:end]
        inv = _exact_prefix_classes(buf, idx, min_len)
        for cls in range(int(inv.max()) + 1):
            owners = np.unique(owner[idx[inv == cls]])
            if len(owners) > 1:
                pairs.update(combinations(np.sort(doc_ids[owners]).tolist(), 2))
        j = end
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
        from batch_jaro_winkler_spark.operators.fingerprint_dedup import (
            _rolling_hashes,
        )

        k = cfg.gram_chars

        def keyed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf.assign(norm=normalize_pandas(pdf["norm"]))
                ckeys = np.empty(len(pdf), dtype=np.int64)
                for i, t in enumerate(pdf["norm"]):
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

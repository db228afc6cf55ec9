"""Signature stage: k-shingle MinHash + LSH band hashes + SimHash per doc.

The 100 TB-scale design (SURVEY.md §7 step 4): this stage is embarrassingly
parallel — a single ``mapInPandas`` pass with ZERO shuffles.  Tokenization
happens JVM-side (built-in functions, codegen); only the hash math crosses
the Arrow boundary, vectorized in numpy (never per-row Python, per
BASELINE.json input_hint).

Hashing scheme (fast path):
* shingle base hash: ``pandas.util.hash_array`` (SipHash-derived, fixed key,
  deterministic across runs/machines — required for resumability and the
  driver's value-hash checks);
* MinHash permutations: multiply-shift ``h_i = a_i * h + b_i (mod 2^64)``
  with odd ``a_i`` drawn from a seeded RNG — each is a bijection of Z_2^64,
  a standard approximate min-wise family;
* band hash: FNV-1a fold of the band's row values;
* SimHash: per-bit votes over shingle hashes, packed to int64.

The reference analog is O1/O4 model compilation (lib/batch_jaro_winkler.c:
513-627): compile once, query many — here the signature table is the
compiled artifact, checkpointed and reused by every downstream stage.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from batch_jaro_winkler_spark.functions.text import normalize_pandas
from batch_jaro_winkler_spark.operators.config import DedupConfig
from batch_jaro_winkler_spark.operators.fingerprint_dedup import doc_fingerprints

__all__ = ["compute_signatures", "minhash_params"]

_FNV_OFFSET = np.uint64(14695981039346656037)
_FNV_PRIME = np.uint64(1099511628211)


def minhash_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 2**63, size=num_perm, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 2**63, size=num_perm, dtype=np.uint64)
    return a, b


def _batch_shingle_hashes(
    tok_lists: list, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """All k-token shingle hashes of a batch in one vectorized pass.

    Token hashing is ONE ``pd.util.hash_array`` call over the batch's
    concatenated tokens; a k-token shingle hash is an FNV-1a fold of the k
    consecutive token hashes (never a string join — joins were the profile
    hot spot).  Rows shorter than k tokens contribute a single whole-row
    shingle.  Returns (shingle_hashes uint64, row_offsets int64) where
    row_offsets[i]:row_offsets[i+1] slices row i's shingles.
    """
    n_rows = len(tok_lists)
    lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=n_rows)
    total = int(lens.sum())
    n_shingles = np.where(lens == 0, 0, np.maximum(lens - k + 1, 1))
    row_offsets = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(n_shingles, out=row_offsets[1:])
    out = np.empty(int(row_offsets[-1]), dtype=np.uint64)
    if total == 0:
        return out, row_offsets

    flat = np.empty(total, dtype=object)
    pos = 0
    for t in tok_lists:
        flat[pos : pos + len(t)] = t
        pos += len(t)
    th = pd.util.hash_array(flat).astype(np.uint64)

    starts = np.zeros(n_rows, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    with np.errstate(over="ignore"):
        # full-width windows: fold k consecutive token hashes at every
        # position, then keep positions whose window stays inside one row
        if total >= k:
            acc = np.full(total - k + 1, _FNV_OFFSET, dtype=np.uint64)
            for t in range(k):
                acc = (acc ^ th[t : total - k + 1 + t]) * _FNV_PRIME
        else:
            acc = np.empty(0, dtype=np.uint64)
        long_rows = np.flatnonzero(lens >= k)
        for r in long_rows:
            o = row_offsets[r]
            s = starts[r]
            out[o : o + lens[r] - k + 1] = acc[s : s + lens[r] - k + 1]
        # short rows (0 < len < k): one fold over all their tokens
        for r in np.flatnonzero((lens > 0) & (lens < k)):
            a = _FNV_OFFSET
            for t in range(starts[r], starts[r] + lens[r]):
                a = (a ^ th[t]) * _FNV_PRIME
            out[row_offsets[r]] = a
    return out, row_offsets


def compute_signatures(
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
    include_norm: bool = False,
) -> DataFrame:
    """docs[id_col, text_col] → [doc_id, n_tokens, sort_key, band_hashes,
    simhash] (plus ``norm``, ``fps`` and ``fp_pos`` when ``include_norm``)
    with no shuffle (narrow map only).

    ``sort_key`` is minhash[0] — the only signature value downstream stages
    need row-wise (hot-bucket neighbor ordering); the full 128-perm array is
    folded into ``band_hashes`` here and never materialized (checkpointing
    128 longs per doc is pure I/O waste at 10^12 rows).

    ``include_norm`` emits the full normalized text as ``norm``; the
    pipeline derives the Jaro-Winkler prefix from it with one substring.
    This lets the pipeline fuse normalization into this stage instead of
    paying a separate normalize checkpoint's write→read barrier.  With
    ``norm`` come its substring fingerprints (``fps``, ``fp_pos``;
    :func:`~.lsh.pair_keys` explodes them beside the band hashes): only
    the stages that read ``norm`` use them, and computing them here spares
    the substring stage a second Python pass over the text."""
    num_perm, bands, rows = cfg.num_perm, cfg.bands, cfg.rows_per_band
    k = cfg.shingle_k
    seed = cfg.seed

    # ship ONE string per row across Arrow — serializing token arrays (tens
    # of millions of small strings) costs more than the hash math itself;
    # tokenization and normalization happen in pandas
    prepped = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("norm"),
    )

    a_params, b_params = minhash_params(num_perm, seed)

    # rows-per-inner-chunk sized so the (shingles x num_perm) uint64 table
    # stays comfortably in cache/memory (~32k shingles -> ~32 MB)
    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bit_idx = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            n = len(pdf)
            pdf = pdf.assign(norm=normalize_pandas(pdf["norm"]))
            tok_lists = [s.split(" ") if s else [] for s in pdf["norm"]]
            sh, row_off = _batch_shingle_hashes(tok_lists, k)
            out_sort = np.full(n, -1, dtype=np.int64)
            out_band = np.full((n, bands), -1, dtype=np.int64)
            out_sim = np.zeros(n, dtype=np.uint64)
            nonempty = np.flatnonzero(row_off[1:] > row_off[:-1])
            # chunk rows so each (shingles x num_perm) uint64 table stays
            # cache-resident (~1 MB) even with 32 concurrent workers
            # sharing L3: the multiply-shift table is the dominant memory
            # traffic, and DRAM bandwidth — not cores — becomes the local
            # bottleneck if chunks spill to main memory
            shingle_budget = 1_024
            ne_counts = (row_off[nonempty + 1] - row_off[nonempty]).cumsum()
            chunk_ids = np.searchsorted(
                np.arange(0, ne_counts[-1] + shingle_budget, shingle_budget),
                ne_counts,
                side="left",
            ) if len(nonempty) else np.empty(0, dtype=np.int64)
            chunk_bounds = np.flatnonzero(
                np.diff(np.concatenate(([-1], chunk_ids)))
            )
            chunk_bounds = np.append(chunk_bounds, len(nonempty))
            with np.errstate(over="ignore"):
                for ci in range(len(chunk_bounds) - 1):
                    rows_c = nonempty[chunk_bounds[ci] : chunk_bounds[ci + 1]]
                    if not len(rows_c):
                        continue
                    # a chunk is a run of consecutive non-empty rows (the
                    # empty rows between them own no shingles), so its
                    # shingles are one contiguous slice
                    start = row_off[rows_c[0]]
                    h = sh[start : row_off[rows_c[-1] + 1]]
                    bounds = row_off[rows_c] - start
                    # MinHash: multiply-shift table + segmented min
                    table = h[:, None] * a_params[None, :] + b_params[None, :]
                    sig = np.minimum.reduceat(table, bounds, axis=0)
                    out_sort[rows_c] = sig[:, 0].view(np.int64)
                    # band hashes: FNV fold across each band's rows
                    acc = np.full((len(rows_c), bands), _FNV_OFFSET, dtype=np.uint64)
                    sig3 = sig.reshape(len(rows_c), bands, rows)
                    for t in range(rows):
                        acc = (acc ^ sig3[:, :, t]) * _FNV_PRIME
                    acc = (acc ^ np.arange(bands, dtype=np.uint64)[None, :]) * _FNV_PRIME
                    out_band[rows_c] = acc.view(np.int64)
                    # SimHash: per-bit votes over shingle hashes —
                    # unpackbits keeps the bit table uint8 (8x less
                    # traffic than int64 masks); votes fit int32
                    bits = np.unpackbits(
                        h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
                    ).astype(np.int32)
                    votes = np.add.reduceat(2 * bits - 1, bounds, axis=0)
                    packed = np.where(
                        votes > 0, np.uint64(1) << bit_idx[None, :], np.uint64(0)
                    )
                    out_sim[rows_c] = packed.sum(axis=1, dtype=np.uint64)
            cols = {
                "doc_id": pdf["doc_id"],
                "n_tokens": np.fromiter(
                    (len(t) for t in tok_lists), dtype=np.int32, count=n
                ),
                "sort_key": out_sort,
                "band_hashes": list(out_band),
                "simhash": out_sim.view(np.int64),
            }
            if include_norm:
                cols["norm"] = pdf["norm"]
                per_doc = [doc_fingerprints(norm, cfg) for norm in pdf["norm"]]
                cols["fps"] = [f for f, _ in per_doc]
                cols["fp_pos"] = [p for _, p in per_doc]
            yield pd.DataFrame(cols)

    schema = "doc_id long, n_tokens int, sort_key long, band_hashes array<long>, simhash long"
    if include_norm:
        schema += ", norm string, fps array<long>, fp_pos array<int>"
    return prepped.mapInPandas(compute, schema=schema)

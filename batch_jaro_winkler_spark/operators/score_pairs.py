"""DataFrame-level batched Jaro-Winkler scoring (the kernel's Spark face).

* :func:`verify_edges` — the pipeline's one verify pass over both
  detectors' candidates: LSH pairs (null offsets) are scored by the
  reference-semantics kernel on their ``max_jw_len`` prefixes, fingerprint
  seeds are extended over bounded slices around their offsets.  One pair
  of equi-joins attaches the text to both pair sides (Catalyst picks the
  join strategy; AQE sizes them), the prefix or slice is cut JVM-side, and
  one ``mapInPandas`` pass with no shuffle of its own verifies both kinds.
  :func:`verify_pairs` and ``fingerprint_dedup.substring_edges`` are its
  single-kind faces.
* :func:`score_topk` — rank a small probe set, shipped with the closure,
  against a large candidate corpus, compile once and query many: the
  candidates are cut into model-sized chunks and the probes into shards,
  and each (chunk, shard) cell — one task — compiles ONE model of its
  chunk and scores its shard; a window merges the cells' exact partial
  top-k (SURVEY.md O15/R4).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from batch_jaro_winkler_spark.kernel import build_model, score, score_pair_batch
from batch_jaro_winkler_spark.operators.config import DedupConfig

__all__ = ["verify_edges", "verify_pairs", "score_topk"]

# score_topk collects its probe set to the driver and ships it with the
# closure; larger probe sets belong on verify_pairs over LSH candidates
_MAX_PROBES = 100_000

# rows per coalesced verify frame and per score_topk candidate chunk:
# per-task memory stays ~tens of MB at 256-char texts
_COALESCE_ROWS = 100_000


def _coalesced(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Concatenate a partition's Arrow batches into frames of at least
    ``_COALESCE_ROWS`` rows (the last one may be shorter), so
    :func:`verify_edges`' distinct-text-pair memo sees the partition at
    once."""
    pending: list[pd.DataFrame] = []
    n_pending = 0
    for pdf in batches:
        pending.append(pdf)
        n_pending += len(pdf)
        if n_pending >= _COALESCE_ROWS:
            yield pending[0] if len(pending) == 1 else pd.concat(
                pending, ignore_index=True
            )
            pending, n_pending = [], 0
    if pending:
        yield pending[0] if len(pending) == 1 else pd.concat(
            pending, ignore_index=True
        )


def _edge_frame(pdf: pd.DataFrame, sel: np.ndarray, score=None, match_len=None) -> pd.DataFrame:
    """verify_edges' output rows ``sel`` of ``pdf``; the kind that did not
    produce them leaves its column null."""
    missing = [None] * len(sel)
    return pd.DataFrame(
        {
            "a": pdf["a"].to_numpy(np.int64)[sel],
            "b": pdf["b"].to_numpy(np.int64)[sel],
            "score": pd.array(missing if score is None else score, dtype="Float32"),
            "match_len": pd.array(missing if match_len is None else match_len, dtype="Int32"),
        }
    )


def _score_text_pairs(pdf: pd.DataFrame, cfg: DedupConfig) -> pd.DataFrame | None:
    """LSH rows (a, b, text_a, text_b) → the rows whose Jaro-Winkler score
    reaches ``jw_min_score``.  A dedup corpus scores many IDENTICAL text
    pairs (exact-duplicate groups explode into cliques): the score is a
    pure function of the texts, so each distinct text pair is scored once
    and the results fan back out — row-identical output."""
    if not len(pdf):
        return None
    # injective pair key with NO string concatenation (optimization round
    # 7): factorize each text column once (hashes the original strings in
    # place), then factorize the combined int code — (code_a, code_b)
    # identifies the text pair exactly
    ca, _ = pd.factorize(pdf["text_a"], sort=False)
    cb, _ = pd.factorize(pdf["text_b"], sort=False)
    codes, _ = pd.factorize(ca.astype(np.int64) * (int(cb.max()) + 1) + cb, sort=False)
    first = np.zeros(int(codes.max()) + 1, dtype=np.int64)
    first[codes[::-1]] = np.arange(len(codes) - 1, -1, -1, dtype=np.int64)
    distinct = pdf.iloc[first]
    # every distinct text pair through the lockstep PAIRWISE kernel in ONE
    # call: no per-group model, no per-pair interpreter loop
    full = score_pair_batch(
        distinct["text_a"].tolist(),
        distinct["text_b"].tolist(),
        weight=cfg.jw_weight,
        threshold=cfg.jw_threshold,
    )[codes]
    sel = np.flatnonzero(full >= np.float32(cfg.jw_min_score))
    return _edge_frame(pdf, sel, score=full[sel]) if len(sel) else None


def _extend_seeds(pdf: pd.DataFrame, cfg: DedupConfig) -> pd.DataFrame | None:
    """Seed rows (a, b, text_a, loc_a, text_b, loc_b): slices of the two
    docs and each seed's offset inside its slice → the rows whose common
    substring through the aligned seed reaches ``min_substring_chars``.

    Every row verifies in two aligned (n, width) code-point matrices,
    each slice left-padded so its seed sits at column ``cap``: a seed
    within ``cap`` chars of a document start has a shorter left context,
    padded out.  Side a pads with \x00 and side b with \x01 — normalized
    text holds neither, so a pad always mismatches and each extension
    stops where the shorter context ends."""
    if not len(pdf):
        return None
    k = cfg.gram_chars
    cap = cfg.min_substring_chars + k
    loc_a = pdf["loc_a"].to_numpy(np.int64)
    loc_b = pdf["loc_b"].to_numpy(np.int64)
    # width: the longest context right of a seed, and at least the seed
    # gram, so a hand-built seed past a doc end never passes on a partial
    # gram
    width = cap + max(
        k,
        int((pdf["text_a"].str.len().to_numpy() - loc_a).max()),
        int((pdf["text_b"].str.len().to_numpy() - loc_b).max()),
    )

    def aligned(slices, locs, pad: str) -> np.ndarray:
        text = "".join(
            (pad * (cap - int(loc)) + s).ljust(width, pad) for s, loc in zip(slices, locs)
        )
        return np.frombuffer(text.encode("utf-32-le"), dtype="<u4").reshape(len(locs), width)

    eq = aligned(pdf["text_a"], loc_a, "\x00") == aligned(pdf["text_b"], loc_b, "\x01")
    seed_ok = eq[:, cap : cap + k].all(axis=1)
    left = eq[:, cap - 1 :: -1]
    lo = np.where(left.all(axis=1), cap, np.argmin(left, axis=1))
    right = eq[:, cap:]
    hi = np.where(right.all(axis=1), width - cap, np.argmin(right, axis=1))
    total = lo + hi
    sel = np.flatnonzero((total >= cfg.min_substring_chars) & seed_ok)
    return _edge_frame(pdf, sel, match_len=total[sel].astype(np.int32)) if len(sel) else None


def verify_edges(pairs: DataFrame, norm: DataFrame, cfg: DedupConfig) -> DataFrame:
    """pairs[a, b, pos_a, pos_b] x norm[doc_id, norm] → edges[a, b, score,
    match_len], one row per verified (a, b).

    A row with a null ``pos_a`` is an LSH pair: its ``score`` is the
    Jaro-Winkler score (reference kernel semantics, float32) of the two
    docs' ``max_jw_len`` prefixes, kept when it reaches ``jw_min_score``.
    Any other row is a fingerprint seed at char offsets (pos_a, pos_b):
    its ``match_len`` is the verbatim common substring through the aligned
    seed grams, kept when it reaches ``min_substring_chars``; a pair keeps
    its longest match over its seeds.  A kind that did not produce the
    edge leaves its column null, and a null text matches nothing.

    Verification decides ``common substring >= min_len``, so a seed side
    needs only ``cap = min_len + gram_chars`` chars of context around its
    offset: each side hands the Python worker the slice
    ``[pos - cap, pos + cap + k)``.  The cut runs after the join, so a
    sort-merge attach join still shuffles every document's whole ``norm``
    once per side; only the Python side gets the cut text.  The pair list
    is cut by a lazy localCheckpoint, so AQE sizes the attach joins from
    its materialized size."""
    k = cfg.gram_chars
    cap = cfg.min_substring_chars + k

    def attach(df: DataFrame, s: str) -> DataFrame:
        """``df`` with side ``s``'s text cut to the LSH prefix or the seed
        slice (``text_{s}``) and the seed offset inside it (``loc_{s}``)"""
        pos, text = F.col(f"pos_{s}"), F.col("norm")
        start = F.greatest(pos - cap, F.lit(0))
        cut = F.when(pos.isNull(), F.substring(text, 1, cfg.max_jw_len)).otherwise(
            F.substring(text, start + 1, F.lit(2 * cap + k))
        )
        return df.join(norm.withColumnRenamed("doc_id", s), s).select(
            *[c for c in df.columns if c != f"pos_{s}"],
            cut.alias(f"text_{s}"),
            (pos - start).alias(f"loc_{s}"),
        )

    joined = attach(attach(pairs.localCheckpoint(eager=False), "a"), "b")

    # No shuffle: rows are independent, so any physical distribution is
    # correct.  LSH rows are coalesced so the distinct-text-pair memo sees
    # the whole partition; seeds extend one Arrow batch at a time, so the
    # two (n x width) matrices stay batch-sized
    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        extended: list[pd.DataFrame | None] = []

        def lsh_rows() -> Iterator[pd.DataFrame]:
            for pdf in batches:
                # drop null texts up front: a NaN memo key would factorize
                # to code -1 and corrupt the last distinct slot
                pdf = pdf[pdf["text_a"].notna() & pdf["text_b"].notna()]
                is_seed = pdf["loc_a"].notna()
                extended.append(_extend_seeds(pdf[is_seed], cfg))
                yield pdf[~is_seed]

        # every batch yields an LSH frame (maybe empty), so the last
        # coalesced frame comes after the last seed batch extended
        for pdf in _coalesced(lsh_rows()):
            for out in (_score_text_pairs(pdf, cfg), *extended):
                if out is not None:
                    yield out
            extended.clear()

    return (
        joined.select("a", "b", "text_a", "loc_a", "text_b", "loc_b")
        .mapInPandas(verify, schema="a long, b long, score float, match_len int")
        .groupBy("a", "b")
        .agg(F.max("score").alias("score"), F.max("match_len").alias("match_len"))
    )


def verify_pairs(
    pairs: DataFrame,
    docs_text: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "jw_text",
) -> DataFrame:
    """pairs[a, b] x docs_text[id_col, text_col] → edges[a, b, score]
    with score >= cfg.jw_min_score (reference kernel semantics, float32,
    on the ``max_jw_len`` prefixes): :func:`verify_edges` over LSH pairs."""
    no_pos = F.lit(None).cast("int")
    return verify_edges(
        pairs.select("a", "b", no_pos.alias("pos_a"), no_pos.alias("pos_b")),
        docs_text.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("norm")),
        cfg,
    ).select("a", "b", "score")


def _placed_cells(cands: DataFrame, n_chunks: int, n_shards: int) -> DataFrame:
    """cands[cand_id, cand_text] → one row per (candidate, shard) with its
    ``cell = pmod(xxhash64(cand_id), n_chunks) * n_shards + shard``, each
    of the ``n_chunks * n_shards`` cells in a partition of its own: the
    partition id IS the cell.  Hashing the cell numbers collides, and
    ``repartitionByRange`` draws its bounds from a sample re-seeded per
    call, so equal-sized cells shared a partition in 5 of 8 calls at 30k
    candidates."""
    n_cells = n_chunks * n_shards
    cells = cands.select(
        "cand_id",
        "cand_text",
        F.explode(F.sequence(F.lit(0), F.lit(n_shards - 1))).alias("shard"),
    ).select(
        "cand_id",
        "cand_text",
        (F.pmod(F.xxhash64("cand_id"), F.lit(n_chunks)) * n_shards + F.col("shard")).alias("cell"),
    )
    return cells.repartitionById(n_cells, F.col("cell").cast("int"))


def score_topk(
    probes: DataFrame,
    candidates: DataFrame,
    k: int | None,
    *,
    min_score: float | None = None,
    weight: float | None = 0.1,
    threshold: float | None = 0.7,
    dtype=np.float32,
    cand_transform=None,
) -> DataFrame:
    """probes[probe_id, probe_text] x candidates[cand_id, cand_text] →
    per-probe top-k (probe_id, cand_id, score), ties broken on cand_id
    ascending (SURVEY.md O15).  A null text matches nothing.

    Compile once, query many: the candidates are split into
    ``ceil(count / _COALESCE_ROWS)`` chunks by ``xxhash64(cand_id)``, the
    probes into ``S = defaultParallelism // chunks`` shards (at least 1,
    at most one per probe), and every (chunk, shard) cell — one task of
    its own — compiles ONE model of its chunk and scores its shard of the
    probes.  A small candidate set is one chunk scored by every core; a
    web-scale one is many chunks of one shard each.  Each cell sorts its
    chunk by cand_id before compiling, so the kernel's n_best tie-break
    (candidate position ascending) is cand_id ascending and the cell's
    top-k is exact; a window then takes the global top-k per probe, and
    the result does not depend on the chunk count or the input
    partitioning.

    The probe frame is collected to the driver and shipped with the
    closure — correct only for genuinely small probe sets, so the size is
    guarded by ``_MAX_PROBES`` (error, not silent collect-the-world).  A
    probe set too large to ship is a pair-scoring problem: route it
    through :func:`verify_pairs` on LSH candidates instead.

    ``k=None`` — "all matches" mode: emit every candidate passing
    ``min_score`` with no ranking; the kernel skips the n_best ladder and
    the plan has no window.

    ``cand_transform`` — optional pandas ``Series -> Series`` applied to
    the candidate text inside each cell: callers whose candidate text is a
    *derived* expression (e.g. a normalized prefix) can ship the raw
    column and derive it in Python, where CPython regex is ~40x faster
    than the java.util.regex projection the JVM would run (guide §4).  The
    transform must be byte-identical to the JVM expression it replaces —
    callers are responsible for that equivalence (the normalize twins in
    functions.text are the proven pair)."""
    # one job: the guard reads at most _MAX_PROBES+1 rows of the same
    # collect the happy path needs anyway (no separate count over the
    # probe lineage)
    rows = probes.select("probe_id", "probe_text").limit(_MAX_PROBES + 1).collect()
    if len(rows) > _MAX_PROBES:
        raise ValueError(
            f"score_topk probe set exceeds {_MAX_PROBES} probes; "
            "collecting it to the driver would not scale — use "
            "verify_pairs over LSH candidate pairs for large probe sets"
        )
    probe_rows = [(r[0], r[1]) for r in rows if r[1] is not None]
    cands = candidates.select("cand_id", "cand_text")
    # an exact count: plan statistics are unknown (Long.MaxValue) for
    # many sources.  Nulls are dropped inside the cells, so the count job
    # evaluates no text expression
    n_chunks = max(1, -(-cands.count() // _COALESCE_ROWS))
    parallelism = candidates.sparkSession.sparkContext.defaultParallelism
    n_shards = max(1, min(len(probe_rows), parallelism // n_chunks))

    def score_cells(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = list(batches)
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        pdf = pdf[pdf["cand_text"].notna()].sort_values(["cell", "cand_id"])
        for cell, chunk in pdf.groupby("cell", sort=False):
            ctext = chunk["cand_text"]
            if cand_transform is not None:
                ctext = cand_transform(ctext)
            model = build_model(ctext.tolist())
            ids = chunk["cand_id"].to_numpy(np.int64)
            out_p, out_c, out_s = [], [], []
            for pid, ptext in probe_rows[cell % n_shards :: n_shards]:
                idx, sc = score(
                    model,
                    ptext,
                    min_score=min_score,
                    weight=weight,
                    threshold=threshold,
                    n_best=k,
                    dtype=dtype,
                )
                out_p.extend([pid] * len(idx))
                out_c.extend(ids[idx])
                out_s.extend(sc.astype(np.float64))
            yield pd.DataFrame({"probe_id": out_p, "cand_id": out_c, "score": out_s})

    partial = _placed_cells(cands, n_chunks, n_shards).mapInPandas(
        score_cells, schema="probe_id long, cand_id long, score double"
    )
    if k is None:
        return partial
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("score"), F.asc("cand_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .drop("rank")
    )

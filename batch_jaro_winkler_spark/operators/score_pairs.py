"""DataFrame-level batched Jaro-Winkler scoring (the kernel's Spark face).

Two operators:

* :func:`verify_pairs` — score candidate pairs (a, b) from LSH against the
  reference-semantics kernel and keep edges with ``score >= min_score``.
  The scale shape: two equi-joins attach the texts (Catalyst picks the
  join strategy; AQE handles skew), then one ``mapInPandas`` pass with no
  shuffle of its own scores each distinct text pair of a coalesced batch
  once, through the lockstep pairwise kernel ``score_pair_batch``.
* :func:`score_topk` — rank a small probe set against a large candidate
  corpus: candidates are iterated per Arrow batch with ONE compiled model
  per batch scoring all probes (model reuse amortized across the batch,
  mirroring the reference's compile-once-query-many design), partial top-k
  per batch, final top-k via a window — Spark's TakeOrderedAndProject
  replaces the reference's top-k retry ladder (SURVEY.md O15/R4).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from batch_jaro_winkler_spark.kernel import build_model, score, score_pair_batch
from batch_jaro_winkler_spark.operators.config import DedupConfig

__all__ = ["verify_pairs", "score_topk"]

# score_topk collects its probe set to the driver and ships it with the
# closure; larger probe sets belong on verify_pairs over LSH candidates
_MAX_PROBES = 100_000


def _coalesced(
    batches: Iterator[pd.DataFrame], rows: int = 100_000
) -> Iterator[pd.DataFrame]:
    """Concatenate a partition's Arrow batches into frames of at least
    ``rows`` rows (the last one may be shorter), so per-frame work — the
    distinct-pair memo, one compiled candidate model — sees the partition
    at once.  Bounded so per-task memory stays ~tens of MB at 256-char
    texts."""
    pending: list[pd.DataFrame] = []
    n_pending = 0
    for pdf in batches:
        pending.append(pdf)
        n_pending += len(pdf)
        if n_pending >= rows:
            yield pending[0] if len(pending) == 1 else pd.concat(
                pending, ignore_index=True
            )
            pending, n_pending = [], 0
    if pending:
        yield pending[0] if len(pending) == 1 else pd.concat(
            pending, ignore_index=True
        )


def verify_pairs(
    pairs: DataFrame,
    docs_text: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "jw_text",
) -> DataFrame:
    """pairs[a, b] x docs_text[id_col, text_col] → edges[a, b, score]
    with score >= cfg.jw_min_score (reference kernel semantics, float32)."""
    ta = docs_text.select(
        F.col(id_col).alias("a"), F.col(text_col).alias("text_a")
    )
    tb = docs_text.select(
        F.col(id_col).alias("b"), F.col(text_col).alias("text_b")
    )
    joined = pairs.join(ta, "a").join(tb, "b")
    min_score = cfg.jw_min_score
    weight = cfg.jw_weight
    threshold = cfg.jw_threshold

    # No shuffle: pairs are independent, so any physical distribution is
    # correct.  Batches are coalesced so the distinct-text-pair memo below
    # sees the whole partition.
    def _score_pdf(pdf: pd.DataFrame) -> pd.DataFrame | None:
        # a dedup corpus scores many IDENTICAL (text_a, text_b) pairs
        # (exact-duplicate groups explode into cliques): the score is a
        # pure function of the texts, so score each distinct text pair
        # once and fan results back out — row-identical output
        # null text matches nothing: drop such pairs up front — a NaN key
        # would factorize to code -1 and corrupt the last distinct slot
        valid = pdf["text_a"].notna() & pdf["text_b"].notna()
        if not valid.all():
            pdf = pdf[valid].reset_index(drop=True)
        if not len(pdf):
            return None
        # injective pair key with NO string concatenation (optimization
        # round 7): factorize each text column once (hashes the original
        # strings in place), then factorize the combined int code —
        # (code_a, code_b) identifies the text pair exactly
        ca, _ = pd.factorize(pdf["text_a"], sort=False)
        cb, _ = pd.factorize(pdf["text_b"], sort=False)
        codes, _ = pd.factorize(
            ca.astype(np.int64) * (int(cb.max()) + 1) + cb, sort=False
        )
        first = np.zeros(int(codes.max()) + 1, dtype=np.int64)
        first[codes[::-1]] = np.arange(len(codes) - 1, -1, -1, dtype=np.int64)
        distinct = pdf.iloc[first]
        # every distinct text pair through the lockstep PAIRWISE kernel in
        # ONE call: no per-group model, no per-pair interpreter loop
        full = score_pair_batch(
            distinct["text_a"].tolist(),
            distinct["text_b"].tolist(),
            weight=weight,
            threshold=threshold,
        )[codes]
        keep = full >= np.float32(min_score)
        if not keep.any():
            return None
        sel = np.flatnonzero(keep)
        return pd.DataFrame(
            {
                "a": pdf["a"].to_numpy(np.int64)[sel],
                "b": pdf["b"].to_numpy(np.int64)[sel],
                "score": full[sel],
            }
        )

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _coalesced(batches):
            out = _score_pdf(pdf)
            if out is not None:
                yield out

    return joined.select("a", "b", "text_a", "text_b").mapInPandas(
        score_batches, schema="a long, b long, score float"
    )


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
    per-probe top-k (probe_id, cand_id, score).

    The probe set (small) is broadcast-joined onto every candidate
    partition; each Arrow batch compiles ONE candidate model and scores all
    probes against it (per-batch partial top-k), then a window takes the
    global top-k per probe.  Deterministic tie-break (score desc, cand_id
    asc) per SURVEY.md O15.

    The probe frame is collected to the driver and broadcast with the
    closure — correct only for genuinely small probe sets, so the size is
    guarded by ``_MAX_PROBES`` (error, not silent collect-the-world).  A
    probe set too large to broadcast is a pair-scoring problem: route it
    through :func:`verify_pairs` on LSH candidates instead.

    ``k=None`` — "all matches" mode (optimization round 7): emit every
    candidate passing ``min_score`` with NO ranking.  Callers that only
    want the thresholded pair relation (jw_topk's k=500000, jw_pairs)
    previously paid a full window sort of every scored row for a rank
    filter that could never drop anything; with ``k=None`` the kernel
    skips the n_best ladder (plain scan at min_score — same scores) and
    the window exchange+sort disappears from the plan.

    ``cand_transform`` — optional pandas ``Series -> Series`` applied to
    the candidate text inside the scoring pass (optimization round 7):
    callers whose candidate text is a *derived* expression (e.g. a
    normalized prefix) can ship the raw column and fuse the derivation
    into the Arrow batch, where CPython regex is ~40x faster than the
    java.util.regex projection the JVM would run (guide §4).  The
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
    probe_rows = [(r[0], r[1]) for r in rows]
    # compile-once-query-many wants LARGE candidate batches: coalesce the
    # partition's Arrow batches before building the shared model, so each
    # partition compiles ~one model regardless of arrow batch sizing
    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _coalesced(batches):
            ctext = pdf["cand_text"]
            if cand_transform is not None:
                ctext = cand_transform(ctext)
            model = build_model(ctext.tolist())
            out_p, out_c, out_s = [], [], []
            for pid, ptext in probe_rows:
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
                out_c.extend(pdf["cand_id"].iloc[np.asarray(idx, dtype=np.int64)])
                out_s.extend(sc.astype(np.float64))
            yield pd.DataFrame(
                {"probe_id": out_p, "cand_id": out_c, "score": out_s}
            )

    partial = candidates.select("cand_id", "cand_text").mapInPandas(
        per_batch, schema="probe_id long, cand_id long, score double"
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

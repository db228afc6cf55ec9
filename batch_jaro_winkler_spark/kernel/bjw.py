"""Batched Jaro / Jaro-Winkler scoring kernel (numpy, columnar).

A from-scratch, vectorized reimplementation of the *semantics* of the C99
reference ``dbousque/batch_jaro_winkler`` (see SURVEY.md §2): one *input*
string is scored against a pre-compiled batch of *candidate* strings that
share a single character-position inverted index, with per-candidate
``min_score`` pruning, a global ``min_score`` override, the Winkler prefix
bonus, and deterministic ``n_best`` top-k.

Semantics anchored to the reference (file:line cites into /root/reference):

* match window  = ``max(|input|,|cand|)//2``, then ``0 if <=1 else -1``
  (``lib/batch_jaro_winkler_runtime.h:311-312``);
* greedy first-unmatched-occurrence-in-window matching with a per
  (char,candidate) resume cursor (``runtime.h:323-371``);
* transpositions from the two flag sequences, halved (``runtime.h:373-398,446``);
* float32 score ``(m/|i| + m/|c| + (m-t)/m)/3`` (``runtime.h:448-452``);
* Winkler bonus iff ``weight >= 0 and score >= threshold``; prefix capped at
  ``min(4, |i|, |c|)``; ``score += l*w*(1-score)`` (``runtime.h:454-459``);
* zero-match candidates are emitted with score 0.0 iff their effective
  min_score <= 0 (``runtime.h:429-438``);
* global ``min_score`` (when set) *overrides* per-candidate min_scores;
  when unset, per-candidate min_scores apply (``runtime.h:272-274,422-424``;
  ``lib/batch_jaro_winkler.c:751``);
* required-match-count pruning derived from min_score
  (``runtime.h:288-309``, explained in reference README.md:142-160);
* ``n_best``: score-desc top-k via the reference's adaptive min_score
  ladder (``lib/batch_jaro_winkler.c:788-816``): optimistic synthetic
  thresholds (1-k/N capped 0.8, then -0.2) before the exact fallback —
  identical observable results, large constant-factor win.  Ties are
  nondeterministic in the reference (unstable qsort); we define
  (score desc, candidate index asc).

Deliberate divergences (documented, observable-behavior preserving):

* no dictionary compression of the alphabet (``c:529-610``) — raw uint32
  code points index directly; compression is a cache optimization in C,
  not a semantic;
* no input-length clamp at 256/65536 (``c:746-750``) — unreachable from the
  reference's own high-level API for UTF-32 data; callers cap document
  length via ``max_len`` instead;
* results keep original candidate order (the reference re-sorts candidates
  by (length, lex) at compile, ``c:170-171``; its own tests re-sort results,
  so the order is not part of the contract).

Everything here is pure numpy on one Arrow/pandas batch: this module is
what runs inside ``mapInPandas`` on executors.  It never
touches Spark.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

__all__ = [
    "CandidateModel",
    "build_model",
    "score",
    "score_pair",
    "score_pair_batch",
    "score_strings",
    "units_from_bytes",
]


def _encode_utf32(strings) -> tuple[np.ndarray, np.ndarray]:
    """Encode a sequence of python strings into (codes, offsets).

    ``codes``  — concatenated uint32 code points (1 char = 1 code point,
    matching the reference Python binding's UTF-32-LE convention,
    ``python/cbatch_jaro_winkler.pyx:57,161``).
    ``offsets`` — int64 prefix offsets, len = n+1.
    """
    n = len(strings)
    lengths = np.fromiter((len(s) for s in strings), dtype=np.int64, count=n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    total = int(offsets[-1])
    codes = np.empty(total, dtype=np.uint32)
    if total:
        buf = "".join(strings).encode("utf-32-le")
        codes[:] = np.frombuffer(buf, dtype="<u4")
    return codes, offsets


_UNIT_DTYPE = {1: "<u1", 2: "<u2", 4: "<u4"}


def units_from_bytes(b, char_width: int) -> np.ndarray:
    """Decode an encoded byte string into uint32 code UNITS — the
    reference's ``*_bytes`` convention (``python/cbatch_jaro_winkler.pyx:
    32-77,134-181``): length in chars = bytes // char_width (a trailing
    partial unit is ignored), and each fixed-width little-endian unit is
    one 'char' (UTF-16 surrogate halves count separately, exactly like the
    C library, which never decodes)."""
    if char_width not in _UNIT_DTYPE:
        raise ValueError("char_width must be 1, 2 or 4")
    n_units = len(b) // char_width
    return np.frombuffer(
        bytes(b)[: n_units * char_width], dtype=_UNIT_DTYPE[char_width]
    ).astype(np.uint32)


def _encode_units(items, char_width: int) -> tuple[np.ndarray, np.ndarray]:
    """(codes, offsets) from encoded byte strings of the given unit width."""
    arrays = [units_from_bytes(b, char_width) for b in items]
    n = len(arrays)
    lengths = np.fromiter((len(a) for a in arrays), dtype=np.int64, count=n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    codes = (
        np.concatenate(arrays) if n and offsets[-1] else np.empty(0, dtype=np.uint32)
    )
    return codes.astype(np.uint32, copy=False), offsets


@dataclass
class CandidateModel:
    """The 'exportable model' analog: a columnar inverted
    character-position index over a candidate batch
    (reference: ``bjw_build_exportable_model``, ``lib/batch_jaro_winkler.c:513-627``),
    exported as plain data by ``kernel.serialize``.

    Layout (all numpy arrays):
      codes/offsets      — concatenated candidate code points + prefix offsets
      lengths            — per-candidate length in characters
      group_char         — distinct (char, cand) group keys, sorted by (char, cand)
      group_cand
      group_start/end    — slice into pos_flat per group
      pos_flat           — occurrence positions, ascending within each group
      first4             — (n,4) first-4 code points, 0-padded (winkler prefix)
      min_scores         — float32 per-candidate min_score, or None
    """

    codes: np.ndarray
    offsets: np.ndarray
    lengths: np.ndarray
    group_char: np.ndarray
    group_cand: np.ndarray
    group_start: np.ndarray
    group_end: np.ndarray
    pos_flat: np.ndarray
    first4: np.ndarray
    min_scores: np.ndarray | None
    # code-unit width the candidates were built from: 4 for the str path
    # (UTF-32 code points), 1/2/4 for the *_bytes path (pyx:32-77) — used
    # to re-encode result candidates to their original bytes
    char_width: int = 4
    # candidates are stored in LENGTH order (like the reference's compile
    # sort, c:170-171): internal id = length rank, orig_ids maps back.
    # Length-ordered ids make the min_score length-band a contiguous id
    # range, so every per-char index step slices instead of masking.
    orig_ids: np.ndarray | None = None
    # hot-loop auxiliaries (sequential per-group reads replace random
    # per-candidate gathers), built by _ensure_aux, also for models that
    # model_from_bytes parses without them.  Groups are split by
    # occurrence count: single-occurrence groups (s_*: char, cand, the one
    # position, cand length) resolve without cursors; multi-occurrence
    # groups (m2_*) keep the resume-cursor walk.  Both splits stay sorted
    # by (char, cand).
    s_char: np.ndarray | None = None
    s_cand: np.ndarray | None = None
    s_pos: np.ndarray | None = None
    s_len: np.ndarray | None = None
    m2_char: np.ndarray | None = None
    m2_cand: np.ndarray | None = None
    m2_start: np.ndarray | None = None
    m2_end: np.ndarray | None = None
    m2_len: np.ndarray | None = None
    # position-bucket index over the single-occurrence table: packed
    # (char, pos, cand) int64 keys, ascending, with the candidate id per
    # record.  Built lazily on first large scan (_ensure_buckets); b_maxp
    # is the pos stride (-1 = keys would overflow int64, never retry).
    # Query-local and cheap to rebuild — never serialized.
    b_key: np.ndarray | None = None
    b_cand: np.ndarray | None = None
    b_maxp: int = 0
    # counts-mode indexes (_ensure_buckets2): b2_* covers EVERY occurrence
    # (char, pos, cand)-packed; bp_* covers every ADJACENT same-group
    # occurrence pair, grouped by gap g then (char, q1+q2, cand)-packed —
    # per-group "any occurrence in window" telescopes to sum(occurrence
    # in window) - sum(adjacent pair both in window), so match counts for
    # once-occurring input chars come from pure binary searches
    b2_key: np.ndarray | None = None
    b2_cand: np.ndarray | None = None
    b2_maxp: int = 0
    bp_gvals: np.ndarray | None = None
    bp_goff: np.ndarray | None = None
    bp_key: np.ndarray | None = None
    bp_cand: np.ndarray | None = None
    # per-OCCURRENCE positions of the multi-occurrence groups
    # (_ensure_m2occ), sorted by (char, cand, pos), read by the
    # resume-cursor walk through the group offsets
    m2o_pos: np.ndarray | None = None
    m2o_goff: np.ndarray | None = None  # group -> occurrence offset (+1 tail)
    # first-in-window bucket index over the multi-occurrence occurrences
    # (_ensure_m3): ((char, rhalf-class, pos) bucket, prev)-packed keys,
    # ascending.  For a once-occurring input char at i0 the greedy match
    # "pos in [i0-r, i0+r] and prev < i0-r" becomes, per class h (so r =
    # max(h, r_in) is bucket-constant), a PREFIX of each in-window bucket
    # found by binary search — replacing the resume-cursor walk for those
    # chars (interleaved on a 4-core host, the English min00 word-list leg
    # ran 1.12x slower without it).  m3_maxp: 0 = unbuilt, -1 = refused (overflow / class
    # explosion), else pos stride.
    m3_key: np.ndarray | None = None
    m3_cand: np.ndarray | None = None
    m3_hvals: np.ndarray | None = None
    m3_maxp: int = 0

    @property
    def nb_candidates(self) -> int:
        return len(self.lengths)


def build_model(candidates, min_scores=None, char_width: int | None = None) -> CandidateModel:
    """Compile a candidate batch into a shared inverted index.

    ``candidates`` — sequence of str (default), or of encoded bytes when
    ``char_width`` is 1, 2 or 4 (the reference's ``*_bytes`` input shape:
    lengths in code units = bytes // char_width).
    ``min_scores`` — optional sequence of float, all-or-none like the
    reference (``python/cbatch_jaro_winkler.pyx:29-31``).
    """
    candidates = list(candidates)
    if min_scores is not None:
        min_scores = np.asarray(min_scores, dtype=np.float32)
        if len(min_scores) != len(candidates):
            raise ValueError("min_scores must have one entry per candidate")
        if len(min_scores) and (min_scores.min() < 0.0 or min_scores.max() > 1.0):
            raise ValueError("min_score must be >= 0.0 and <= 1.0")
    if char_width is not None and char_width not in _UNIT_DTYPE:
        raise ValueError("char_width must be 1, 2 or 4")

    def cand_len(s):
        return len(s) if char_width is None else len(s) // char_width

    # compile-time length sort (reference c:170-171): internal ids are
    # length ranks; orig_ids maps results back to caller order
    orig_ids = np.argsort(
        np.fromiter((cand_len(s) for s in candidates), dtype=np.int64, count=len(candidates)),
        kind="stable",
    )
    candidates = [candidates[int(i)] for i in orig_ids]
    if min_scores is not None:
        min_scores = min_scores[orig_ids]
    if char_width is None:
        codes, offsets = _encode_utf32(candidates)
    else:
        codes, offsets = _encode_units(candidates, char_width)
    n = len(candidates)
    lengths = (offsets[1:] - offsets[:-1]).astype(np.int64)

    total = len(codes)
    if total:
        # candidate id and in-candidate position for every character
        cand_of = np.repeat(np.arange(n, dtype=np.int64), lengths)
        pos_of = np.arange(total, dtype=np.int64) - np.repeat(offsets[:-1], lengths)
        # sort occurrences by (char, cand, pos) — the columnar analog of the
        # reference's packed per-(char,cand) occurrence stream (c:373-394)
        order = np.lexsort((pos_of, cand_of, codes))
        s_char = codes[order]
        s_cand = cand_of[order].astype(np.int32)
        s_pos = pos_of[order].astype(np.int32)
        # group boundaries where (char, cand) changes
        newgrp = np.empty(total, dtype=bool)
        newgrp[0] = True
        np.not_equal(s_char[1:], s_char[:-1], out=newgrp[1:])
        newgrp[1:] |= s_cand[1:] != s_cand[:-1]
        group_start = np.flatnonzero(newgrp).astype(np.int64)
        group_end = np.append(group_start[1:], total).astype(np.int64)
        if total < 2**31:  # 4x less memory traffic in the hot loop
            group_start = group_start.astype(np.int32)
            group_end = group_end.astype(np.int32)
        group_char = s_char[group_start]
        group_cand = s_cand[group_start]
        pos_flat = s_pos
    else:
        group_char = np.empty(0, dtype=np.uint32)
        group_cand = np.empty(0, dtype=np.int32)
        group_start = np.empty(0, dtype=np.int32)
        group_end = np.empty(0, dtype=np.int32)
        pos_flat = np.empty(0, dtype=np.int32)

    first4 = np.zeros((n, 4), dtype=np.uint32)
    for k in range(4):
        has = lengths > k
        first4[has, k] = codes[offsets[:-1][has] + k]

    model = CandidateModel(
        codes=codes,
        offsets=offsets,
        lengths=lengths,
        group_char=group_char,
        group_cand=group_cand,
        group_start=group_start,
        group_end=group_end,
        pos_flat=pos_flat,
        first4=first4,
        min_scores=min_scores,
        char_width=4 if char_width is None else char_width,
        orig_ids=orig_ids,
    )
    _ensure_aux(model)
    if model.s_char is not None and len(model.s_char) >= _BUCKET_MIN_RECORDS:
        _ensure_buckets(model)  # compile-time like the reference's index
    return model


def _ensure_aux(model: CandidateModel) -> None:
    """Populate the hot-loop auxiliary arrays (idempotent; also completes
    models that ``model_from_bytes`` parses without them)."""
    if model.s_char is not None:
        return
    size = (model.group_end.astype(np.int64) - model.group_start).astype(np.int32)
    glen = model.lengths[model.group_cand].astype(np.int32)
    single = size == 1
    model.s_char = model.group_char[single]
    model.s_cand = model.group_cand[single]
    model.s_pos = (
        model.pos_flat[model.group_start[single]]
        if len(model.pos_flat)
        else np.empty(0, dtype=np.int32)
    )
    model.s_len = glen[single]
    multi = ~single
    model.m2_char = model.group_char[multi]
    model.m2_cand = model.group_cand[multi]
    model.m2_start = model.group_start[multi]
    model.m2_end = model.group_end[multi]
    model.m2_len = glen[multi]


def _ensure_m2occ(model: CandidateModel) -> None:
    """Per-occurrence positions of the multi-occurrence groups (lazy),
    (char, cand, pos)-sorted by construction, and each group's offset into
    them — the resume-cursor walk reads these as contiguous slices."""
    if model.m2o_pos is not None:
        return
    _ensure_aux(model)
    counts = (model.m2_end.astype(np.int64) - model.m2_start)
    goff = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=goff[1:])
    model.m2o_goff = goff
    ridx = np.arange(int(goff[-1]), dtype=np.int64) + np.repeat(
        model.m2_start.astype(np.int64) - goff[:-1], counts
    )
    model.m2o_pos = model.pos_flat[ridx].astype(np.int32, copy=False)


def _ensure_m3(model: CandidateModel) -> None:
    """Lazily build the first-in-window bucket index over the
    multi-occurrence occurrences (see the m3_* field comment).

    Keys pack ((char * NH + class) * P + pos) * (P + 2) + pv where pv = 0
    for each group's first occurrence (no previous occurrence: it always
    satisfies prev < i0 - r) and prev + 1 otherwise.  Within a bucket the
    greedy "first occurrence in window" hits are exactly the keys with
    pv < max(i0 - r, 0) + 1 — a prefix.  Classes are distinct rhalf
    values, so r = max(class, r_in) is constant per bucket; long-text
    models with many classes refuse the build (m3_maxp = -1) and take the
    resume-cursor walk."""
    if model.m3_maxp != 0:
        return
    _ensure_m2occ(model)
    pos, goff = model.m2o_pos, model.m2o_goff
    if not len(pos):
        model.m3_maxp = -1
        return
    counts = np.diff(goff)
    # half-window radius from the candidate length alone: the query-time
    # radius is max(this, r_in) — both sides are the same monotone
    # max((L>>1)-1, 0) form, so the max picks the longer of cand/input
    lens = np.repeat(model.m2_len, counts)
    rhalf = np.maximum((lens >> 1) - np.int32(1), np.int32(0))
    hvals = np.unique(rhalf)
    NH = len(hvals)
    P = int(model.pos_flat.max()) + 1
    PP = P + 2
    maxc = int(model.m2_char.max())
    if NH > 64 or (maxc + 1) * NH * P * PP >= (1 << 62):
        model.m3_maxp = -1
        return
    hi = np.searchsorted(hvals, rhalf).astype(np.int64)
    pv = np.empty(len(pos), dtype=np.int64)
    pv[1:] = pos[:-1]
    pv += 1
    pv[goff[:-1]] = 0  # each group's first occurrence
    char = np.repeat(model.m2_char, counts).astype(np.int64)
    key = ((char * NH + hi) * P + pos) * PP + pv
    order = np.argsort(key)
    model.m3_key = key[order]
    model.m3_cand = np.repeat(model.m2_cand, counts)[order]
    model.m3_hvals = hvals.astype(np.int64)
    model.m3_maxp = P


# build the position-bucket index only for models big enough that the
# per-record window compares it eliminates dominate scan time; below it
# the per-char emit path is already cheap and the argsort isn't repaid
_BUCKET_MIN_RECORDS = 32_768

def _ensure_buckets(model: CandidateModel) -> None:
    """Lazily build the (char, pos, cand)-packed bucket index over the
    single-occurrence table.

    The match-window test ``|p - i| <= r(len)`` is monotone in ``len``
    (``r = max(len, Li)//2`` capped at >=1 then -1), and internal ids are
    length ranks — so within one (char, pos) bucket the matching records
    of any id band form ONE contiguous key range.  A whole query then
    scans with a few hundred vectorized binary searches and gathers only
    actual hits, instead of comparing every band record per char."""
    if model.b_maxp != 0 or model.s_char is None or not len(model.s_char):
        return
    # stride MUST be the global max position (+1), not the single-occ
    # table's: _scan packs probe keys for BOTH this index and the
    # counts-mode b2/bp indexes with the same P, so the two builds must
    # agree by construction (b_maxp == b2_maxp) or every counts-mode
    # probe on a corpus whose max position lives only in a
    # multi-occurrence group would silently misalign.
    P = int(model.pos_flat.max()) + 1
    S = model.nb_candidates + 1
    maxc = int(model.s_char[-1])  # s_char ascending
    if (maxc + 1) * P * S >= (1 << 62):
        model.b_maxp = -1  # packed keys would overflow: never retry
        return
    key = (model.s_char.astype(np.int64) * P + model.s_pos) * S + model.s_cand
    order = np.argsort(key)  # single int64 key: ~2x a 3-key lexsort
    model.b_key = key[order]
    model.b_cand = model.s_cand[order]
    model.b_maxp = P


def _ensure_buckets2(model: CandidateModel) -> None:
    """Counts-mode occurrence + adjacent-pair indexes (lazy, first counts
    scan): for a ONCE-occurring input char the greedy match count of any
    group is [exists occurrence in window], and in-window occurrences are
    contiguous (the window is an interval, positions ascending), so it
    telescopes to  sum_i [q_i in W]  -  sum_i [q_i in W and q_{i+1} in W].
    Both terms have the monotone-length threshold shape the single-occ
    bucket index exploits: the pair term's condition is
    r(len) >= (|2*i0 - (q_i + q_{i+1})| + gap + 1) >> 1, so pairs pack as
    (char, q_i + q_{i+1}, cand) keys grouped by gap."""
    if model.b2_maxp != 0 or not len(model.pos_flat):
        return
    sizes = (model.group_end.astype(np.int64) - model.group_start)
    char_occ = np.repeat(model.group_char, sizes)
    cand_occ = np.repeat(model.group_cand, sizes)
    pos_occ = model.pos_flat
    P = int(pos_occ.max()) + 1
    S = model.nb_candidates + 1
    maxc = int(model.group_char[-1]) if len(model.group_char) else 0
    if (maxc + 1) * (2 * P) * S >= (1 << 62):
        model.b2_maxp = -1
        return
    key = (char_occ.astype(np.int64) * P + pos_occ) * S + cand_occ
    order = np.argsort(key)
    model.b2_key = key[order]
    model.b2_cand = cand_occ[order]
    # adjacent pairs: every occurrence that is not its group's last
    last = np.zeros(len(pos_occ), dtype=bool)
    last[model.group_end.astype(np.int64) - 1] = True
    pi = np.flatnonzero(~last)
    if len(pi):
        g = (pos_occ[pi + 1] - pos_occ[pi]).astype(np.int64)
        p2 = (pos_occ[pi].astype(np.int64) + pos_occ[pi + 1])
        key2 = (char_occ[pi].astype(np.int64) * (2 * P) + p2) * S + cand_occ[pi]
        o2 = np.lexsort((key2, g))
        gs = g[o2]
        newg = np.empty(len(gs), dtype=bool)
        newg[0] = True
        np.not_equal(gs[1:], gs[:-1], out=newg[1:])
        goff = np.flatnonzero(newg)
        model.bp_gvals = gs[goff]
        model.bp_goff = np.append(goff, len(gs)).astype(np.int64)
        model.bp_key = key2[o2]
        model.bp_cand = cand_occ[pi][o2]
    else:
        model.bp_gvals = np.empty(0, dtype=np.int64)
        model.bp_goff = np.zeros(1, dtype=np.int64)
        model.bp_key = np.empty(0, dtype=np.int64)
        model.bp_cand = np.empty(0, dtype=cand_occ.dtype)
    model.b2_maxp = P


def _required_matches(
    cand_len: np.ndarray, input_len: int, eff_min: np.ndarray, weight: float
) -> np.ndarray:
    """Per-candidate minimum match count implied by min_score.

    Closed forms from the reference (``runtime.h:288-309``): solving the Jaro
    formula for m with t=0 (best case); the Winkler variant assumes all 4
    prefix characters match (maximum possible bonus), so the bound is
    conservative — it never prunes a candidate that could pass.
    Computed in float32 to mirror the reference's arithmetic.
    """
    if weight < 0.0 and (not len(eff_min) or float(eff_min.max()) <= 0.0):
        # pure Jaro with min_score 0 everywhere: the bound is never
        # positive ((3s-1)·L·i/(L+i) <= 0 for s <= 1/3), so nothing is
        # required — skip the float passes the closed form would cost.
        # NOT valid for the Winkler form: at weight=0.25 its denominator
        # is 0 and the reference prunes ALL candidates (runtime.h:296-298)
        return np.zeros(len(cand_len), dtype=np.int64)
    n = len(cand_len)
    if n > 256 and len(eff_min) and eff_min[0] == eff_min[-1]:
        # cand_len is sorted (ids are length ranks); with a uniform
        # min_score the closed form depends only on the DISTINCT lengths —
        # evaluate those (a handful for web text) and expand by run length
        mn, mx = float(eff_min.min()), float(eff_min.max())
        if mn == mx:
            run0 = np.flatnonzero(np.diff(cand_len)) + 1
            uni = np.concatenate([np.zeros(1, dtype=np.int64), run0])
            if len(uni) * 8 < n:
                req_u = _required_matches(
                    cand_len[uni], input_len, np.full(len(uni), mn, dtype=np.float32), weight
                )
                counts = np.diff(np.append(uni, n))
                return np.repeat(req_u, counts)
    L = cand_len.astype(np.float32)
    i = np.float32(input_len)
    s = eff_min.astype(np.float32)
    if weight < 0.0:
        with np.errstate(divide="ignore", invalid="ignore"):
            req = (np.float32(3.0) * s * L * i - L * i) / (L + i)
        req = np.where(L + i == 0, np.float32(0.0), req)
    else:
        w = np.float32(weight)
        bottom = -(np.float32(4.0) * L * w) - (np.float32(4.0) * i * w) + L + i
        with np.errstate(divide="ignore", invalid="ignore"):
            req = (
                np.float32(3.0) * s * L * i
                - np.float32(8.0) * w * L * i
                - L * i
            ) / bottom
        req = np.where(bottom == 0, np.maximum(L, i) + np.float32(1.0), req)
    req = np.maximum(req, np.float32(0.0))
    out = np.ceil(req).astype(np.int64)
    # empty candidates: required 0 (runtime.h:278-287)
    out[cand_len == 0] = 0
    return out


def _length_band(model: CandidateModel, input_len: int, s_floor: float, w: float):
    """Contiguous internal-id range [lo, hi) of candidates whose length can
    reach ``s_floor``: jaro <= (m/li + m/lc + 1)/3 with m = min(li, lc), so
    lc must lie in [li*(3s-2), li/(3s-2)] when s > 2/3 (with the max
    possible winkler bonus backed out first).  Internal ids are length
    ranks, so the band is a slice."""
    n = model.nb_candidates
    s = float(s_floor)
    if w >= 0.0:
        denom = 1.0 - 4.0 * w
        if denom <= 1e-9:
            return 0, n
        s = (s - 4.0 * w) / denom
    f = 3.0 * s - 2.0
    if f <= 1e-9:
        return 0, n
    f = max(f - 1e-6, 1e-9)  # conservative float margin
    len_lo = int(np.floor(input_len * f))
    len_hi = int(np.ceil(input_len / f))
    lo = int(np.searchsorted(model.lengths, len_lo, side="left"))
    hi = int(np.searchsorted(model.lengths, len_hi, side="right"))
    return lo, hi


_EMPTY_MATCHES = (
    np.empty(0, dtype=np.int32),
    np.empty(0, dtype=np.int32),
    np.empty(0, dtype=np.int32),
    np.empty(0, dtype=np.uint32),
)


def _scan(
    model: CandidateModel,
    in_codes_all: np.ndarray,
    input_len: int,
    id_slices: list[tuple[int, int]],
    detail: bool,
):
    """Greedy per-(char,candidate) matches (O10 semantics, runtime.h:323-371)
    for candidates whose internal id lies in the given disjoint [lo, hi)
    slices.  ``detail=True`` → (cand, input_pos, cand_pos, char) match
    arrays; ``detail=False`` → only the matched-candidate id arrays (for
    match COUNTS — selective passes recover transpositions per survivor).

    One index and one fallback per occurrence table:

    * single-occurrence groups (the overwhelming majority in web text):
      the candidate position p is matched by the first input occurrence
      i >= p-r inside the window (earlier occurrences can never have
      consumed p: consumption needs p < i'-r, impossible for i' < i).
      Models with ``_BUCKET_MIN_RECORDS`` such groups scan the (char, pos,
      cand) bucket index (``b_*``); smaller ones compare each distinct
      input char's band slice directly.
    * multi-occurrence groups: once-occurring input chars read the m3
      first-in-window index when it is built; every other char takes the
      exact resume-cursor walk, vectorized over the band's groups.

    Counts mode with the bucket index counts once-occurring input chars
    against every group at once through the ``b2_*`` occurrence and
    ``bp_*`` adjacent-pair indexes (``mneg`` carries the subtractions).
    """
    mc_l: list[np.ndarray] = []
    mi_l: list[np.ndarray] = []
    mp_l: list[np.ndarray] = []
    mch_l: list[np.ndarray] = []
    mneg_l: list[np.ndarray] = []  # counts-mode pair-term subtractions
    if not input_len or not len(model.group_char):
        return mc_l, mi_l, mp_l, mch_l, mneg_l
    _ensure_aux(model)
    _ensure_m2occ(model)
    s_char, s_cand, s_pos, s_len = model.s_char, model.s_cand, model.s_pos, model.s_len
    m2_char, m2_cand, m2_len = model.m2_char, model.m2_cand, model.m2_len
    m2o_goff, m2o_pos = model.m2o_goff, model.m2o_pos
    Li = int(input_len)
    r_in = Li // 2
    r_in = 0 if r_in <= 1 else r_in - 1  # scalar window when cand_len <= Li

    # distinct input chars with their ascending position lists
    order = np.argsort(in_codes_all, kind="stable").astype(np.int32)
    sorted_chars = in_codes_all[order]
    newc = np.empty(input_len, dtype=bool)
    newc[0] = True
    np.not_equal(sorted_chars[1:], sorted_chars[:-1], out=newc[1:])
    starts = np.flatnonzero(newc)
    ends = np.append(starts[1:], input_len)

    # Input chars above the model's max indexed code point cannot match
    # anything, and — worse — the packed bucket-key builders (_ensure_m3,
    # _ensure_buckets, _ensure_buckets2) size their int64-overflow guards
    # by the MODEL's max char, so packing a larger query-time code could
    # wrap the key and land binary searches on unrelated buckets (ADVICE
    # r6).  Drop those distinct-char groups before any key is packed;
    # group_char is (char, cand)-sorted, so [-1] is the model max.
    if len(starts):
        over = sorted_chars[starts] > model.group_char[-1]
        if over.any():
            keep = ~over
            starts = starts[keep]
            ends = ends[keep]

    # match records carry the char's ORDINAL among the input's distinct
    # chars, not the code point: transpositions only ever compare chars
    # for equality, and small ordinals let the dense-rank path work in
    # uint8/uint16 instead of uint32 (4x less scatter/gather traffic)
    ord_dtype = np.uint16 if input_len <= 0xFFFF else np.uint32

    n_ids = len(model.lengths)
    m2_done = np.zeros(len(starts), dtype=bool)
    use_b = use_b2 = False
    if len(s_char) >= _BUCKET_MIN_RECORDS:
        if model.b_maxp == 0:
            _ensure_buckets(model)
        use_b = model.b_key is not None
        if use_b and not detail:
            if model.b2_maxp == 0:
                _ensure_buckets2(model)
            # both index families are probed with the same packed stride
            # P = b_maxp below; refuse b2 if the invariant ever breaks
            # rather than emit silently misaligned counts
            use_b2 = (
                model.b2_key is not None and model.b2_maxp == model.b_maxp
            )
    if use_b and len(starts):
        # --- bucketed emission (zero per-record compares) --- a
        # (char, pos, cand) key index turns each (char, window position)
        # bucket into contiguous key ranges: |p - i| <= r(len) is monotone
        # in len and ids are length ranks, so per bucket the matches of an
        # id band are ONE slice found by binary search.
        nIs = ends - starts
        n1 = nIs == 1
        max_len = 0
        for lo, hi in id_slices:
            if hi > lo:
                max_len = max(max_len, int(model.lengths[min(hi, n_ids) - 1]))
        P = model.b_maxp
        S = np.int64(n_ids + 1)
        re = max(max_len, Li) >> 1
        r_cap = re - 1 if re > 1 else 0
        # d -> lowest id whose length can still match: d <= r_in matches
        # every length, else len >= 2d+2; the sentinel row d = r_cap+1
        # exceeds every scanned length (never matches)
        dv = np.arange(r_cap + 2, dtype=np.int64)
        thr_of_d = np.where(
            dv <= r_in,
            np.int64(0),
            np.searchsorted(model.lengths, 2 * dv + 2, side="left"),
        )

        def window_frame(sel):
            """Concatenated per-char (position-window, char, i0) frames."""
            ifirst = order[starts[sel]].astype(np.int64)
            ilast = order[ends[sel] - 1].astype(np.int64)
            w0 = np.maximum(ifirst - r_cap, 0)
            w1 = np.minimum(ilast + r_cap, P - 1)
            wsz = np.maximum(w1 - w0 + 1, 0)
            totw = int(wsz.sum())
            if not totw:
                return None
            exw = np.zeros(len(wsz), dtype=np.int64)
            np.cumsum(wsz[:-1], out=exw[1:])
            p_all = np.arange(totw, dtype=np.int64) + np.repeat(w0 - exw, wsz)
            ch_all = np.repeat(sorted_chars[starts[sel]].astype(np.int64), wsz)
            i0_all = np.repeat(ifirst, wsz)
            return p_all, ch_all, i0_all, wsz, exw

        def slice_gather(hay_key, hay_cand, base, thr_all, sink):
            """Per-slice contiguous-range hit gather into ``sink``; yields
            (hits, sizes) per slice for detail-side repeats."""
            out = []
            for lo, hi in id_slices:
                if lo >= hi:
                    continue
                A = np.searchsorted(hay_key, base + np.maximum(thr_all, lo))
                B = np.searchsorted(hay_key, base + hi)
                sizes = np.maximum(B - A, 0)
                tot = int(sizes.sum())
                if not tot:
                    continue
                excl = np.zeros(len(sizes), dtype=np.int64)
                np.cumsum(sizes[:-1], out=excl[1:])
                ridx = np.arange(tot, dtype=np.int64) + np.repeat(A - excl, sizes)
                hits = hay_cand.take(ridx)
                sink.append(hits)
                out.append((hits, sizes))
            return out

        # ---- counts mode, once-occurring input chars: the FULL-occurrence
        # index plus the adjacent-pair index give the exact greedy count
        # (telescoped [any occurrence in window]) — multi-occurrence
        # candidate groups never reach the cursor walk for these chars
        if use_b2 and max_len:
            e1 = np.flatnonzero(n1)
            if len(e1):
                fr = window_frame(e1)
                if fr:
                    p_all, ch_all, i0_all, _, _ = fr
                    thr_all = thr_of_d[
                        np.minimum(np.abs(p_all - i0_all), r_cap + 1)
                    ]
                    slice_gather(
                        model.b2_key, model.b2_cand,
                        (ch_all * P + p_all) * S, thr_all, mc_l,
                    )
                # negative term: adjacent pairs both in window, per gap g:
                # r(len) >= (|2*i0 - (q1+q2)| + g + 1) >> 1
                gv, goff = model.bp_gvals, model.bp_goff
                if gv is not None and len(gv):
                    ch1 = sorted_chars[starts[e1]].astype(np.int64)
                    di0 = 2 * order[starts[e1]].astype(np.int64)
                    P2 = np.int64(2 * P)
                    for t in range(len(gv)):
                        g = int(gv[t])
                        W = 2 * r_cap - g
                        if W < 0:
                            break  # gv ascending
                        w0 = np.maximum(di0 - W, 0)
                        w1 = np.minimum(di0 + W, 2 * P - 2)
                        wsz2 = np.maximum(w1 - w0 + 1, 0)
                        totw2 = int(wsz2.sum())
                        if not totw2:
                            continue
                        exw2 = np.zeros(len(wsz2), dtype=np.int64)
                        np.cumsum(wsz2[:-1], out=exw2[1:])
                        p2 = np.arange(totw2, dtype=np.int64) + np.repeat(
                            w0 - exw2, wsz2
                        )
                        dreq = (np.abs(p2 - np.repeat(di0, wsz2)) + g + 1) >> 1
                        thr2 = thr_of_d[np.minimum(dreq, r_cap + 1)]
                        k0, k1 = int(goff[t]), int(goff[t + 1])
                        slice_gather(
                            model.bp_key[k0:k1], model.bp_cand[k0:k1],
                            (np.repeat(ch1, wsz2) * P2 + p2) * S, thr2, mneg_l,
                        )
                m2_done[e1] = True

        # ---- single-occurrence-table path: detail mode (once-occurring
        # chars — their matched i is the constant i0), and counts-mode
        # chars not covered above (repeated input chars via NEAREST-
        # occurrence distance: one candidate occurrence can't conflict
        # over input occurrences)
        if detail:
            e_idx = np.flatnonzero(n1)
        elif use_b2:
            e_idx = np.flatnonzero(~n1)
        else:
            e_idx = np.arange(len(starts), dtype=np.int64)
        if len(e_idx) and max_len:
            fr = window_frame(e_idx)
            if fr:
                p_all, ch_all, i0_all, wsz, exw = fr
                d_all = np.abs(p_all - i0_all)
                for j in np.flatnonzero(nIs[e_idx] > 1):
                    I = order[starts[e_idx[j]] : ends[e_idx[j]]].astype(np.int64)
                    sl = slice(int(exw[j]), int(exw[j]) + int(wsz[j]))
                    pj = p_all[sl]
                    at = np.searchsorted(I, pj)
                    lft = I[np.maximum(at - 1, 0)]
                    rgt = I[np.minimum(at, len(I) - 1)]
                    d_all[sl] = np.minimum(np.abs(pj - lft), np.abs(pj - rgt))
                thr_all = thr_of_d[np.minimum(d_all, r_cap + 1)]
                emitted = slice_gather(
                    model.b_key, model.b_cand,
                    (ch_all * P + p_all) * S, thr_all, mc_l,
                )
                if detail:
                    ords = e_idx.repeat(wsz)
                    for _, sizes in emitted:
                        mi_l.append(np.repeat(i0_all, sizes).astype(np.int32))
                        mp_l.append(np.repeat(p_all, sizes).astype(np.int32))
                        mch_l.append(np.repeat(ords, sizes).astype(ord_dtype))
        # ---- REPEATED input chars, detail mode (round 6): the greedy
        # match of a single-occurrence group at position p goes to the
        # FIRST input occurrence I_j inside its window, i.e. to I_j iff
        # r ∈ [max(|p - I_j|, 0), p - I_{j-1})  — and r(id) is
        # nondecreasing in id (length ranks), so per (p, j) the matching
        # ids are ONE contiguous thr_of_d range of each (char, p) bucket.
        # A few dozen binary-searched slices replace full passes over the
        # char segment (for common repeated chars like 'e': several
        # passes over ~10^5 records each).
        if detail and max_len:
            rep = np.flatnonzero(~n1)
            if len(rep):
                for ci in rep:
                    I = order[starts[ci] : ends[ci]].astype(np.int64)
                    ch_c = np.int64(sorted_chars[starts[ci]])
                    for j in range(len(I)):
                        Ij = int(I[j])
                        plo = max(Ij - r_cap, 0, (int(I[j - 1]) + 1) if j else 0)
                        phi = min(Ij + r_cap, P - 1)
                        if phi < plo:
                            continue
                        p_arr = np.arange(plo, phi + 1, dtype=np.int64)
                        d0 = np.abs(p_arr - Ij)
                        if j:
                            d1 = np.minimum(p_arr - int(I[j - 1]), r_cap + 1)
                        else:
                            d1 = np.full(len(p_arr), r_cap + 1, dtype=np.int64)
                        keep = d0 < d1
                        if not keep.any():
                            continue
                        p_arr = p_arr[keep]
                        idlo = thr_of_d[d0[keep]]
                        idhi = thr_of_d[d1[keep]]
                        base_r = (ch_c * P + p_arr) * S
                        for lo, hi_b in id_slices:
                            if lo >= hi_b:
                                continue
                            A = np.searchsorted(
                                model.b_key, base_r + np.maximum(idlo, lo)
                            )
                            B = np.searchsorted(
                                model.b_key, base_r + np.minimum(idhi, hi_b)
                            )
                            sizes = np.maximum(B - A, 0)
                            tot = int(sizes.sum())
                            if not tot:
                                continue
                            excl = np.zeros(len(sizes), dtype=np.int64)
                            np.cumsum(sizes[:-1], out=excl[1:])
                            ridx = np.arange(tot, dtype=np.int64) + np.repeat(
                                A - excl, sizes
                            )
                            mc_l.append(model.b_cand.take(ridx))
                            mi_l.append(np.full(tot, Ij, dtype=np.int32))
                            mp_l.append(
                                np.repeat(p_arr, sizes).astype(np.int32)
                            )
                            mch_l.append(np.full(tot, ci, dtype=ord_dtype))

    # --- multi-occurrence groups of ONCE-occurring input chars, big
    # tables: a single input occurrence has no cursor interaction, so the
    # greedy match of a group is its first occurrence inside the window —
    # occurrence o matches iff pos_o in [i0-r, i0+r] and prev_o < i0-r
    # (prev = sentinel on each group's first occurrence), a prefix of
    # each (char, class, pos) bucket of the m3 index.  Chars it does not
    # cover take the resume-cursor walk below.
    m2b = np.flatnonzero((ends - starts == 1) & ~m2_done)
    if len(m2b) and len(m2o_pos) >= _BUCKET_MIN_RECORDS and model.m3_maxp == 0:
        _ensure_m3(model)
    if len(m2b) and model.m3_maxp > 0:
        m3k, m3c = model.m3_key, model.m3_cand
        hv = model.m3_hvals
        NH = len(hv)
        P3 = model.m3_maxp
        PP = P3 + 2
        Rh = np.maximum(hv, r_in)
        # sentinel-inclusive prefix bound: pv < max(i0-R, 0) + 1
        for ci in m2b:
            ch3 = int(sorted_chars[starts[ci]])
            i0c3 = int(order[starts[ci]])
            w0 = np.maximum(i0c3 - Rh, 0)
            w1 = np.minimum(i0c3 + Rh, P3 - 1)
            wsz3 = np.maximum(w1 - w0 + 1, 0)
            tot3 = int(wsz3.sum())
            if not tot3:
                continue
            exw3 = np.zeros(NH, dtype=np.int64)
            np.cumsum(wsz3[:-1], out=exw3[1:])
            p3 = np.arange(tot3, dtype=np.int64) + np.repeat(
                w0 - exw3, wsz3
            )
            h3 = np.repeat(np.arange(NH, dtype=np.int64), wsz3)
            ub3 = np.repeat(np.maximum(i0c3 - Rh, 0) + 1, wsz3)
            base3 = ((np.int64(ch3) * NH + h3) * P3 + p3) * PP
            A3 = np.searchsorted(m3k, base3)
            B3 = np.searchsorted(m3k, base3 + ub3)
            sizes3 = B3 - A3
            stot = int(sizes3.sum())
            if not stot:
                continue
            exc3 = np.zeros(len(sizes3), dtype=np.int64)
            np.cumsum(sizes3[:-1], out=exc3[1:])
            ridx3 = np.arange(stot, dtype=np.int64) + np.repeat(
                A3 - exc3, sizes3
            )
            hits_all = m3c.take(ridx3)
            pos_all = np.repeat(p3, sizes3).astype(np.int32)
            for lo, hi_b in id_slices:
                if lo >= hi_b:
                    continue
                if lo <= 0 and hi_b >= n_ids:
                    hits3, hpos3 = hits_all, pos_all
                else:
                    sel3 = (hits_all >= lo) & (hits_all < hi_b)
                    hits3 = hits_all[sel3]
                    hpos3 = pos_all[sel3]
                if not len(hits3):
                    continue
                mc_l.append(hits3)
                if detail:
                    mi_l.append(
                        np.full(len(hits3), i0c3, dtype=np.int32)
                    )
                    mp_l.append(hpos3)
                    mch_l.append(
                        np.full(len(hits3), ci, dtype=ord_dtype)
                    )
        m2_done[m2b] = True

    # each distinct char's segment of the two (char, cand)-sorted tables,
    # and the id slices as search needles (value dtypes MUST match the
    # table dtypes: a mismatch makes searchsorted cast the whole haystack)
    u = sorted_chars[starts].astype(s_char.dtype, copy=False)
    segs = zip(
        np.searchsorted(s_char, u, side="left").tolist(),
        np.searchsorted(s_char, u, side="right").tolist(),
        np.searchsorted(m2_char, u, side="left").tolist(),
        np.searchsorted(m2_char, u, side="right").tolist(),
    )
    bands = [
        np.asarray([lo, hi], dtype=s_cand.dtype) for lo, hi in id_slices if lo < hi
    ]
    for ch_ord, (s0, s1, (c0, c1, G0, G1)) in enumerate(zip(starts, ends, segs)):
        I = order[s0:s1]  # stable argsort → ascending input positions
        nI = int(s1 - s0)
        i0 = int(I[0])
        # --- single-occurrence groups of models without the bucket index
        for band in () if use_b or c0 == c1 else bands:
            # s_cand ascending within the char segment: band slice
            g0, g1 = c0 + np.searchsorted(s_cand[c0:c1], band, side="left")
            if g0 == g1:
                continue
            # window max((max(len, Li) >> 1) - 1, 0): both sides are
            # monotone, so it is max(len's own half-window, r_in)
            r = np.maximum((s_len[g0:g1] >> 1) - np.int32(1), np.int32(r_in))
            p = s_pos[g0:g1]
            if nI == 1:
                # the only input occurrence either fits or not
                ok = np.abs(p - np.int32(i0)) <= r
            else:
                # the first input occurrence at or above p - r
                j = np.searchsorted(I, p - r, side="left")
                ok = j < nI
                jj = np.minimum(j, nI - 1)
                ok &= I[jj] <= p + r
            hits = s_cand[g0:g1][ok]
            if len(hits):
                mc_l.append(hits)
                if detail:
                    mi_l.append(
                        np.full(len(hits), i0, dtype=np.int32)
                        if nI == 1
                        else I[jj[ok]]
                    )
                    mp_l.append(p[ok])
                    mch_l.append(np.full(len(hits), ch_ord, dtype=ord_dtype))
        # --- multi-occurrence groups not covered above: exact greedy
        # resume-cursor semantics, vectorized over the band's groups per
        # input occurrence — each cursor skips the occurrences below the
        # window floor, then matches if it sits inside the window.  Reads
        # are contiguous slices of the per-occurrence positions.
        if m2_done[ch_ord] or G0 == G1:
            continue
        for band in bands:
            g0, g1 = G0 + np.searchsorted(m2_cand[G0:G1], band, side="left")
            if g0 == g1:
                continue
            C0, C1 = int(m2o_goff[g0]), int(m2o_goff[g1])
            cur = m2o_goff[g0:g1] - C0
            en = m2o_goff[g0 + 1 : g1 + 1] - C0
            posw = m2o_pos[C0:C1]
            rr_g = np.maximum((m2_len[g0:g1] >> 1) - np.int32(1), np.int32(r_in))
            cm = m2_cand[g0:g1]
            last = C1 - C0 - 1
            for i_pos in I:
                lo_w = np.int32(i_pos) - rr_g
                while True:  # resume cursors past dead occurrences
                    pos = posw[np.minimum(cur, last)]
                    adv = (cur < en) & (pos < lo_w)
                    if not adv.any():
                        break
                    cur[adv] += 1
                hitm = (cur < en) & (pos <= np.int32(i_pos) + rr_g)
                if hitm.any():
                    h = np.flatnonzero(hitm)
                    mc_l.append(cm[h])
                    if detail:
                        mi_l.append(np.full(len(h), i_pos, dtype=np.int32))
                        mp_l.append(pos[h])
                        mch_l.append(np.full(len(h), ch_ord, dtype=ord_dtype))
                    cur[h] += 1
    return mc_l, mi_l, mp_l, mch_l, mneg_l


def _collect_matches(
    model: CandidateModel,
    in_codes_all: np.ndarray,
    input_len: int,
    id_slices: list[tuple[int, int]],
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Detail-mode scan → concatenated (cand, input_pos, cand_pos, char)."""
    mc_l, mi_l, mp_l, mch_l, _ = _scan(
        model, in_codes_all, input_len, id_slices, detail=True
    )
    if not mc_l:
        return _EMPTY_MATCHES
    return (
        np.concatenate(mc_l),
        np.concatenate(mi_l),
        np.concatenate(mp_l),
        np.concatenate(mch_l),
    )


def _collect_counts(
    model: CandidateModel,
    in_codes_all: np.ndarray,
    input_len: int,
    id_slices: list[tuple[int, int]],
    return_hits: bool = False,
):
    """Counts-mode scan → per-candidate match count m (length n).

    ``return_hits`` additionally returns the sorted unique candidate ids
    touched by this scan (a superset of {id : m[id] != 0} within the
    scanned slices) — or None when the hit stream is dense enough that
    deduplicating it would cost more than the O(band) passes it saves
    (the ladder then stays on the dense path).  Sparse alphabets (CJK:
    rare chars, tiny per-char groups) touch a few hundred candidates in a
    half-million-candidate band; the ladder's fixed per-rung cost is the
    O(band) bookkeeping, not the scan (VERDICT r6 #1)."""
    mc_l, _, _, _, mneg_l = _scan(
        model, in_codes_all, input_len, id_slices, detail=False
    )
    n = model.nb_candidates
    if not mc_l:
        empty = np.zeros(n, dtype=np.int64)
        return (empty, np.empty(0, dtype=np.int64)) if return_hits else empty
    mc = np.concatenate(mc_l) if len(mc_l) > 1 else mc_l[0]
    m = np.bincount(mc, minlength=n)
    mneg = None
    if mneg_l:
        mneg = np.concatenate(mneg_l) if len(mneg_l) > 1 else mneg_l[0]
        m -= np.bincount(mneg, minlength=n)
    if not return_hits:
        return m
    width = sum(hi - lo for lo, hi in id_slices)
    n_hits = len(mc) + (len(mneg) if mneg is not None else 0)
    if width and n_hits * 4 >= width:
        return m, None  # dense hit stream: unique() wouldn't pay
    touched = np.unique(mc if mneg is None else np.concatenate([mc, mneg]))
    return m, touched


def _transpositions_batch(
    model: CandidateModel,
    in_codes_all: np.ndarray,
    input_len: int,
    cand_ids: np.ndarray,
) -> np.ndarray:
    """Vectorized exact transpositions for an ARBITRARY candidate subset:
    the reference's scalar greedy match walk (the one :func:`score_pair`
    runs), run as ``input_len`` lock-step vector iterations over the
    concatenated code slices of the batch (the same cursor semantics — an
    occurrence below the rising window floor can never match later, so
    "first unconsumed occurrence >= i - r" IS the resume-cursor match).
    ~10-30x a per-candidate scalar walk on the contender batches the
    n_best ladder visits; equality with :func:`score_pair` is pinned by
    the behavior/property suites."""
    B = len(cand_ids)
    out = np.zeros(B, dtype=np.int64)
    if not B or not input_len:
        return out
    offsets, codes, lengths = model.offsets, model.codes, model.lengths
    L = lengths[cand_ids].astype(np.int64, copy=False)
    R = int(L.sum())
    if not R:
        return out
    starts = offsets[cand_ids].astype(np.int64, copy=False)
    cumL = np.zeros(B, dtype=np.int64)
    np.cumsum(L[:-1], out=cumL[1:])
    base = np.arange(R, dtype=np.int64)
    codes_cat = codes.take(base + np.repeat(starts - cumL, L))
    seg = np.repeat(np.arange(B, dtype=np.int32), L)
    pos = (base - np.repeat(cumL, L)).astype(np.int32)
    r_half = np.maximum(L, input_len) >> 1
    rr = np.repeat(
        np.maximum(r_half - 1, 0).astype(np.int32), L
    )  # "0 if r <= 1 else r - 1" == max(r - 1, 0)
    live = np.ones(R, dtype=bool)
    a_seg: list[np.ndarray] = []
    a_ch: list[np.ndarray] = []
    b_pos: list[np.ndarray] = []
    for i in range(input_len):
        ch = in_codes_all[i]
        ii = np.int32(i)
        avail = codes_cat == ch
        avail &= live
        avail &= pos >= ii - rr
        avail &= pos <= ii + rr
        sel = np.flatnonzero(avail)
        if not len(sel):
            continue
        segs = seg.take(sel)
        # records are candidate-grouped and pos-ascending, so the first
        # available occurrence per candidate is each segment-run head
        fm = np.empty(len(segs), dtype=bool)
        fm[0] = True
        np.not_equal(segs[1:], segs[:-1], out=fm[1:])
        firsts = sel[fm]
        live[firsts] = False
        a_seg.append(segs[fm])
        a_ch.append(codes_cat.take(firsts))
        b_pos.append(pos.take(firsts))
    if not a_seg:
        return out
    ms = np.concatenate(a_seg) if len(a_seg) > 1 else a_seg[0]
    mch = np.concatenate(a_ch) if len(a_ch) > 1 else a_ch[0]
    mpos = np.concatenate(b_pos) if len(b_pos) > 1 else b_pos[0]
    # a-order = input order: records were appended i-ascending, so a
    # stable seg sort recovers each candidate's input-order sequence;
    # b-order sorts by (seg, candidate position)
    oa = np.argsort(ms, kind="stable")
    ob = np.lexsort((mpos, ms))
    diff = mch[oa] != mch[ob]
    if diff.any():
        out = np.bincount(ms[oa][diff], minlength=B) >> 1
    return out


# dense-rank transposition path: total scratch elements (n * (Li + Lc))
# above this cap fall back to the packed-key argsort path
_T_DENSE_CAP = 64_000_000


def _cumsum_rows(mat: np.ndarray) -> None:
    """In-place cumulative sum down axis 0 via an explicit row loop: each
    step is one contiguous vectorized add, which beats np.cumsum's strided
    axis-0 kernel ~4x for the short-and-wide (L, n) bitmaps used here."""
    for j in range(1, mat.shape[0]):
        np.add(mat[j], mat[j - 1], out=mat[j])


def _t_from_matches(
    matches: tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray],
    m: np.ndarray | None,
    matched: np.ndarray | None,
    n: int,
    input_len: int = 0,
    max_cand_len: int = 0,
    lengths: np.ndarray | None = None,
    required: np.ndarray | None = None,
    scratch: dict | None = None,
):
    """Transpositions (O11) from detail matches.

    Two strategies, picked by shape:

    * dense-rank (short inputs/candidates, the word-list full-emission
      shape): per-match ranks in input order and candidate order come
      from O(1)-depth scatters + in-place row cumsums over transposed
      (pos, cand) bitmaps — every step is a linear pass, no argsort.
      Chars scattered by input-rank then gathered at cand-rank give the
      per-position mismatch count directly.
    * packed-key argsort (long texts or huge bands): sort the (smaller)
      matched & m>=2 subset by (cand, input_pos) and (cand, cand_pos)
      and count char mismatches — O(N log N) but shape-independent.

    With ``m=None`` (the detail full pass), the match counts are derived
    for free from the input-rank grid's final cumsum row (counts <= Li
    fit the uint8 cells) instead of a separate 1M+-record bincount, and
    ``(t, m, matched)`` is returned (``required`` must be given).

    ``scratch`` (a per-model dict) recycles the multi-MB per-query
    temporaries: fresh np.zeros/np.empty at these sizes mmap new pages
    and the first-touch page faults cost more than the arithmetic.
    """
    derive_m = m is None

    def _buf(key, size, dt):
        if scratch is None:
            return np.empty(size, dtype=dt)
        b = scratch.get(key)
        if b is None or b.size < size or b.dtype != dt:
            b = np.empty(max(size, 1), dtype=dt)
            scratch[key] = b
        return b[:size]
    t = np.zeros(n, dtype=np.int64)
    mc, mi, mp, mch = matches
    if not len(mc):
        if derive_m:
            m = np.zeros(n, dtype=np.int64)
            return t, m, np.zeros(n, dtype=bool)
        return t
    dense_ok = (
        0 < input_len <= 250
        and 0 < max_cand_len <= 250
        and n * (input_len + max_cand_len) <= _T_DENSE_CAP
    )
    if not derive_m:
        good = matched & (m > 1)
        n_good_recs = int(m[good].sum())
    if dense_ok:
        # filtering to the m>=2 subset only pays when it actually shrinks
        # the record set; m==1 records are harmless here (rank 0 vs rank 0,
        # same char → never a mismatch) and unmatched candidates' t values
        # are never read (finalize gathers t[idx] with idx ⊆ matched)
        if not derive_m and n_good_recs < (len(mc) >> 1):
            keep = np.flatnonzero(good[mc]).astype(np.int32)
            mc2 = mc.take(keep)
            mi2 = mi.take(keep)
            mp2 = mp.take(keep)
            ch2 = mch.take(keep)
        else:
            mc2, mi2, mp2, ch2 = mc, mi, mp, mch
        Li, Lc = int(input_len), int(max_cand_len)
        mc2 = mc2.astype(np.int32, copy=False)
        # rank within candidate by input position: scatter into a
        # transposed (Li, n) bitmap (rows contiguous → axis-0 cumsum is
        # Li linear passes), cumsum in place, gather back at the match
        mt = _buf("mt", Li * n, np.uint8).reshape(Li, n)
        mt.reshape(-1).fill(0)
        fa = _buf("fidx_a", len(mc2), np.int32)
        np.multiply(mi2.astype(np.int32, copy=False), np.int32(n), out=fa)
        fa += mc2
        mt.reshape(-1)[fa] = 1
        _cumsum_rows(mt)
        rank_a = mt.reshape(-1).take(fa)
        if derive_m:
            if required is None:
                # full-emission caller: only m is consumed (as floats),
                # so keep it uint8 and skip the matched mask entirely
                m = mt[Li - 1].copy()
                matched = None
            else:
                m = mt[Li - 1].astype(np.int64)
                matched = (m >= required) & (m > 0)
        fb = _buf("fidx_b", len(mc2), np.int32)
        np.multiply(mp2.astype(np.int32, copy=False), np.int32(n), out=fb)
        fb += mc2
        if lengths is not None and n == len(lengths):
            # row i of the cand-rank bitmap only has live columns where
            # len > i, and ids are length ranks — live columns are a
            # SUFFIX.  Zero and cumsum suffixes only: traffic drops from
            # Lc*n cells to sum(len) cells (~3x for word corpora)
            offs = np.searchsorted(
                lengths, np.arange(1, Lc + 1, dtype=np.int64), side="left"
            )
            nt = _buf("nt", Lc * n, np.uint8).reshape(Lc, n)
            for j in range(Lc):
                nt[j, offs[j]:] = 0
            nt.reshape(-1)[fb] = 1
            for j in range(1, Lc):
                o = offs[j]
                np.add(nt[j, o:], nt[j - 1, o:], out=nt[j, o:])
        else:
            nt = _buf("nt", Lc * n, np.uint8).reshape(Lc, n)
            nt.reshape(-1).fill(0)
            nt.reshape(-1)[fb] = 1
            _cumsum_rows(nt)
        rank_b = nt.reshape(-1).take(fb)
        # A-sequence chars by input-rank; B-position i holds the char of
        # the record with cand-rank i, so gathering A at rank_b compares
        # position-i chars of the two orderings record-wise.  ch values
        # are distinct-char ORDINALS (_scan) < Li <= 250, so uint8 cells
        # suffice.  Only records with rank_a != rank_b can mismatch: when
        # both ranks equal p the rank-p slots of BOTH orderings hold this
        # record's own char — so restrict the scatter/gather to that
        # subset (and for any position one side of which is in the
        # subset, the other side provably is too, so every gathered cell
        # is still written).
        s = np.flatnonzero(rank_a != rank_b)
        if len(s):
            mcs = mc2.take(s)
            chs = ch2.take(s).astype(np.uint8, copy=False)
            # uninitialized is safe: every gathered cell is written (see
            # the rank-uniqueness argument above), and calloc'd pages
            # would cost a page-fault pass per query
            a_chars = _buf("ach", n * Li, np.uint8)
            # index math fused into recycled int32 buffers: ufunc `out=`
            # skips the temporaries, and the uint8 ranks are added via
            # promotion — no .astype pass (measured ~3 ms/query at the
            # 600k-record min00 shape)
            ia = _buf("tidx_a", len(s), np.int32)
            np.multiply(mcs, np.int32(Li), out=ia)
            ib = _buf("tidx_b", len(s), np.int32)
            np.add(ia, rank_b.take(s), out=ib)
            ib -= 1
            np.add(ia, rank_a.take(s), out=ia)
            ia -= 1
            a_chars[ia] = chs
            other = a_chars.take(ib)
            diff = other != chs
            if diff.any():
                t = np.bincount(mcs[diff], minlength=n) >> 1
        if derive_m:
            return t, m, matched
        return t
    if derive_m:
        m = np.bincount(mc, minlength=n)
        if required is None:
            matched = None
            good = m > 1
        else:
            matched = (m >= required) & (m > 0)
            good = matched & (m > 1)
    sel = good[mc]
    if sel.any():
        mc2, mch2 = mc[sel], mch[sel]
        # pack (cand, pos) into one int64 key: a single-key argsort is
        # ~2x a two-key lexsort, and positions are int32-bounded
        base = mc2.astype(np.int64) << 32
        by_i = np.argsort(base | mi[sel].astype(np.int64))
        by_pos = np.argsort(base | mp[sel].astype(np.int64))
        diff = mch2[by_i] != mch2[by_pos]
        t = np.bincount(mc2[by_i][diff], minlength=n) >> 1
    if derive_m:
        return t, m, matched
    return t


def _finalize_scores(
    model: CandidateModel,
    m: np.ndarray,
    idx: np.ndarray,
    t_idx: np.ndarray,
    in_codes_all: np.ndarray,
    input_len: int,
    eff_min: np.ndarray,
    w: float,
    thr: float,
    dtype,
) -> tuple[np.ndarray, np.ndarray]:
    """(m, survivors idx, per-survivor transpositions) → (idx, sc) after
    the min_score filter (O14) and zero-match emission, with Jaro (O12)
    and Winkler (O13) arithmetic identical to the reference."""
    lengths = model.lengths
    fm = m[idx].astype(dtype)
    if dtype == np.float32 and len(idx) > (len(lengths) >> 2):
        # wide emission: gather from a cached float32 copy instead of
        # paying an int->float conversion pass per query
        if getattr(model, "_len_f32", None) is None:
            model._len_f32 = lengths.astype(np.float32)
        fl = model._len_f32[idx]
    else:
        fl = lengths[idx].astype(dtype)
    ft = t_idx.astype(dtype)
    sc = (fm / dtype(input_len) + fm / fl + (fm - ft) / fm) / dtype(3.0)
    if w >= 0.0:
        boost = sc >= dtype(thr)
        if boost.any():
            plen = np.minimum(np.minimum(lengths[idx], input_len), 4)
            in4 = np.zeros(4, dtype=np.uint32)
            in4[: min(4, input_len)] = in_codes_all[:4]
            eq = model.first4[idx] == in4[None, :]
            # common prefix length: cumulative AND over the first 4 chars
            run = np.cumprod(eq, axis=1)
            pl = np.minimum(run.sum(axis=1), plen).astype(dtype)
            sc = np.where(boost, sc + pl * dtype(w) * (dtype(1.0) - sc), sc)
    if w < 0.0 and (not len(eff_min) or float(eff_min.max()) <= 0.0):
        # pure Jaro with a zero floor everywhere: sc >= 0 always (m > 0
        # for every scored id), the filter is a no-op — skip mask+extract
        return idx, sc
    keep = sc >= eff_min[idx]
    idx = idx[keep]
    sc = sc[keep]
    return idx, sc


def _finalize_full(
    model: CandidateModel,
    m: np.ndarray,
    t: np.ndarray,
    in_codes_all: np.ndarray,
    input_len: int,
    w: float,
    thr: float,
    dtype,
) -> np.ndarray:
    """Full-emission finalize (min_score <= 0 with a full length band and a
    zero required bound): EVERY candidate is emitted, so scores are
    computed as whole-n array passes — no survivor index, no gathers, no
    zero-match merge.  m == 0 rows fall out at exactly 0.0 for free:
    0/Li + 0/len + (0-0)/max(m,1) = 0, matching the reference's zero-match
    emission (runtime.h:429-438).  The per-term addition order matches
    :func:`_finalize_scores` so float32 rounding is bit-identical."""
    lengths = model.lengths
    n = len(lengths)
    if getattr(model, "_len_safe", None) is None or model._len_safe.dtype != dtype:
        # max(len, 1): only len == 0 rows change, and those always have
        # m == 0 -> numerator 0, so the clamp never alters a real score
        # (it just keeps the m == 0 lane NaN-free)
        model._len_safe = np.maximum(lengths, 1).astype(dtype)
    fl = model._len_safe
    fm = m.astype(dtype)
    ft = t.astype(dtype)
    m_safe = np.maximum(fm, dtype(1.0))
    # empty input: m == 0 everywhere, the max(1) clamp only avoids 0/0
    sc = fm / dtype(max(input_len, 1))
    sc += fm / fl
    sc += (fm - ft) / m_safe
    sc /= dtype(3.0)
    if w >= 0.0:
        boost = sc >= dtype(thr)
        boost &= m > 0  # zero-match rows emit literal 0.0, never boosted
        if boost.any():
            plen = np.minimum(np.minimum(lengths, input_len), 4)
            in4 = np.zeros(4, dtype=np.uint32)
            in4[: min(4, input_len)] = in_codes_all[:4]
            eq = model.first4 == in4[None, :]
            run = np.cumprod(eq, axis=1)
            pl = np.minimum(run.sum(axis=1), plen).astype(dtype)
            sc = np.where(boost, sc + pl * dtype(w) * (dtype(1.0) - sc), sc)
    return sc


def _emit_zero_matches(idx, sc, m, required, eff_min, dtype):
    """Zero-match emission (runtime.h:429-438): m == 0 candidates whose
    effective min_score is <= 0 are emitted with score 0.0."""
    if not len(eff_min) or float(eff_min.min()) > 0.0:
        return idx, sc
    zm = np.flatnonzero((m == 0) & (np.int64(0) >= required) & (eff_min <= 0.0))
    if len(zm):
        n = len(m)
        if len(idx) + len(zm) == n:
            # full emission (min_score=0.0): every candidate appears —
            # the merged id list IS arange(n), only scores need placing
            sc_all = np.zeros(n, dtype=dtype)
            sc_all[idx] = sc
            return np.arange(n, dtype=np.int64), sc_all
        if len(idx) + len(zm) > (n >> 3):
            # wide emission: O(n) mask-scatter merge instead of sorting
            # the concatenation
            take = np.zeros(n, dtype=bool)
            take[idx] = True
            take[zm] = True
            sc_all = np.zeros(n, dtype=dtype)
            sc_all[idx] = sc
            all_idx = np.flatnonzero(take)
            return all_idx, sc_all[all_idx]
        all_idx = np.concatenate([idx, zm])
        all_sc = np.concatenate([sc, np.zeros(len(zm), dtype=dtype)])
        order = np.argsort(all_idx, kind="stable")
        idx, sc = all_idx[order], all_sc[order]
    return idx, sc


# selective passes (min_score floor this high) use counts-mode scanning +
# per-survivor scalar transpositions; below it, detail mode is cheaper
_COUNTS_MODE_FLOOR = 0.7
# ... but only for short inputs: scalar transposition walks cost
# ~(|input| + |cand|) char-ops per survivor, so long inputs whose
# candidates mostly survive (measured on ~200-char near-duplicate texts)
# ran 2-3x faster on the vectorized detail path
_COUNTS_MODE_MAX_LEN = 64
# survivor budget for the per-survivor transposition walk, in char-ops
# (survivors × (input_len + cand_len)): above it, fall back to a
# detail-mode scan (vectorized dense-rank transpositions).  Sized for the
# VECTORIZED batch walk (_transpositions_batch, ~20x the retired scalar
# budget of 50k): at 400k char-ops the batch walk still runs in ~1-2 ms
_PAIR_T_BUDGET = 400_000
# ... and only for models large enough that detail-mode match
# materialization is the bottleneck: on tiny candidate batches (the
# pairwise-oracle shape, ~100 cands) the per-survivor scalar walk plus
# the extra counts bookkeeping is ~2x SLOWER than one dense detail pass
_COUNTS_MODE_MIN_CANDS = 2_000


def _topk_from_counts(
    model: CandidateModel,
    m: np.ndarray,
    band: tuple[int, int],
    in_codes_all: np.ndarray,
    input_len: int,
    eff_min: np.ndarray,
    w: float,
    thr: float,
    dtype,
    k: int,
    touched: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, bool]:
    """Exact top-k from match counts WITHOUT a detail scan: a score with
    t=0 is an upper bound (transpositions only subtract, and the Winkler
    boost is monotone in the base score), so survivors are visited in
    ub-descending order with exact transpositions from the scalar greedy
    walk, stopping as soon as the k-th best exact score dominates every
    remaining upper bound.  → (top_idx, top_sc, enough) where ``enough``
    says >= k results passed (the ladder's rung-success test).

    The required-matches bound is evaluated on the band slice only —
    outside the band m is 0 and scores cannot pass (except zero-match
    emission, which only applies when the floor is <= 0, i.e. full band).

    ``touched`` (optional, sorted): the ids with m != 0, accumulated from
    the counts scans.  When given, survivor extraction runs on that set
    instead of the band slice — O(#touched) instead of O(band), the
    decisive constant on sparse alphabets where a handful of candidates
    match inside a full-corpus band (optimization round 7, VERDICT r6
    #1).  Equivalent by construction: ids outside ``touched`` have m == 0
    and the survivor filter requires m > 0.
    """
    n = model.nb_candidates
    lo, hi = band
    if touched is not None:
        m_t = m[touched]
        req_t = _required_matches(
            model.lengths[touched], input_len, eff_min[touched], w
        )
        idx0 = touched[(m_t >= req_t) & (m_t > 0)]
    else:
        req_band = _required_matches(
            model.lengths[lo:hi], input_len, eff_min[lo:hi], w
        )
        m_band = m[lo:hi]
        idx0 = lo + np.flatnonzero((m_band >= req_band) & (m_band > 0))
    got_idx: list[int] = []
    got_sc: list = []
    if len(idx0):
        ub_idx, ub_sc = _finalize_scores(
            model, m, idx0,
            np.zeros(len(idx0), dtype=np.int64),
            in_codes_all, input_len, eff_min, w, thr, dtype,
        )
        if len(ub_idx):
            # ub-descending, idx-ascending processing order; argpartition
            # prefilter keeps the sort O(B log B) for huge survivor sets
            B = max(4 * k, 1024)
            while True:
                if len(ub_idx) > 2 * B:
                    part = np.argpartition(-ub_sc, B)[: B + 1]
                    spill = float(ub_sc[part[-1]])
                    cand = part[:B]
                else:
                    cand = np.arange(len(ub_idx))
                    spill = -1.0
                order = np.lexsort((ub_idx[cand], -ub_sc[cand]))
                sel = cand[order]
                kth = None
                pos = 0
                got_idx, got_sc = [], []
                chunk = max(k, 256)
                while pos < len(sel):
                    if kth is not None and float(ub_sc[sel[pos]]) < kth:
                        break
                    part_ids = ub_idx[sel[pos : pos + chunk]]
                    t_part = _transpositions_batch(
                        model, in_codes_all, input_len, part_ids
                    )
                    e_idx, e_sc = _finalize_scores(
                        model, m, part_ids, t_part,
                        in_codes_all, input_len, eff_min, w, thr, dtype,
                    )
                    got_idx.extend(int(x) for x in e_idx)
                    got_sc.extend(float(s) for s in e_sc)
                    if len(got_sc) >= k:
                        kth = sorted(got_sc, reverse=True)[k - 1]
                    pos += chunk
                # widen if the k-th exact doesn't dominate the spilled ubs
                if kth is not None and kth > spill:
                    break
                if spill < 0 or B >= len(ub_idx):
                    break
                B *= 4
    enough = len(got_sc) >= k
    gi = np.asarray(got_idx, dtype=np.int64)
    gs = np.asarray(got_sc, dtype=dtype)
    if not enough and float(eff_min.min() if n else 1.0) <= 0.0:
        # zero-match emission fills the remainder (score 0.0); ties among
        # zeros break on ORIGINAL ids, so pick the fill in that order.
        # floor <= 0 forces a full band, so req_band covers every
        # candidate (computed here on the sparse path, which skipped it)
        if touched is not None:
            req_band = _required_matches(
                model.lengths[lo:hi], input_len, eff_min[lo:hi], w
            )
        zm = np.flatnonzero((m == 0) & (np.int64(0) >= req_band) & (eff_min <= 0.0))
        if len(zm):
            need = max(0, k - len(got_sc))
            if model.orig_ids is not None:
                zm = zm[np.argsort(model.orig_ids[zm])[:need]]
            else:
                zm = zm[:need]
            gi = np.concatenate([gi, zm])
            gs = np.concatenate([gs, np.zeros(len(zm), dtype=dtype)])
            enough = len(gi) >= k
    # untruncated: the caller truncates after mapping back to original ids
    return gi, gs, enough


def _score_pass(
    model: CandidateModel,
    in_codes_all: np.ndarray,
    input_len: int,
    eff_min: np.ndarray,
    w: float,
    thr: float,
    dtype,
) -> tuple[np.ndarray, np.ndarray]:
    """One full scoring pass (internal candidate ids)."""
    n = model.nb_candidates
    floor = float(eff_min.min()) if n else 0.0
    band = _length_band(model, input_len, floor, w)
    slices = [band]
    if (
        floor >= _COUNTS_MODE_FLOOR
        and input_len <= _COUNTS_MODE_MAX_LEN
        and n >= _COUNTS_MODE_MIN_CANDS
    ):
        # selective pass: counts-mode scan, required-bound filter evaluated
        # on the band slice only, scalar transpositions per survivor
        # (floor > 0 → zero-match emission can never fire)
        lo, hi = band
        m = _collect_counts(model, in_codes_all, input_len, slices)
        req_band = _required_matches(
            model.lengths[lo:hi], input_len, eff_min[lo:hi], w
        )
        m_band = m[lo:hi]
        idx = lo + np.flatnonzero((m_band >= req_band) & (m_band > 0))
        scalar_ops = len(idx) * input_len + int(model.lengths[idx].sum())
        if scalar_ops <= _PAIR_T_BUDGET:
            t_idx = _transpositions_batch(model, in_codes_all, input_len, idx)
            return _finalize_scores(
                model, m, idx, t_idx, in_codes_all, input_len, eff_min, w, thr, dtype
            )
    required = _required_matches(model.lengths, input_len, eff_min, w)
    matches = _collect_matches(model, in_codes_all, input_len, slices)
    lo, hi = band
    max_cl = int(model.lengths[hi - 1]) if hi > lo else 0
    full_emit = (
        lo == 0
        and hi == n
        and (not len(eff_min) or float(eff_min.max()) <= 0.0)
        and (not len(required) or int(required.max()) <= 0)
    )
    t, m, matched = _t_from_matches(
        matches, None, None, n, input_len, max_cl, model.lengths,
        required=None if full_emit else required,
        scratch=model.__dict__.setdefault("_scratch", {}),
    )
    if full_emit:
        # full emission: every candidate appears (m > 0 scored, m == 0 at
        # 0.0) — whole-n array finalize, no survivor extraction or merge
        sc = _finalize_full(
            model, m, t, in_codes_all, input_len, w, thr, dtype
        )
        return np.arange(n, dtype=np.int64), sc
    idx = np.flatnonzero(matched)
    idx2, sc = _finalize_scores(
        model, m, idx, t[idx], in_codes_all, input_len, eff_min, w, thr, dtype
    )
    return _emit_zero_matches(idx2, sc, m, required, eff_min, dtype)


def score(
    model: CandidateModel,
    input_str: str,
    *,
    min_score: float | None = None,
    weight: float | None = 0.1,
    threshold: float | None = 0.7,
    n_best: int | None = None,
    dtype=np.float32,
) -> tuple[np.ndarray, np.ndarray]:
    """Score ``input_str`` against every candidate in ``model``.

    Returns ``(candidate_indices, scores)`` in the caller's original
    candidate order (or score-desc, index-asc when ``n_best`` is set) —
    only candidates surviving the min_score / n_best filters.  ``dtype``
    selects the arithmetic width: float32 matches the C reference
    bit-for-bit at its own 1e-4 tolerance; float64 matches external
    double-precision oracles (e.g. DuckDB's ``jaro_winkler_similarity``).

    ``n_best`` uses the reference's adaptive min_score ladder
    (lib/batch_jaro_winkler.c:788-816): optimistic synthetic thresholds
    first (1 - k/N capped at 0.8, then -0.2), falling back to the exact
    min_score — identical observable results, large constant-factor win.

    Argument validation mirrors ``python/cbatch_jaro_winkler.pyx:134-152``.
    """
    if min_score is not None and not 0.0 <= min_score <= 1.0:
        raise ValueError("min_score must be >= 0.0 and <= 1.0")
    if weight is not None and not 0.0 <= weight <= 0.25:
        raise ValueError("weight must be >= 0.0 and <= 0.25")
    if threshold is not None and not 0.0 <= threshold <= 1.0:
        raise ValueError("threshold must be >= 0.0 and <= 1.0")
    if n_best is not None and n_best < 0:
        raise ValueError("n_best_results must be >= 0")
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=dtype))
    if n_best == 0:  # binding-level: 0 means "no results" (pyx:143-144)
        return empty
    n = model.nb_candidates
    if n == 0:
        return empty

    w = -1.0 if weight is None else float(weight)
    thr = -1.0 if threshold is None else float(threshold)

    # --- effective per-candidate min_score (O14 precedence, c:751) ---
    if min_score is None:
        if model.min_scores is not None:
            eff_base = model.min_scores.astype(dtype)
        else:
            eff_base = np.zeros(n, dtype=dtype)
    else:
        eff_base = np.full(n, dtype(min_score))

    if isinstance(input_str, np.ndarray):
        in_codes_all = input_str.astype(np.uint32, copy=False)
    elif isinstance(input_str, (bytes, bytearray)):
        # encoded input: decode with the model's unit width (pyx:134-181)
        in_codes_all = units_from_bytes(input_str, model.char_width)
    else:
        in_codes_all, _ = _encode_utf32([input_str])
    input_len = len(in_codes_all)

    if n_best is None:
        idx, sc = _score_pass(model, in_codes_all, input_len, eff_base, w, thr, dtype)
    else:
        k = min(n_best, n)
        # reference ladder (c:788-816): base value -1 when min_score unset.
        # The reference caps the optimistic rung at 0.8; we cap at 0.7 —
        # measured on the word-list bench, the 0.8 rung fails for >half
        # the queries (k-th best below 0.8 is common) and each retry
        # re-pays the scan's fixed per-rung cost, while a 0.7 first rung
        # resolves ~everything in one scan (+30% end-to-end).  Observable
        # results are identical: every rung is exact and `enough`-gated.
        base_val = -1.0 if min_score is None else float(min_score)
        t0 = min(1.0 - k / n, 0.7)
        t1 = t0 - 0.2
        tries = [t for t in (t0, t1) if t > base_val]
        tries.append(base_val)
        # rung descent REUSES match state: a lower rung's length band is a
        # superset of the previous rung's, so only the band-difference id
        # slices are scanned fresh; scoring/filtering re-runs per rung over
        # the accumulated counts/matches (cheap next to scanning).  High
        # rungs use counts-mode (selective → few survivors, scalar
        # transpositions); the first low rung switches to detail mode.
        idx = sc = None
        m_acc = None
        matches = None
        cov = None
        touched_acc: np.ndarray | None = None
        touched_dense = False
        # small k: counts-mode scans + upper-bound top-k (scalar
        # transpositions only for contenders); large k: detail-mode scans
        # with vectorized transpositions — both reuse state across rungs
        k_small = k * (input_len + 1) <= _PAIR_T_BUDGET
        for t_val in tries:
            eff = np.maximum(eff_base, dtype(t_val)) if t_val > 0 else eff_base
            floor = float(eff.min())
            band = _length_band(model, input_len, floor, w)
            new_slices = (
                [band] if cov is None else [(band[0], cov[0]), (cov[1], band[1])]
            )
            if k_small:
                mnew, hits = _collect_counts(
                    model, in_codes_all, input_len, new_slices, return_hits=True
                )
                m_acc = mnew if m_acc is None else m_acc + mnew
                # sparse survivor tracking (VERDICT r6 #1): keep the union
                # of touched ids across rungs; once any rung's hit stream
                # is dense, stay dense for the rest of the ladder
                if hits is None:
                    touched_dense = True
                elif not touched_dense:
                    touched_acc = (
                        hits if touched_acc is None
                        else np.union1d(touched_acc, hits)
                    )
                cov = band
                use_touched = (
                    None if touched_dense or touched_acc is None
                    or len(touched_acc) * 4 >= (band[1] - band[0])
                    else touched_acc
                )
                idx, sc, enough = _topk_from_counts(
                    model, m_acc, band, in_codes_all, input_len,
                    eff, w, thr, dtype, k, touched=use_touched,
                )
                if enough:
                    break
            else:
                required = _required_matches(model.lengths, input_len, eff, w)
                fresh = _collect_matches(model, in_codes_all, input_len, new_slices)
                if matches is None:
                    matches = fresh
                elif len(fresh[0]):
                    matches = tuple(
                        np.concatenate([a, b]) for a, b in zip(matches, fresh)
                    )
                cov = band
                m = np.bincount(matches[0], minlength=n).astype(np.int32)
                matched = (m >= required) & (m > 0)
                idx0 = np.flatnonzero(matched)
                max_cl = int(model.lengths[cov[1] - 1]) if cov[1] > cov[0] else 0
                t = _t_from_matches(
                    matches, m, matched, n, input_len, max_cl, model.lengths,
                    scratch=model.__dict__.setdefault("_scratch", {}),
                )
                idx, sc = _finalize_scores(
                    model, m, idx0, t[idx0], in_codes_all, input_len,
                    eff, w, thr, dtype,
                )
                idx, sc = _emit_zero_matches(idx, sc, m, required, eff, dtype)
                if len(idx) >= k:
                    break
    # map internal length-rank ids back to the caller's candidate order
    if model.orig_ids is not None and len(idx):
        if n_best is None and len(idx) == n:
            # full emission: idx is every internal id ascending, so the
            # remap is ONE permutation scatter (no take/flatnonzero pass)
            sc_all = np.empty(n, dtype=sc.dtype)
            sc_all[model.orig_ids] = sc
            return np.arange(n, dtype=np.int64), sc_all
        idx = model.orig_ids[idx]
        if n_best is None:
            if len(idx) > (n >> 3):
                # wide emission: invert the permutation with an O(n)
                # scatter instead of argsorting the id list
                take = np.zeros(n, dtype=bool)
                take[idx] = True
                sc_all = np.empty(n, dtype=sc.dtype)
                sc_all[idx] = sc
                idx = np.flatnonzero(take)
                sc = sc_all[idx]
            else:
                order = np.argsort(idx, kind="stable")
                idx, sc = idx[order], sc[order]
        else:
            # deterministic tie-break (score desc, ORIGINAL id asc); the
            # top-k truncation happens here, after the remap, so equal
            # scores at the cutoff break on caller-visible ids
            order = np.lexsort((idx, -sc))
            idx, sc = idx[order], sc[order]
    if n_best is not None and len(idx) > min(n_best, n):
        idx, sc = idx[: min(n_best, n)], sc[: min(n_best, n)]
    return idx, sc


def score_pair(a: str, b: str, *, weight=0.1, threshold=0.7, dtype=np.float32) -> float:
    """Single-pair Jaro/Jaro-Winkler with the exact batch-kernel semantics
    (same greedy cursor matching as runtime.h:323-371, same float32 formula
    and Winkler bonus order) but scalar-optimized: for 1:1 pair
    verification the batch kernel's vectorized char loop pays numpy
    per-op overhead on length-1 vectors — this path is ~15x faster there.
    Parity with ``score`` is enforced by tests/test_kernel_behavior.py."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return float(dtype(0.0))
    w0 = -1.0 if weight is None else weight
    if w0 >= 0.0:
        # reference quirk preserved (runtime.h:297-301): when the winkler
        # required-matches denominator is zero (exactly weight == 0.25),
        # required_nb_matches is set unsatisfiably high → no result
        bottom = (
            -(np.float32(4.0) * np.float32(lb) * np.float32(w0))
            - (np.float32(4.0) * np.float32(la) * np.float32(w0))
            + np.float32(lb)
            + np.float32(la)
        )
        if bottom == np.float32(0.0):
            return float(dtype(0.0))
    r = max(la, lb) // 2
    r = 0 if r <= 1 else r - 1
    occ: dict[str, list[int]] = {}
    for j, c in enumerate(b):
        occ.setdefault(c, []).append(j)
    cur: dict[str, int] = {}
    a_chars: list[str] = []      # matched input chars, input order
    b_matches: list[tuple[int, str]] = []  # (pos, char), appended per match
    for i, c in enumerate(a):
        lst = occ.get(c)
        if lst is None:
            continue
        k = cur.get(c, 0)
        n = len(lst)
        lo = i - r
        while k < n and lst[k] < lo:
            k += 1
        if k < n and lst[k] <= i + r:
            a_chars.append(c)
            b_matches.append((lst[k], c))
            k += 1
        cur[c] = k
    m = len(a_chars)
    if m == 0:
        return float(dtype(0.0))
    b_matches.sort()
    t = sum(ca != cb for ca, (_, cb) in zip(a_chars, b_matches)) // 2
    fm = dtype(m)
    sc = (fm / dtype(la) + fm / dtype(lb) + (fm - dtype(t)) / fm) / dtype(3.0)
    w = -1.0 if weight is None else weight
    thr = -1.0 if threshold is None else threshold
    if w >= 0.0 and sc >= dtype(thr):
        plen = min(4, la, lb)
        pl = 0
        while pl < plen and a[pl] == b[pl]:
            pl += 1
        sc = sc + dtype(pl) * dtype(w) * (dtype(1.0) - sc)
    return float(sc)


_PAIR_BATCH_CHUNK = 8192


def score_pair_batch(
    texts_a,
    texts_b,
    *,
    weight=0.1,
    threshold=0.7,
    dtype=np.float32,
) -> np.ndarray:
    """Vectorized twin of :func:`score_pair` over N independent pairs.

    Same greedy cursor matching (runtime.h:323-371 semantics), same
    float32 formula, Winkler bonus order and weight==0.25 quirk — computed
    in lockstep across pairs instead of a per-pair Python loop.  Exists
    for pair *verification* workloads (one score per given (a, b) pair,
    the verify_pairs shape) where neither the per-pair scalar loop nor the
    compile-a-model batch path fits: the scalar pays ~100µs of interpreter
    per pair, the model path only amortizes with many candidates per
    input.

    Vectorization layout:

    * the per-char cursor makes each (pair, char) group an independent
      two-pointer merge over that char's positions in a and b, so ALL
      groups advance together one a-occurrence rank at a time;
    * the cursor catch-up ("skip b positions < i - r") is
      ``max(cursor, lower_bound)`` — one segmented searchsorted per step
      over a flat (group, position) key array;
    * matched flags scatter back into the ORIGINAL flat char layouts, so
      matched a-chars emerge in input order and matched b-chars in
      b-position order with no extra sort — transpositions are two
      bincounts (same pairing as score_pair's zip of a_chars with
      position-sorted b_matches).

    Bit-parity with score_pair is enforced by tests (randomized + edge
    vectors, both dtypes).
    """
    n = len(texts_a)
    if len(texts_b) != n:
        raise ValueError("texts_a and texts_b must have equal length")
    out = np.zeros(n, dtype=dtype)
    if n == 0:
        return out
    if n > _PAIR_BATCH_CHUNK:
        # bounded sub-batches: keeps the temporary working set tens of MB
        # (first-touch page faults on a worker's first call were measured
        # at ~2-3x the steady cost for GB-scale temporaries, and chunking
        # measured <1% per-pair overhead at this size), and keeps every
        # grouping key far inside int64 range regardless of caller scale
        for lo in range(0, n, _PAIR_BATCH_CHUNK):
            hi = min(lo + _PAIR_BATCH_CHUNK, n)
            out[lo:hi] = score_pair_batch(
                texts_a[lo:hi],
                texts_b[lo:hi],
                weight=weight,
                threshold=threshold,
                dtype=dtype,
            )
        return out

    a_codes, a_off = _encode_utf32(texts_a)
    b_codes, b_off = _encode_utf32(texts_b)
    la = np.diff(a_off)
    lb = np.diff(b_off)

    w0 = -1.0 if weight is None else float(weight)
    thr = -1.0 if threshold is None else float(threshold)

    alive = (la > 0) & (lb > 0)
    if w0 >= 0.0:
        # reference quirk (runtime.h:297-301, score_pair): weight == 0.25
        # zeroes the winkler required-matches denominator → no result.
        # Same float32 op order as the scalar.
        f4 = np.float32(4.0)
        fw = np.float32(w0)
        la32 = la.astype(np.float32)
        lb32 = lb.astype(np.float32)
        bottom = -(f4 * lb32 * fw) - (f4 * la32 * fw) + lb32 + la32
        alive &= bottom != np.float32(0.0)

    r = np.maximum(la, lb) // 2
    r = np.where(r <= 1, 0, r - 1)

    total_a = int(a_off[-1])
    total_b = int(b_off[-1])
    m = np.zeros(n, dtype=np.int64)
    t = np.zeros(n, dtype=np.int64)
    if total_a and total_b:
        a_pid = np.repeat(np.arange(n, dtype=np.int64), la)
        b_pid = np.repeat(np.arange(n, dtype=np.int64), lb)
        a_pos = np.arange(total_a, dtype=np.int64) - a_off[a_pid]
        b_pos = np.arange(total_b, dtype=np.int64) - b_off[b_pid]

        # dense char ranks (table sized to the batch's max code, not the
        # full unicode range) keep the grouping keys small ints → numpy's
        # stable sort runs radix
        maxcode = int(max(a_codes.max(), b_codes.max())) + 1
        present = np.zeros(maxcode, dtype=bool)
        present[a_codes] = True
        present[b_codes] = True
        alphabet = np.flatnonzero(present)
        n_alpha = len(alphabet)
        rank_of = np.zeros(maxcode, dtype=np.int64)
        rank_of[alphabet] = np.arange(n_alpha, dtype=np.int64)

        a_key = a_pid * n_alpha + rank_of[a_codes]
        b_key = b_pid * n_alpha + rank_of[b_codes]
        a_ord = np.argsort(a_key, kind="stable")
        b_ord = np.argsort(b_key, kind="stable")
        ska = a_key[a_ord]
        skb = b_key[b_ord]
        spa = a_pos[a_ord]
        spb = b_pos[b_ord]

        a_gstart = np.flatnonzero(np.r_[True, ska[1:] != ska[:-1]])
        b_gstart = np.flatnonzero(np.r_[True, skb[1:] != skb[:-1]])
        a_gkey = ska[a_gstart]
        b_gkey = skb[b_gstart]
        a_gsize = np.diff(np.r_[a_gstart, total_a])
        b_gsize = np.diff(np.r_[b_gstart, total_b])

        # align a-groups with the b-group of the same (pair, char);
        # chars absent from b (or dead pairs) never match
        ix = np.searchsorted(b_gkey, a_gkey)
        ixc = np.minimum(ix, len(b_gkey) - 1)
        keep = (b_gkey[ixc] == a_gkey) & alive[a_gkey // n_alpha]
        g_as = a_gstart[keep]
        g_asz = a_gsize[keep]
        g_bs = b_gstart[ixc[keep]]
        g_bsz = b_gsize[ixc[keep]]
        g_pid = a_gkey[keep] // n_alpha
        g_r = r[g_pid]

        a_matched = np.zeros(total_a, dtype=bool)
        b_matched = np.zeros(total_b, dtype=bool)

        # FAST PATH (the near-dup common case): if the s-th a-occurrence
        # and s-th b-occurrence sit within the window for every
        # s < min(|A|, |B|), the greedy cursor never skips and the result
        # is exactly "match the first min(|A|, |B|) occurrences pairwise"
        # (the cursor is at s when the s-th a-occurrence arrives, the
        # window test passes, and leftover occurrences on either side
        # match nothing).  One segmented vector pass classifies every
        # group; only violating groups run the sequential lockstep below.
        G = len(g_as)
        min_sz = np.minimum(g_asz, g_bsz)
        tot_min = int(min_sz.sum())
        seg_id = np.repeat(np.arange(G, dtype=np.int64), min_sz)
        starts = np.zeros(G + 1, dtype=np.int64)
        np.cumsum(min_sz, out=starts[1:])
        intra = np.arange(tot_min, dtype=np.int64) - starts[seg_id]
        aidx = g_as[seg_id] + intra
        bidx = g_bs[seg_id] + intra
        viol_elem = np.abs(spa[aidx] - spb[bidx]) > g_r[seg_id]
        viol_group = np.zeros(G, dtype=bool)
        viol_group[seg_id[viol_elem]] = True
        fast_elem = ~viol_group[seg_id]
        a_matched[a_ord[aidx[fast_elem]]] = True
        b_matched[b_ord[bidx[fast_elem]]] = True

        slow = np.flatnonzero(viol_group)
        if len(slow):
            g_as = g_as[slow]
            g_asz = g_asz[slow]
            g_bs = g_bs[slow]
            g_bsz = g_bsz[slow]
            g_r = g_r[slow]

            # segmented lower-bound key space for the b side: one flat
            # sorted array, group id major.  SEG > max position so keys
            # are globally monotone; a query below the group's range lands
            # in the previous segment and the max(cursor, ·) below clamps
            # it to 0.
            seg = int(spb.max()) + 2
            b_gid_of_elem = np.zeros(total_b, dtype=np.int64)
            b_gid_of_elem[b_gstart[1:]] = 1
            b_gid_of_elem = np.cumsum(b_gid_of_elem)
            b_seg_keys = b_gid_of_elem * seg + spb
            g_segbase = b_gid_of_elem[g_bs] * seg

            # process groups in descending a-occurrence count so the
            # active set is always a prefix
            order = np.argsort(-g_asz, kind="stable")
            g_as = g_as[order]
            g_asz = g_asz[order]
            g_bs = g_bs[order]
            g_bsz = g_bsz[order]
            g_r = g_r[order]
            g_segbase = g_segbase[order]
            neg_sizes = -g_asz

            k = np.zeros(len(g_as), dtype=np.int64)
            s = 0
            nb_total = len(spb)
            while True:
                na = int(np.searchsorted(neg_sizes, -s, side="left"))
                if na == 0:
                    break
                i = spa[g_as[:na] + s]
                lo_key = g_segbase[:na] + (i - g_r[:na])
                lb_idx = np.searchsorted(b_seg_keys, lo_key, side="left") - g_bs[:na]
                np.maximum(k[:na], lb_idx, out=k[:na])
                can = k[:na] < g_bsz[:na]
                bflat = np.minimum(g_bs[:na] + k[:na], nb_total - 1)
                hit = can & (spb[bflat] <= i + g_r[:na])
                hidx = np.flatnonzero(hit)
                if len(hidx):
                    a_matched[a_ord[g_as[hidx] + s]] = True
                    b_matched[b_ord[bflat[hidx]]] = True
                    k[hidx] += 1
                s += 1

        mp = a_pid[a_matched]
        if len(mp):
            m = np.bincount(mp, minlength=n)
            mism = a_codes[a_matched] != b_codes[b_matched]
            if mism.any():
                t = np.bincount(mp[mism], minlength=n) // 2

    sel = np.flatnonzero(alive & (m > 0))
    if len(sel):
        fm = m[sel].astype(dtype)
        ft = t[sel].astype(dtype)
        sc = (
            fm / la[sel].astype(dtype)
            + fm / lb[sel].astype(dtype)
            + (fm - ft) / fm
        ) / dtype(3.0)
        if w0 >= 0.0:
            elig = sc >= dtype(thr)
            plen = np.minimum(np.minimum(la[sel], lb[sel]), 4)
            pl = np.zeros(len(sel), dtype=np.int64)
            ok = np.arange(len(sel))
            for j in range(4):
                ok = ok[plen[ok] > j]
                if not len(ok):
                    break
                same = a_codes[a_off[sel[ok]] + j] == b_codes[b_off[sel[ok]] + j]
                ok = ok[same]
                pl[ok] += 1
            bonus = pl.astype(dtype) * dtype(w0) * (dtype(1.0) - sc)
            sc = np.where(elig, sc + bonus, sc)
        out[sel] = sc
    return out


def score_strings(
    candidates,
    input_str: str,
    *,
    min_scores=None,
    min_score=None,
    weight=0.1,
    threshold=0.7,
    n_best=None,
    dtype=np.float32,
):
    """Convenience one-shot: returns [(candidate, score)] like the reference
    Python binding (``python/cbatch_jaro_winkler.pyx:128``)."""
    model = build_model(candidates, min_scores=min_scores)
    idx, sc = score(
        model,
        input_str,
        min_score=min_score,
        weight=weight,
        threshold=threshold,
        n_best=n_best,
        dtype=dtype,
    )
    cand_list = list(candidates)
    return [(cand_list[int(i)], float(s)) for i, s in zip(idx, sc)]

"""Parity tests for the position-bucket scan indexes (bjw._ensure_buckets /
_ensure_buckets2), which only engage above _BUCKET_MIN_RECORDS and were
therefore invisible to the rest of the kernel suite.

Regression anchor: the counts-mode probe keys are packed with the
single-occurrence stride (model.b_maxp) while the occurrence/pair indexes
were built with pos_flat.max()+1 — whenever the corpus max position lived
only in a multi-occurrence group, every counts-mode query misaligned and
silently dropped matches (including exact self-matches).  Both indexes now
share the global stride by construction; these tests pin that invariant.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from batch_jaro_winkler_spark.kernel import build_model, score, score_pair
from batch_jaro_winkler_spark.kernel import bjw
from batch_jaro_winkler_spark.kernel.oracle import jaro

TOL = 1e-4


def _distinct_char_words(n, length, seed):
    """Words whose chars are all distinct within the word (every group is
    single-occurrence), drawn from a wide alphabet so cross-word groups
    stay mostly single-occurrence too."""
    rng = random.Random(seed)
    alphabet = [chr(c) for c in range(0x400, 0x4000)]  # wide: few collisions
    words = set()
    while len(words) < n:
        words.add("".join(rng.sample(alphabet, length)))
    return sorted(words)


def test_counts_mode_stride_parity_multi_occurrence_max_position():
    """ADVICE r3 (high): model whose global max position occurs ONLY in a
    multi-occurrence group must still return the exact self-match (and
    full brute-force parity) through the counts-mode bucket path."""
    words = _distinct_char_words(6000, 8, seed=7)
    # one strictly-longest candidate ENDING in a repeated char: its last
    # position (the global max, since it is the longest) belongs to a
    # multi-occurrence group and to no single-occurrence group
    long_cand = "".join(chr(0x100 + i) for i in range(38)) + "ąą"
    candidates = words + [long_cand]
    model = build_model(candidates)

    # counts-mode gates: >= _BUCKET_MIN_RECORDS single-occ records,
    # >= _COUNTS_MODE_MIN_CANDS candidates, min_score >= floor, short input
    bjw._ensure_aux(model)
    assert len(model.s_char) >= bjw._BUCKET_MIN_RECORDS
    # the precondition that broke the old stride: single-occ max position
    # is strictly below the global max position
    assert int(model.s_pos.max()) < int(model.pos_flat.max())

    idx, sc = score(model, long_cand, min_score=0.75, weight=None, threshold=None)
    got = {candidates[int(i)]: float(s) for i, s in zip(idx, sc)}
    assert got.get(long_cand) == pytest.approx(1.0), "exact self-match dropped"
    # bucket indexes engaged and share one stride
    assert model.b_maxp > 0 and model.b_maxp == model.b2_maxp
    # full parity vs the textbook oracle on this query
    for cand in candidates:
        exp = jaro(long_cand, cand)
        if exp >= 0.75 + TOL:
            assert cand in got, (cand, exp)
        if cand in got:
            assert abs(got[cand] - exp) < TOL, (cand, got[cand], exp)


@pytest.mark.parametrize(
    "mode",
    ["counts", "detail", "nbest"],
)
def test_bucketed_scan_matches_unbucketed(mode, monkeypatch):
    """Randomized bucketed-vs-unbucketed kernel parity: the same queries on
    two identical models, one forced through the bucket indexes and one
    kept on the plain per-char path, must agree exactly (same float32
    arithmetic on both sides).  Corpus is repetition-heavy so the
    multi-occurrence machinery (telescoped pair index, nearest-occurrence
    distances) is actually exercised."""
    rng = random.Random(mode)
    alphabet = "abcdefghijЁЂ"  # narrow: plenty of repeated chars
    cands = sorted(
        {
            "".join(rng.choice(alphabet) for _ in range(rng.randint(2, 24)))
            for _ in range(2600)
        }
    )
    inputs = [rng.choice(cands) for _ in range(6)] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 30)))
        for _ in range(6)
    ]
    kwargs = {
        "counts": dict(min_score=0.72),
        "detail": dict(min_score=0.0),
        "nbest": dict(n_best=10),
    }[mode]

    monkeypatch.setattr(bjw, "_BUCKET_MIN_RECORDS", 1 << 60)
    plain = build_model(list(cands))
    plain_res = [
        score(plain, inp, weight=None, threshold=None, **kwargs) for inp in inputs
    ]
    assert plain.b_maxp == 0  # control really stayed unbucketed

    monkeypatch.setattr(bjw, "_BUCKET_MIN_RECORDS", 64)
    monkeypatch.setattr(bjw, "_COUNTS_MODE_MIN_CANDS", 1)
    bucketed = build_model(list(cands))
    for inp, (pidx, psc) in zip(inputs, plain_res):
        bidx, bsc = score(bucketed, inp, weight=None, threshold=None, **kwargs)
        po = np.lexsort((pidx, -psc))
        bo = np.lexsort((bidx, -bsc))
        np.testing.assert_array_equal(bidx[bo], pidx[po], err_msg=repr(inp))
        np.testing.assert_array_equal(bsc[bo], psc[po], err_msg=repr(inp))
    assert bucketed.b_maxp > 0
    if mode != "detail":  # b2/bp are counts-mode-only indexes
        assert bucketed.b2_maxp == bucketed.b_maxp
    if mode == "detail":
        # the detail full-emission pass must have engaged the m3
        # first-in-window index (round 6), not the resume-cursor walk
        assert bucketed.m3_maxp > 0


def test_refused_m3_falls_back_to_cursor_walk(monkeypatch):
    """Models whose multi-occurrence groups span more than 64 half-window
    classes refuse the m3 first-in-window index (m3_maxp = -1); their
    once-occurring input chars then take the resume-cursor walk.  Detail,
    counts and n_best results must still equal the float32 single-pair
    reference exactly, and the textbook oracle within tolerance."""
    rng = random.Random(11)
    alphabet = "abcdefghЁЂ"  # narrow: every long candidate repeats chars
    cands = sorted(
        {
            "".join(rng.choice(alphabet) for _ in range(rng.randint(2, 300)))
            for _ in range(400)
        }
    )
    short = [c for c in cands if len(c) <= 40]
    probes = [rng.choice(short) for _ in range(3)] + [
        "abcdЁ",  # every char once
        "aabbcЂdd",  # repeated and once-occurring chars
        "".join(rng.choice(alphabet) for _ in range(30)),
        "hgfedcbaa" * 4,
    ]
    monkeypatch.setattr(bjw, "_BUCKET_MIN_RECORDS", 64)
    monkeypatch.setattr(bjw, "_COUNTS_MODE_MIN_CANDS", 1)
    model = build_model(list(cands))
    kw = dict(weight=None, threshold=None)
    for probe in probes:
        exp = np.array([score_pair(probe, c, **kw) for c in cands], dtype=np.float32)
        for c, e in zip(cands, exp):
            assert abs(float(e) - jaro(probe, c)) < TOL, (probe, c)

        idx, sc = score(model, probe, min_score=0.0, **kw)  # detail
        np.testing.assert_array_equal(idx, np.arange(len(cands)))
        np.testing.assert_array_equal(sc, exp, err_msg=probe)

        idx, sc = score(model, probe, min_score=0.72, **kw)  # counts
        want = np.flatnonzero(exp >= np.float32(0.72))
        np.testing.assert_array_equal(np.sort(idx), want, err_msg=probe)
        np.testing.assert_array_equal(sc[np.argsort(idx)], exp[want], err_msg=probe)

        idx, sc = score(model, probe, n_best=10, **kw)
        top = np.lexsort((np.arange(len(cands)), -exp))[:10]
        np.testing.assert_array_equal(idx, top, err_msg=probe)
        np.testing.assert_array_equal(sc, exp[top], err_msg=probe)
    assert model.m3_maxp == -1  # the index was attempted and refused

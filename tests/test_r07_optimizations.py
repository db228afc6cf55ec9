"""Focused tests for the round-7 optimization changes: each asserts that a
performance restructure is OBSERVABLY equivalent to the shape it replaced
(same rows / same scores / same keys), plus the ADVICE r6 hardening."""

from __future__ import annotations

import numpy as np
import pytest

from batch_jaro_winkler_spark.kernel import bjw
from batch_jaro_winkler_spark.kernel.bjw import build_model, score, score_pair
from batch_jaro_winkler_spark.kernel.serialize import model_from_bytes, model_to_bytes


# ---------------------------------------------------------------- kernel

def test_scan_ignores_chars_above_model_max():
    """Input chars above the model's max indexed code point must match
    nothing — and must not wrap the packed bucket keys (_ensure_m3 /
    _ensure_buckets guards are sized by the MODEL's max char)."""
    rng = np.random.default_rng(5)
    cands = [
        "".join(chr(97 + c) for c in rng.integers(0, 20, size=12))
        for _ in range(200)
    ]
    # repeated chars → multi-occurrence groups engage the m3 path
    cands += [c[:4] * 3 for c in cands[:100]]
    old = bjw._BUCKET_MIN_RECORDS
    bjw._BUCKET_MIN_RECORDS = 1  # force every bucket index on
    try:
        model = build_model(cands)
        high = chr(0x10FFFF)
        for inp in [
            "abcabcdde",
            high + "abcabcdde",
            ("abcab" + high * 3 + "cdde"),
            high * 5,
        ]:
            idx, sc = score(model, inp, min_score=0.0, weight=0.1, threshold=0.7)
            got = dict(zip(idx.tolist(), sc.tolist()))
            for ci, cand in enumerate(cands):
                expected = score_pair(inp, cand, weight=0.1, threshold=0.7)
                assert got.get(ci, 0.0) == pytest.approx(expected, abs=1e-6), (
                    inp, cand
                )
    finally:
        bjw._BUCKET_MIN_RECORDS = old


# ---------------------------------------------------------------- serialize

def _sample_model():
    return build_model(["hello", "world", "hells", "hel", "a", "ab"])


def test_serialize_rejects_descending_lengths():
    m = _sample_model()
    blob = model_to_bytes(m)
    good = model_from_bytes(blob)
    # fabricate a blob whose lengths are NOT ascending but whose offsets
    # stay consistent: swap two candidates' (offsets, lengths, codes)
    import copy

    bad = copy.copy(good)
    # simplest: build from unsorted state directly and re-serialize
    bad.lengths = good.lengths[::-1].copy()
    off = np.zeros(len(bad.lengths) + 1, dtype=np.int64)
    np.cumsum(bad.lengths, out=off[1:])
    bad.offsets = off
    bad.codes = good.codes  # sizes still line up (total chars unchanged)
    with pytest.raises(ValueError, match="ascending"):
        model_from_bytes(model_to_bytes(bad))


def test_serialize_rejects_nonmonotone_group_positions():
    m = _sample_model()
    good = model_from_bytes(model_to_bytes(m))
    grp = np.flatnonzero(
        (good.group_end - good.group_start) >= 2
    )
    if not len(grp):  # need a multi-occurrence group ('l' in hello)
        pytest.skip("fixture lacks multi-occurrence group")
    g = grp[0]
    bad = good
    s = int(bad.group_start[g])
    pf = bad.pos_flat.copy()
    pf[s], pf[s + 1] = pf[s + 1], pf[s]  # descend inside the group
    bad.pos_flat = pf
    with pytest.raises(ValueError, match="ascending within a group"):
        model_from_bytes(model_to_bytes(bad))


def test_serialize_range_checks_narrowing_casts():
    m = _sample_model()
    m.group_start = m.group_start.astype(np.int64) + 2**40
    with pytest.raises(ValueError, match="group_start"):
        model_to_bytes(m)


# ---------------------------------------------------------------- operators

def test_bucket_key_arrays_pinned_digest(spark):
    """The hyperplane bucket keys are pinned to a stored digest: a change
    to the planes RNG, the sign computation or the bit packing moves every
    bucket and shows here."""
    import hashlib

    from batch_jaro_winkler_spark.operators.ann import bucket_key_arrays

    rng = np.random.default_rng(11)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(16).astype(np.float32)])
        for i in range(64)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    arr = {
        r["vec_id"]: list(r["buckets"])
        for r in bucket_key_arrays(
            df, "vec_id", "embedding", 16, n_planes=6, n_tables=4
        ).collect()
    }
    assert len(arr) == 64
    assert all(0 <= k < 2**6 for keys in arr.values() for k in keys)
    digest = hashlib.sha256(repr(sorted(arr.items())).encode()).hexdigest()
    assert digest == (
        "cf75bebb4fe81091d8c664c1a1d44b1fc5fff6082c77ce9fd81543f04565b115"
    )


def test_score_topk_k_none_equals_huge_k(spark):
    from batch_jaro_winkler_spark.operators.score_pairs import score_topk

    texts = ["hello world", "hello word", "spark rows", "hello", "walrus"]
    probes = spark.createDataFrame(
        [(0, "hello world"), (1, "walrut")], "probe_id long, probe_text string"
    )
    cands = spark.createDataFrame(
        list(enumerate(texts)), "cand_id long, cand_text string"
    )
    a = score_topk(
        probes, cands, k=None, min_score=0.5, weight=0.1, threshold=0.7,
        dtype=np.float64,
    ).collect()
    b = score_topk(
        probes, cands, k=500000, min_score=0.5, weight=0.1, threshold=0.7,
        dtype=np.float64,
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_score_topk_probe_guard(spark, monkeypatch):
    """The probe set is collected to the driver: one probe over the limit
    raises, exactly the limit scores."""
    from batch_jaro_winkler_spark.operators import score_pairs

    monkeypatch.setattr(score_pairs, "_MAX_PROBES", 3)
    cands = spark.createDataFrame(
        [(10, "martha"), (11, "dwayne")], "cand_id long, cand_text string"
    )
    probes = spark.createDataFrame(
        [(i, "marhta") for i in range(4)], "probe_id long, probe_text string"
    )
    with pytest.raises(ValueError, match="exceeds 3 probes"):
        score_pairs.score_topk(probes, cands, k=1)
    got = score_pairs.score_topk(probes.where("probe_id < 3"), cands, k=1).collect()
    assert sorted((r["probe_id"], r["cand_id"]) for r in got) == [
        (0, 10), (1, 10), (2, 10)
    ]


def test_verify_pairs_memoizes_identical_text_pairs(spark):
    """Exact-duplicate cliques: many (a, b) id pairs share one text pair —
    the memo must fan the single score back out to every clone row."""
    from batch_jaro_winkler_spark.operators.config import DedupConfig
    from batch_jaro_winkler_spark.operators.score_pairs import verify_pairs

    texts = [(i, "the quick brown fox jumps over the dog") for i in range(20)]
    texts += [(i, "an entirely different document body here") for i in range(20, 40)]
    texts += [(40, "the quick brown fox jumps over the fog")]
    docs = spark.createDataFrame(texts, "doc_id long, jw_text string")
    pairs = [(a, b) for a in range(20) for b in range(a + 1, 20)]
    pairs += [(a, 40) for a in range(20)]
    pairs += [(20, b) for b in range(21, 30)]
    pdf = spark.createDataFrame(pairs, "a long, b long")
    cfg = DedupConfig()
    got = {
        (r["a"], r["b"]): r["score"]
        for r in verify_pairs(pdf, docs, cfg, "doc_id", "jw_text").collect()
    }
    # every identical-text pair scores 1.0 and survives
    for a, b in [(0, 1), (5, 19), (2, 17)]:
        assert got[(a, b)] == pytest.approx(1.0)
    # near-dup pair scores the scalar reference value
    expect = score_pair(
        "the quick brown fox jumps over the dog",
        "the quick brown fox jumps over the fog",
        weight=cfg.jw_weight,
        threshold=cfg.jw_threshold,
    )
    for a in range(20):
        if expect >= cfg.jw_min_score:
            assert got[(a, 40)] == pytest.approx(expect, abs=1e-6)
        else:
            assert (a, 40) not in got
    # dissimilar pairs are filtered
    assert (20, 21) in got  # identical texts in the second clique
    assert all(k[0] != 20 or k[1] <= 40 for k in got)


def test_verify_pairs_large_group_scores_match_scalar(spark):
    """One left text with 14 distinct candidates (exact copy, near-dups at
    rising edit counts, unrelated texts): every emitted score equals the
    scalar ``score_pair`` at float32, and exactly the pairs at or above
    ``jw_min_score`` are emitted."""
    from batch_jaro_winkler_spark.operators.config import DedupConfig
    from batch_jaro_winkler_spark.operators.score_pairs import verify_pairs

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rng = np.random.default_rng(11)
    cands = [base]
    for n_edits in range(1, 10):
        chars = list(base)
        for p in rng.choice(len(chars), size=3 * n_edits, replace=False):
            chars[p] = chr(97 + int(rng.integers(0, 26)))
        cands.append("".join(chars))
    cands += [
        "an entirely different document body here",
        "zyxwvutsrqponmlkjihgfedcba",
        "lorem ipsum dolor sit amet consectetur adipiscing",
        "",
    ]
    assert len(set(cands)) == len(cands) >= 12
    docs = spark.createDataFrame(
        [(0, base)] + [(i + 1, c) for i, c in enumerate(cands)],
        "doc_id long, jw_text string",
    )
    pairs = spark.createDataFrame(
        [(0, i + 1) for i in range(len(cands))], "a long, b long"
    )
    cfg = DedupConfig()
    got = {
        (r["a"], r["b"]): r["score"]
        for r in verify_pairs(pairs, docs, cfg, "doc_id", "jw_text").collect()
    }
    expect = {
        (0, i + 1): score_pair(
            base, c, weight=cfg.jw_weight, threshold=cfg.jw_threshold
        )
        for i, c in enumerate(cands)
    }
    kept = {k for k, v in expect.items() if v >= np.float32(cfg.jw_min_score)}
    assert 1 < len(kept) < len(cands)  # both sides of the threshold occur
    assert set(got) == kept
    for k, v in got.items():
        assert np.float32(v) == np.float32(expect[k]), (k, v, expect[k])


def test_verify_pairs_null_text_dropped_without_corruption(spark):
    """A NaN memo key would factorize to -1 and clobber the LAST distinct
    slot: pairs touching a null-text doc must be dropped, and every other
    pair — especially the last distinct text pair — must keep its score."""
    from batch_jaro_winkler_spark.operators.config import DedupConfig
    from batch_jaro_winkler_spark.operators.score_pairs import verify_pairs

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta"),
         (2, None), (3, "zeta eta theta iota"), (4, "zeta eta theta iota")],
        "doc_id long, jw_text string",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (2, 3), (3, 4)], "a long, b long"
    )
    got = {
        (r["a"], r["b"]): r["score"]
        for r in verify_pairs(pairs, docs, DedupConfig(), "doc_id", "jw_text").collect()
    }
    assert got[(0, 1)] == pytest.approx(1.0)
    assert got[(3, 4)] == pytest.approx(1.0)  # the last distinct slot
    assert (0, 2) not in got and (2, 3) not in got


def test_exact_dup_groups_window_form(spark):
    from batch_jaro_winkler_spark.operators.exact_dedup import exact_dup_groups

    docs = spark.createDataFrame(
        [(0, "x"), (1, "y"), (2, "x"), (3, "x"), (4, "")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["rep_id"]
        for r in exact_dup_groups(docs).collect()
    }
    assert got == {0: 0, 1: 1, 2: 0, 3: 0, 4: 4}


def test_score_pair_batch_parity_randomized():
    """score_pair_batch must be bit-identical to the scalar score_pair
    across alphabets (incl. astral), dup/near-dup/random pairs, empty
    strings, both dtypes, and every weight/threshold mode — including the
    weight == 0.25 zero-denominator quirk and sub-chunking."""
    import random

    from batch_jaro_winkler_spark.kernel import score_pair_batch

    rng = random.Random(20260822)
    alphabets = [
        "ab",
        "aab",
        "abcdefghijklmnopqrstuvwxyz 0123456789",
        "".join(chr(0x4E00 + i) for i in range(30)),
        "aéő\U0001F600\U0010FFFD",
    ]
    for trial in range(40):
        alpha = rng.choice(alphabets)
        n = rng.randint(1, 60)
        ta, tb = [], []
        for _ in range(n):
            ln = rng.randint(0, 80)
            s = "".join(rng.choice(alpha) for _ in range(ln))
            ta.append(s)
            roll = rng.random()
            if roll < 0.25:
                tb.append(s)
            elif roll < 0.5 and ln > 3:
                x = list(s)
                x[rng.randrange(ln)] = rng.choice(alpha)
                tb.append("".join(x))
            elif roll < 0.6:
                tb.append("")
            else:
                tb.append(
                    "".join(rng.choice(alpha) for _ in range(rng.randint(0, 80)))
                )
        weight = rng.choice([None, 0.1, 0.25, 0.0])
        threshold = rng.choice([None, 0.7, 0.99])
        dtype = rng.choice([np.float32, np.float64])
        got = score_pair_batch(ta, tb, weight=weight, threshold=threshold, dtype=dtype)
        for i in range(n):
            want = score_pair(ta[i], tb[i], weight=weight, threshold=threshold, dtype=dtype)
            assert np.array(want, dtype=dtype) == got[i], (
                f"w={weight} thr={threshold} dt={dtype} a={ta[i]!r} b={tb[i]!r}"
            )


def test_score_pair_batch_chunking_invariant():
    """Sub-chunking must not change results: force the chunk boundary
    through a batch larger than _PAIR_BATCH_CHUNK."""
    import random

    from batch_jaro_winkler_spark.kernel import score_pair_batch

    old_chunk = bjw._PAIR_BATCH_CHUNK
    rng = random.Random(7)
    ta = ["".join(rng.choice("abcde ") for _ in range(rng.randint(0, 30))) for _ in range(503)]
    tb = ["".join(rng.choice("abcde ") for _ in range(rng.randint(0, 30))) for _ in range(503)]
    whole = score_pair_batch(ta, tb)
    try:
        bjw._PAIR_BATCH_CHUNK = 100
        chunked = score_pair_batch(ta, tb)
    finally:
        bjw._PAIR_BATCH_CHUNK = old_chunk
    assert np.array_equal(whole, chunked)

"""Edge verification: the aligned-matrix extension and the Jaro-Winkler
share of the one verify pass against a naive character loop and the
scalar kernel, and recall when two docs share both a short boilerplate
line and a long passage."""

from __future__ import annotations

import random

import numpy as np

from batch_jaro_winkler_spark.kernel.bjw import score_pair
from batch_jaro_winkler_spark.operators.config import DedupConfig
from batch_jaro_winkler_spark.operators.fingerprint_dedup import (
    _rolling_hashes,
    fingerprint_pairs,
    substring_edges,
)
from batch_jaro_winkler_spark.operators.score_pairs import verify_edges


def _rand(rng: random.Random, n: int) -> str:
    return "".join(rng.choice("abcdefghij") for _ in range(n))


def _naive_extension(ta: str, tb: str, pa: int, pb: int, cfg: DedupConfig):
    """Common-substring length around the aligned seed (pa, pb), one
    character at a time, inside the context each side ships: chars
    [max(p - cap, 0), max(p - cap, 0) + 2 * cap + k) of its doc.  None
    when the seed grams differ."""
    k = cfg.gram_chars
    cap = cfg.min_substring_chars + k
    if len(ta[pa : pa + k]) < k or ta[pa : pa + k] != tb[pb : pb + k]:
        return None
    sa, sb = max(pa - cap, 0), max(pb - cap, 0)
    ea, eb = min(len(ta), sa + 2 * cap + k), min(len(tb), sb + 2 * cap + k)
    lo = 0
    while pa - lo - 1 >= sa and pb - lo - 1 >= sb and ta[pa - lo - 1] == tb[pb - lo - 1]:
        lo += 1
    hi = 0
    while pa + hi < ea and pb + hi < eb and ta[pa + hi] == tb[pb + hi]:
        hi += 1
    return lo + hi


def test_substring_verify_matches_naive_extension(spark):
    """verify_edges over hand-built fingerprint seeds and LSH pairs (null
    offsets) on the same docs: the seed share equals a naive character
    extension, the LSH share the scalar ``score_pair`` of the
    ``max_jw_len`` prefixes at float32, a pair of both kinds carries both,
    a null text matches on neither, and no kind fills the other's
    column."""
    from pyspark.sql import functions as F

    # small widths so every clipping case fits short texts: k=10,
    # min_len=40, cap=50, each side ships 110 chars of context; JW scores
    # 40-char prefixes, so texts that differ only past them score 1.0
    cfg = DedupConfig(gram_chars=10, min_substring_chars=40, max_jw_len=40)
    rng = random.Random(7)
    shared = _rand(rng, 80)
    long_shared = _rand(rng, 400)
    astral = "".join(rng.choice("ab𝔘𝔫𝔦😀中") for _ in range(60))
    texts: dict[int, str | None] = {}
    seeds: list[tuple[int, int, int, int]] = []  # (a, pos_a, b, pos_b), a < b

    def case(ta: str, pa: int, tb: str, pb: int) -> None:
        a = 2 * len(seeds)
        texts[a], texts[a + 1] = ta, tb
        seeds.append((a, pa, a + 1, pb))

    # seed clipped by the document start on side a, on side b, on both
    case(shared + _rand(rng, 100), 5, _rand(rng, 70) + shared + _rand(rng, 60), 75)
    case(_rand(rng, 90) + shared + _rand(rng, 40), 120, shared + _rand(rng, 100), 30)
    case(shared + _rand(rng, 50), 12, _rand(rng, 4) + shared + _rand(rng, 30), 16)
    case(shared + _rand(rng, 60), 8, shared + _rand(rng, 40), 8)
    # seeds at a document end (the gram ends the doc), clipped and not
    case(_rand(rng, 100) + shared, 170, _rand(rng, 30) + shared, 100)
    case(_rand(rng, 10) + shared, 80, _rand(rng, 3) + shared, 73)
    # a common run longer than the shipped context, mid-doc and near a start
    case(long_shared, 200, long_shared, 200)
    case(long_shared, 20, _rand(rng, 7) + long_shared, 27)
    # too short to pass: 30 shared chars
    case(_rand(rng, 60) + shared[:30] + _rand(rng, 60), 65, shared[:30] + _rand(rng, 60), 5)
    # a seed whose gram differs (a fingerprint collision, not a copy)
    case(_rand(rng, 200), 60, _rand(rng, 200), 60)
    # astral-plane code points: offsets count code points, not UTF-16 or
    # UTF-8 units
    case(_rand(rng, 30) + astral + _rand(rng, 20), 35, astral[3:] + _rand(rng, 10), 2)
    # a null-text doc on a seed
    texts[90] = None
    seeds.append((0, 5, 90, 5))

    # LSH pairs over the same docs: (6, 7) and the astral pair (20, 21)
    # are seeds too; (92, 93) differ only past the JW prefix, (94, 95)
    # share an astral prefix; the null doc pairs with 0
    texts[92] = shared + _rand(rng, 30)
    texts[93] = shared + _rand(rng, 30)
    texts[94] = astral + _rand(rng, 20)
    texts[95] = astral[:30] + _rand(rng, 20)
    lsh = [(0, 2), (6, 7), (12, 14), (20, 21), (0, 90), (92, 93), (4, 93), (94, 95)]

    # one hand-built fingerprint per seed: fp = the seed's index
    fps = spark.createDataFrame(
        [(a, i, pa) for i, (a, pa, _, _) in enumerate(seeds)]
        + [(b, i, pb) for i, (_, _, b, pb) in enumerate(seeds)],
        "doc_id long, fp long, pos int",
    )
    no_pos = F.lit(None).cast("int")
    lsh_df = spark.createDataFrame(lsh, "a long, b long").select(
        "a", "b", no_pos.alias("pos_a"), no_pos.alias("pos_b")
    )
    docs = spark.createDataFrame(sorted(texts.items()), "doc_id long, norm string")
    rows = verify_edges(fingerprint_pairs(fps, cfg).unionByName(lsh_df), docs, cfg).collect()
    assert len(rows) == len({(r["a"], r["b"]) for r in rows})  # one row per pair
    got_len = {(r["a"], r["b"]): r["match_len"] for r in rows if r["match_len"] is not None}
    got_score = {(r["a"], r["b"]): r["score"] for r in rows if r["score"] is not None}
    assert all(r["match_len"] is not None or r["score"] is not None for r in rows)

    lens = {
        (a, b): _naive_extension(texts[a], texts[b], pa, pb, cfg)
        for a, pa, b, pb in seeds
        if texts[b] is not None
    }
    want = {p: n for p, n in lens.items() if n is not None and n >= cfg.min_substring_chars}
    assert got_len == want, (got_len, lens)
    # the cases cover what they claim: passing, too-short and gram-mismatch rows
    assert len(want) == 9 and (20, 21) in want
    assert sorted(n for n in lens.values() if n is not None)[0] < cfg.min_substring_chars
    assert list(lens.values()).count(None) == 1
    # the shipped context bounds the long runs: 2 * cap + k = 110 chars
    # mid-doc; near a start, the 20 chars before the seed on side a plus
    # the 83 after it that fit side b's 110-char slice
    assert (lens[(12, 13)], lens[(14, 15)]) == (110, 103)

    n = cfg.max_jw_len
    scores = {
        (a, b): score_pair(texts[a][:n], texts[b][:n], weight=cfg.jw_weight, threshold=cfg.jw_threshold)
        for a, b in lsh
        if texts[b] is not None
    }
    want_score = {p: s for p, s in scores.items() if s >= np.float32(cfg.jw_min_score)}
    assert set(got_score) == set(want_score), (got_score, scores)
    for p, s in got_score.items():
        assert np.float32(s) == np.float32(want_score[p]), (p, s, want_score[p])
    # both sides of the threshold occur; a pair of both kinds carries both
    # columns; the prefix cut decides (92, 93)
    assert 0 < len(want_score) < len(scores)
    assert got_score.keys() & got_len.keys() == {(6, 7)}
    assert got_score[(92, 93)] == 1.0 and texts[92] != texts[93]
    assert (94, 95) in got_score


_NEWSLETTER = "sign up for our newsletter to receive the latest news and offers"


def test_substring_recall_when_a_short_shared_line_seeds_first(spark):
    """Two docs share a boilerplate line early on and a 300-char passage
    later.  The line's fingerprint is the earliest shared one, but its
    run is far below min_substring_chars; the passage must still be
    found."""
    cfg = DedupConfig()
    # the line is shorter than min_substring_chars, yet one of its grams is
    # a fingerprint, so every pair below shares it before the passage
    codes = np.frombuffer(_NEWSLETTER.encode("utf-32-le"), dtype="<u4")
    h = _rolling_hashes(codes, cfg.gram_chars)
    assert ((h & np.uint64(cfg.fp_mod - 1)) == 0).any()
    assert len(_NEWSLETTER) < cfg.min_substring_chars
    rng = random.Random(11)
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))
        for _ in range(3000)
    ]

    def words(n_chars: int) -> str:
        out = []
        while len(" ".join(out)) < n_chars:
            out.append(rng.choice(vocab))
        return " ".join(out)

    rows = []
    for p in range(5):
        passage = words(300)
        a, b = 2 * p, 2 * p + 1
        rows.append((a, f"{words(40)} {_NEWSLETTER} {words(150)} {passage} {words(120)}"))
        rows.append((b, f"{words(90)} {_NEWSLETTER} {words(60)} {passage} {words(200)}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["a"], r["b"]): r["match_len"]
        for r in substring_edges(docs, cfg, "doc_id", "text").collect()
    }
    assert set(got) == {(2 * p, 2 * p + 1) for p in range(5)}, got
    assert all(n >= 300 for n in got.values()), got


def test_signature_fingerprints_equal_fingerprint_pass(spark):
    """The fingerprint columns compute_signatures stores with ``norm``,
    exploded by pair_keys (its ``k1 = -1`` rows), are the rows of a
    separate fingerprints() pass over the same normalized text, ordered by
    a doc-id hash."""
    from pyspark.sql import functions as F

    from batch_jaro_winkler_spark.fixtures import make_corpus
    from batch_jaro_winkler_spark.functions.text import normalize_pandas
    from batch_jaro_winkler_spark.operators.fingerprint_dedup import fingerprints
    from batch_jaro_winkler_spark.operators.lsh import pair_keys
    from batch_jaro_winkler_spark.operators.signatures import compute_signatures

    import pandas as pd

    cfg = DedupConfig()
    k, mask = cfg.gram_chars, np.uint64(cfg.fp_mod - 1)

    def hashes(text: str) -> np.ndarray:
        norm = normalize_pandas(pd.Series([text]))[0]
        return _rolling_hashes(np.frombuffer(norm.encode("utf-32-le"), dtype="<u4"), k)

    rng = random.Random(5)
    # longer than a gram, yet no window hash is sampled: argmin fallback
    no_sample = next(
        t
        for t in (f"fallback probe {i} " * 4 for i in range(1000))
        if len(hashes(t)) and not ((hashes(t) & mask) == 0).any()
    )
    block = " ".join(_rand(rng, 7) for _ in range(60))
    texts = {
        0: None,
        1: "",
        2: "shorter than a gram",
        # astral code points normalize away; Latin-extended and CJK stay
        3: " ".join(f"𝔘𝔫𝔦 ĀāĂ{i} 中文字符{i} 😀 {_rand(rng, 6)}" for i in range(40)),
        4: no_sample,
        5: block + " " + block,  # every sampled gram occurs twice
    }
    rows = list(texts.items()) + [
        (100 + i, r["text"]) for i, r in enumerate(make_corpus(n_rows=120, seed=13).rows)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = compute_signatures(docs, cfg, "doc_id", "text", include_norm=True)
    sigs = sigs.localCheckpoint()
    fp_keys = pair_keys(sigs).where(F.col("k1") == -1)
    assert fp_keys.where(F.col("sort_key") != F.xxhash64("doc_id")).count() == 0
    got = sorted(tuple(r) for r in fp_keys.select("doc_id", "k2", "pos").collect())
    want = sorted(
        tuple(r)
        for r in fingerprints(
            sigs.select("doc_id", "norm"), cfg, "doc_id", "norm", pre_normalized=True
        ).collect()
    )
    assert got == want
    per_doc = {}
    for doc_id, fp, pos in got:
        per_doc.setdefault(doc_id, []).append((fp, pos))
    assert not {0, 1, 2} & per_doc.keys()  # null, empty, sub-gram: none
    assert per_doc[3] and per_doc[4] and per_doc[5]
    (fp4, pos4), = per_doc[4]
    h4 = hashes(no_sample)
    assert pos4 == int(np.argmin(h4)) and fp4 == int(h4.min().view(np.int64))
    # a repeated gram keeps its earliest position: all in the first copy
    assert max(pos for _, pos in per_doc[5]) < len(block)
    assert len(per_doc[5]) == len({fp for fp, _ in per_doc[5]})


def test_pipeline_substring_edges_lie_in_exact_relation(spark, tmp_path):
    """The pipeline's sampled-fingerprint substring edges against the
    exact suffix-array relation over one partition: passages of 220-600
    normalized chars are spliced into unrelated docs, whose case and
    punctuation then vary per doc.  Every edge with a ``match_len`` is a
    verbatim run of at least ``min_substring_chars`` normalized chars, so
    it lies in the relation.  Recall against the relation measured 1.0
    (45 of 45 pairs), so the floor is the whole relation."""
    from pyspark.sql import functions as F

    from batch_jaro_winkler_spark.operators.suffix_array import suffix_array_edges
    from batch_jaro_winkler_spark.pipeline import DedupPipeline

    cfg = DedupConfig()
    rng = random.Random(29)
    vocab = [_rand(rng, rng.randint(2, 9)) for _ in range(4000)]
    texts = [" ".join(rng.choices(vocab, k=rng.randint(50, 160))) for _ in range(120)]
    for _ in range(40):
        src, dst = rng.sample(range(len(texts)), 2)
        at = rng.randrange(len(texts[src]) - 220)
        passage = texts[src][at : at + rng.randint(220, 600)].strip()
        cut = texts[dst].rfind(" ", 0, rng.randrange(len(texts[dst])))
        texts[dst] = f"{texts[dst][:cut]} {passage} {texts[dst][cut:]}".strip()

    def decorate(text: str) -> str:
        return "".join(
            w.capitalize() + rng.choice([" ", " ", ", ", ". "])
            if rng.random() < 0.2 else w + " "
            for w in text.split(" ")
        )

    docs = spark.createDataFrame(
        [(7 * i + 3, decorate(t)) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    pipe = DedupPipeline(spark, cfg, str(tmp_path))
    pipe.run(docs, "doc_id", "text")
    got = {
        (r["a"], r["b"])
        for r in pipe.catalog.read("edges").where(F.col("match_len").isNotNull()).collect()
    }
    exact = {(r["a"], r["b"]) for r in suffix_array_edges(docs.coalesce(1), cfg).collect()}
    assert len(exact) >= 30, len(exact)
    assert got <= exact, got - exact
    assert len(got) / len(exact) >= 1.0, exact - got

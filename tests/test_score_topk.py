"""score_topk as chunk x shard cells: differential tests against scalar
brute force, null texts, and the placement of cells on partitions."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from batch_jaro_winkler_spark.kernel import score_pair
from batch_jaro_winkler_spark.operators import score_pairs

_SCHEMA_P = "probe_id long, probe_text string"
_SCHEMA_C = "cand_id long, cand_text string"


def _brute_force(probes, cands, k, min_score):
    """Every (probe, candidate) pair through the scalar kernel, ranked by
    (score desc, cand_id asc), cut to k per probe."""
    out = []
    for pid, ptext in probes:
        scored = sorted(
            (-score_pair(ptext, ctext, dtype=np.float64), cid) for cid, ctext in cands
        )
        scored = [(cid, -neg) for neg, cid in scored if min_score is None or -neg >= min_score]
        out += [(pid, cid, s) for cid, s in (scored if k is None else scored[:k])]
    return sorted(out)


def _topk(spark, probes, cands, k, min_score=None, **kw):
    p = spark.createDataFrame(probes, _SCHEMA_P)
    c = spark.createDataFrame(cands, _SCHEMA_C).repartition(3)
    got = score_pairs.score_topk(
        p, c, k, min_score=min_score, dtype=np.float64, **kw
    ).collect()
    return sorted((r["probe_id"], r["cand_id"], r["score"]) for r in got)


def _words(seed: int):
    """Candidates with duplicate texts under different ids (ties that
    cross k and chunk boundaries), in shuffled id order, and probes."""
    rng = random.Random(seed)
    base = ["martha", "marhta", "dwayne", "duane", "dixon", "dicksonx",
            "jones", "johnson", "jellyfish", "smellyfish", "walrus"]
    texts = base + [rng.choice(base) for _ in range(14)]
    cands = list(enumerate(texts))
    rng.shuffle(cands)
    probes = [(i, t) for i, t in enumerate(["martha", "dwain", "jonse", "fish", "walros"])]
    return probes, cands


def _assert_same(got, want):
    assert [(p, c) for p, c, _ in got] == [(p, c) for p, c, _ in want]
    np.testing.assert_allclose([s for *_, s in got], [s for *_, s in want], rtol=0, atol=1e-12)


@pytest.mark.parametrize("k,min_score", [(1, None), (3, None), (None, 0.6), (40, None)])
def test_score_topk_matches_brute_force(spark, monkeypatch, k, min_score):
    """Several chunks (the bound forced low) and several shards; k=40
    exceeds the 25 candidates."""
    monkeypatch.setattr(score_pairs, "_COALESCE_ROWS", 7)
    probes, cands = _words(1)
    got = _topk(spark, probes, cands, k, min_score)
    _assert_same(got, _brute_force(probes, cands, k, min_score))


def test_score_topk_does_not_depend_on_chunking(spark, monkeypatch):
    probes, cands = _words(2)
    one = _topk(spark, probes, cands, 3)
    monkeypatch.setattr(score_pairs, "_COALESCE_ROWS", 4)
    assert _topk(spark, probes, cands, 3) == one


def test_score_topk_empty_sides(spark):
    probes, cands = _words(3)
    assert _topk(spark, probes, [], 3) == []
    assert _topk(spark, [], cands, 3) == []
    assert _topk(spark, [], [], None) == []


@pytest.mark.parametrize("transform", [None, lambda s: s.str.upper()])
def test_score_topk_null_text_matches_nothing(spark, transform):
    """A null candidate or probe text matches nothing, with and without a
    candidate transform, instead of failing the query in the worker."""
    probes, cands = _words(4)
    want = _topk(spark, probes, cands, 3, cand_transform=transform)
    got = _topk(
        spark,
        probes + [(99, None)],
        cands + [(98, None), (97, None)],
        3,
        cand_transform=transform,
    )
    assert got == want


@pytest.mark.parametrize("n_chunks,n_shards", [(1, 4), (3, 2), (5, 4)])
def test_placed_cells_one_cell_per_partition(spark, n_chunks, n_shards):
    """Every cell has a partition of its own, and its partition id is the
    cell, also with more cells (20) than the session's 8 shuffle
    partitions.  Hash placement on the cell numbers puts two cells in one
    partition; so does range placement in about half the calls once its
    bounds come from a sample, not from every row (4000 candidates)."""
    n = 4000
    cands = spark.createDataFrame([(i, f"w{i}") for i in range(n)], _SCHEMA_C)
    for _ in range(4):
        per_part = (
            score_pairs._placed_cells(cands, n_chunks, n_shards)
            .groupBy(F.spark_partition_id().alias("p"))
            .agg(
                F.countDistinct("cell").alias("cells"),
                F.min("cell").alias("cell"),
                F.count("*").alias("rows"),
            )
            .collect()
        )
        assert len(per_part) == n_chunks * n_shards
        assert max(r["cells"] for r in per_part) == 1
        assert all(r["p"] == r["cell"] for r in per_part)
        assert sum(r["rows"] for r in per_part) == n * n_shards

"""Edge-case hardening: degenerate corpora through every pipeline stage
(empty, single doc, all-empty texts, null, unicode-only, astral-plane,
all-identical), plus a medium-scale (20k-doc) recall gate — the 600-doc
gate can hide configuration regressions that only show at realistic
bucket sizes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from batch_jaro_winkler_spark.fixtures import make_corpus
from batch_jaro_winkler_spark.operators.config import DedupConfig
from batch_jaro_winkler_spark.pipeline import DedupPipeline


def _run(spark, tmp_path_factory, rows):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pipe = DedupPipeline(
        spark, DedupConfig(), str(tmp_path_factory.mktemp("edge"))
    )
    return pipe.run(docs, "doc_id", "text")


def test_single_doc(spark, tmp_path_factory):
    out = _run(spark, tmp_path_factory, [(1, "just one document here")]).collect()
    assert [(r["doc_id"], r["cluster_id"]) for r in out] == [(1, 1)]


def test_empty_and_whitespace_texts(spark, tmp_path_factory):
    rows = [(1, ""), (2, "   "), (3, "real content words here"), (4, "")]
    out = {r["doc_id"]: r["cluster_id"] for r in _run(spark, tmp_path_factory, rows).collect()}
    # empty docs are never clustered together (no signatures), all assigned
    assert out == {1: 1, 2: 2, 3: 3, 4: 4}


def test_all_identical_docs(spark, tmp_path_factory):
    text = "identical content repeated across every single document " * 5
    rows = [(i, text) for i in range(10)]
    out = {r["doc_id"]: r["cluster_id"] for r in _run(spark, tmp_path_factory, rows).collect()}
    assert set(out.values()) == {0}  # one cluster, min-id representative


def test_unicode_only_docs(spark, tmp_path_factory):
    base = "中国 人民 共和 国家 语言 文字 处理 系统 测试 文档 " * 8
    rows = [
        (1, base),
        (2, base + "扩展 内容"),
        (3, "こんにちは 世界 " * 20),  # outside the normalize ranges → mostly stripped
        (4, "été àçcénts über " * 20),
    ]
    out = {r["doc_id"]: r["cluster_id"] for r in _run(spark, tmp_path_factory, rows).collect()}
    assert out[1] == out[2] == 1  # CJK near-dups cluster
    assert len(out) == 4


def test_null_empty_and_astral_texts(spark, tmp_path_factory):
    """Null texts go through every stage, the substring stage included,
    and come out as singletons next to empty and astral-plane texts."""
    shared = " ".join(f"token{i * 7919 % 1000}" for i in range(40))  # 352 chars
    rows = [
        (1, None),
        (2, shared + "tail one"),
        (3, ""),
        (4, "𝒜𝓈𝓉𝓇𝒶𝓁 𝕥𝕖𝕩𝕥 😀🎉 " * 10),
        (5, None),
        (6, "prefix words " + shared),
        (7, "😀" * 300),
        (8, None),
    ]
    out = [
        (r["doc_id"], r["cluster_id"])
        for r in _run(spark, tmp_path_factory, rows).collect()
    ]
    assert sorted(d for d, _ in out) == list(range(1, 9))  # one row per doc
    clusters = dict(out)
    for null_doc in (1, 5, 8):
        assert clusters[null_doc] == null_doc
        assert list(clusters.values()).count(null_doc) == 1
    assert clusters[2] == clusters[6] == 2  # shared verbatim substring


def test_normalize_faces_agree(spark, sf01_dir):
    """``normalize_pandas`` (the pipeline's face) and ``normalize_text``
    (the JVM face the oracle-checked queries use) give the same string,
    row by row, on the sf0.01 documents and on edge strings: null, empty,
    astral, a dotted capital I (lowercases to two code points) and the
    code points either side of each kept range's edges."""
    import pandas as pd

    from batch_jaro_winkler_spark.functions.text import normalize_pandas, normalize_text

    edges = [
        None,
        "",
        "𝒜𝓈𝓉𝓇𝒶𝓁 𝕥𝕖𝕩𝕥 😀🎉 𠀀 end",
        "İstanbul İ DOTTED",
        "a\u00bfb\u00c0c\u024fd\u0250e \u024e\u00d0",
        "a\u4dffb\u4e00c\u9fffd\ua000e",
        "  --Mixed__CASE  and\ttabs\n  ",
    ]
    docs = spark.read.parquet(f"{sf01_dir}/documents.parquet").select("doc_id", "text")
    extra = spark.createDataFrame(
        [(-1 - i, t) for i, t in enumerate(edges)], "doc_id long, text string"
    )
    rows = (
        docs.unionByName(extra)
        .select("doc_id", "text", normalize_text(F.col("text")).alias("jvm"))
        .toPandas()
    )
    assert len(rows) == docs.count() + len(edges)
    py = normalize_pandas(rows["text"])
    diffs = [
        (d, j, p)
        for d, j, p in zip(rows["doc_id"], rows["jvm"], py)
        if not (pd.isna(j) and pd.isna(p)) and j != p
    ]
    assert not diffs, diffs[:5]


@pytest.mark.slow
def test_recall_at_20k(spark, tmp_path_factory):
    corpus = make_corpus(n_rows=20_000, seed=99)
    rows = [(i, r["text"]) for i, r in enumerate(corpus.rows)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pipe = DedupPipeline(spark, DedupConfig(), str(tmp_path_factory.mktemp("r20k")))
    clusters = pipe.run(docs, "doc_id", "text").cache()
    a = clusters.select(F.col("doc_id").alias("a"), "cluster_id")
    b = clusters.select(F.col("doc_id").alias("b"), "cluster_id")
    got = {
        (r["a"], r["b"])
        for r in a.join(b, "cluster_id").where(F.col("a") < F.col("b")).collect()
    }
    truth = corpus.true_pairs
    recall = len(truth & got) / len(truth)
    assert recall >= 0.99, f"recall {recall:.4f} at 20k docs"
    all_truth = truth | corpus.substring_pairs
    precision = 1 - len(got - all_truth) / max(1, len(got))
    assert precision >= 0.95, f"precision {precision:.4f} at 20k docs"

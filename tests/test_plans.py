"""Physical-plan regression gates (SURVEY.md §4): fail when a change
silently degrades a plan property that matters at 100 TB — lost filter
pushdown, lost column pruning, a broadcast join falling back to
sort-merge on a dimension table, top-k losing TakeOrderedAndProject, or a
row-at-a-time Python UDF sneaking into any plan."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from batch_jaro_winkler_spark.plans import plan_markers

ALL_QUERIES = sorted(entry_mod.queries())


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_no_row_at_a_time_python(spark, sf01_dir, name):
    m = plan_markers(entry_mod.queries()[name](spark, sf01_dir))
    assert m["BatchEvalPython"] == 0, f"{name} uses a row-at-a-time Python UDF"


def test_scan_pruning_and_pushdown(spark, sf01_dir):
    m = plan_markers(entry_mod.queries()["rel_q1"](spark, sf01_dir))
    # 5 of lineitem's 11 columns read; no full-width scan
    assert any("l_quantity" in s and "l_orderkey" not in s for s in m["read_schemas"])

    m = plan_markers(entry_mod.queries()["rel_nation_revenue"](spark, sf01_dir))
    assert any("IsNotNull" in f for f in m["pushed_filters"])  # join-key pushdown
    assert m["BroadcastHashJoin"] >= 2  # nation + customer side broadcast
    assert m["SortMergeJoin"] == 0


def test_topk_compiles_to_take_ordered(spark, sf01_dir):
    m = plan_markers(entry_mod.queries()["rel_top10_orders"](spark, sf01_dir))
    assert m["TakeOrderedAndProject"] >= 1
    assert m["Exchange"] == 0  # global top-k needs no full sort shuffle


# the declared small-scale oracles / exact baselines are the ONLY plans
# allowed an all-pairs or broadcast-nested-loop join; every scale-path
# query must stay bucketed.  ann_cosine_topk is the exact brute-force
# baseline by design: its nested-loop side is the broadcast probe set
# (tiny), the scale paths are the LSH and IVF variants.
_ORACLE_ONLY_CROSS = {
    "dedup_ngram_jaccard",
    "dedup_embedding",
    "jw_pairs",
    "ann_cosine_topk",
}


@pytest.mark.parametrize(
    "name", [q for q in ALL_QUERIES if q not in _ORACLE_ONLY_CROSS]
)
def test_no_unbucketed_cross_join(spark, sf01_dir, name):
    m = plan_markers(entry_mod.queries()[name](spark, sf01_dir))
    assert m["CartesianProduct"] == 0 and m["BroadcastNestedLoopJoin"] == 0, (
        f"{name} contains an unbucketed cross join"
    )


def test_signature_stage_shuffle_free(spark, sf01_dir):
    from batch_jaro_winkler_spark.operators.config import DedupConfig
    from batch_jaro_winkler_spark.operators.signatures import compute_signatures

    docs = spark.read.parquet(f"{sf01_dir}/documents.parquet")
    m = plan_markers(compute_signatures(docs, DedupConfig(), "doc_id", "text"))
    assert m["Exchange"] == 0  # narrow map only: zero shuffles
    assert m["MapInPandas"] >= 1


def test_jw_verify_shuffle_free_python_side(spark, sf01_dir):
    """verify_pairs adds no repartition of its own: python scoring runs on
    whatever partitioning the joins produce."""
    from batch_jaro_winkler_spark.operators.config import DedupConfig
    from batch_jaro_winkler_spark.operators.score_pairs import verify_pairs

    pairs = spark.createDataFrame([(0, 1)], "a long, b long")
    docs = spark.createDataFrame(
        [(0, "aaa"), (1, "aab")], "doc_id long, jw_text string"
    )
    m = plan_markers(verify_pairs(pairs, docs, DedupConfig()))
    assert m["MapInPandas"] >= 1
    assert m["BatchEvalPython"] == 0


# member tables shaped like each bucket_pairs caller's input: LSH band
# buckets (ordered by sort_key), fingerprints with a payload column and
# hyperplane buckets (both ordered by an id hash); 12 members in one bucket
_BUCKET_MEMBERS = {
    "lsh": (
        "band_id int, band_hash long, doc_id long, sort_key long",
        lambda i: (0, 7, i, i << 59), ["band_id", "band_hash"], "sort_key", (),
    ),
    "fingerprint": (
        "fp long, doc_id long, pos int", lambda i: (7, i, 3 * i), ["fp"], None, ("pos",),
    ),
    "embedding": (
        "table_id int, bucket long, doc_id long",
        lambda i: (0, 7, i), ["table_id", "bucket"], None, (),
    ),
}


@pytest.mark.parametrize("shape", sorted(_BUCKET_MEMBERS))
def test_bucket_pairs_runs_no_python(spark, shape):
    """Pair generation is all JVM, hot-bucket chaining included: no grouped
    map, map or scalar Arrow UDF in the bucket_pairs plan."""
    from pyspark.sql import functions as F

    from batch_jaro_winkler_spark.operators.lsh import bucket_pairs

    schema, row, keys, order, payload = _BUCKET_MEMBERS[shape]
    members = spark.createDataFrame([row(i) for i in range(12)], schema)
    order_col = F.col(order) if order else F.xxhash64(F.col("doc_id"))
    # cap 4 < 12 members: the bucket takes the hot path
    pairs = bucket_pairs(members, keys, 4, 2, order_col, payload=payload)
    m = plan_markers(pairs)
    assert m["FlatMapGroupsInPandas"] == 0
    assert m["MapInPandas"] == 0
    assert m["ArrowEvalPython"] == 0
    assert pairs.count() >= 12 - 1  # the bucket stays connected


# --- widen_scan: the partition-count probe must stay a plan-only call ---


def _spy_widen_scan(monkeypatch, spark):
    """Route every widen_scan call through a spy that runs the real guard
    under its own job group and records how many Spark jobs it started."""
    from batch_jaro_winkler_spark.operators import ann, partitioning

    real = partitioning.widen_scan
    sc = spark.sparkContext
    calls: list[int] = []

    def spy(df):
        group = f"widen_scan_probe_{len(calls)}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = real(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        calls.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        return out

    monkeypatch.setattr(partitioning, "widen_scan", spy)
    monkeypatch.setattr(ann, "widen_scan", spy)
    monkeypatch.setattr(entry_mod, "widen_scan", spy)
    return calls


def test_widen_scan_probe_starts_no_job(spark, sf01_dir, tmp_path, monkeypatch):
    """Every package call site of widen_scan: the df.rdd partition-count
    probe must not materialize anything (under AQE it would run the
    upstream stages of a plan with an exchange)."""
    from batch_jaro_winkler_spark.operators.ann import (
        cosine_topk_ivf,
        embedding_dup_pairs_lsh,
    )
    from batch_jaro_winkler_spark.operators.config import DedupConfig
    from batch_jaro_winkler_spark.pipeline import DedupPipeline

    calls = _spy_widen_scan(monkeypatch, spark)
    texts = [f"document number {i} about topic {i % 3} " * 4 for i in range(12)]
    spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    pipe = DedupPipeline(spark, DedupConfig(), str(tmp_path / "ck"))
    pipe.run(docs.where(docs.doc_id < 8)).count()
    assert len(calls) == 1
    pipe.run_incremental(docs).count()  # the incremental call site
    assert len(calls) == 2

    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    embedding_dup_pairs_lsh(emb, threshold=0.9, dim=64, n_planes=8)
    probes = emb.where(emb.vec_id < 3).selectExpr(
        "vec_id AS probe_id", "embedding AS probe_vec"
    )
    cosine_topk_ivf(probes, emb, k=3, n_centroids=4, n_probe=2)
    entry_mod.queries()["ann_cosine_topk"](spark, sf01_dir)  # the entry call site
    assert len(calls) == 5
    assert calls == [0] * 5, calls


def test_widen_scan_is_noop_on_multi_split_source(spark, tmp_path, monkeypatch):
    from batch_jaro_winkler_spark.operators import partitioning

    calls = _spy_widen_scan(monkeypatch, spark)
    width = spark.sparkContext.defaultParallelism
    spark.range(0, 64 * width).repartition(2 * width).write.parquet(
        str(tmp_path / "wide")
    )
    df = spark.read.parquet(str(tmp_path / "wide"))
    assert partitioning.widen_scan(df) is df
    assert calls == [0]


def test_full_run_sends_text_through_python_once(spark, tmp_path, monkeypatch):
    """The frame the full run hands to the sub_edges stage, with every
    frame its compute cuts by a lazy localCheckpoint, holds exactly one
    MapInPandas node: the slice verify.  The fingerprints come from the
    signature rows, so the corpus text crosses into Python once per run on
    its way to signatures and fingerprints."""
    import re

    from batch_jaro_winkler_spark.fixtures import make_corpus
    from batch_jaro_winkler_spark.operators.config import DedupConfig
    from batch_jaro_winkler_spark.pipeline import DedupPipeline
    from batch_jaro_winkler_spark.plans import explain_formatted

    rows = [(i, r["text"]) for i, r in enumerate(make_corpus(n_rows=40, seed=4).rows)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plans, tracing = [], []
    real_checkpoint = type(docs).localCheckpoint
    real_stage = DedupPipeline._stage

    def checkpoint(df, *args, **kwargs):
        if tracing:
            plans.append(explain_formatted(df))
        return real_checkpoint(df, *args, **kwargs)

    def stage(self, name, compute):
        def traced():
            tracing.append(name)
            try:
                df = compute()
            finally:
                tracing.clear()
            plans.append(explain_formatted(df))
            return df

        return real_stage(self, name, traced if name == "sub_edges" else compute)

    monkeypatch.setattr(type(docs), "localCheckpoint", checkpoint)
    monkeypatch.setattr(DedupPipeline, "_stage", stage)
    DedupPipeline(spark, DedupConfig(), str(tmp_path)).run(docs)
    assert len(plans) >= 3  # the fps and seed cuts, then the stage frame
    nodes = sum(len(re.findall(r"^\(\d+\) MapInPandas", p, re.M)) for p in plans)
    assert nodes == 1


def test_increment_cc_nodes_read_its_signature_checkpoint(spark, tmp_path, monkeypatch):
    """The frame an increment hands to its clusters stage takes the new
    nodes off the increment's signature checkpoint, as the full run does:
    it holds no LeftAnti join, i.e. neither re-scans the input nor re-runs
    the anti-join against every old signature part."""
    from batch_jaro_winkler_spark.fixtures import make_corpus
    from batch_jaro_winkler_spark.operators.config import DedupConfig
    from batch_jaro_winkler_spark.pipeline import DedupPipeline
    from batch_jaro_winkler_spark.plans import explain_formatted

    rows = [(i, r["text"]) for i, r in enumerate(make_corpus(n_rows=40, seed=4).rows)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plans = {}
    real_stage = DedupPipeline._stage

    def stage(self, name, compute):
        def traced():
            df = compute()
            plans[name] = explain_formatted(df)
            return df

        return real_stage(self, name, traced)

    monkeypatch.setattr(DedupPipeline, "_stage", stage)
    cfg = DedupConfig()
    DedupPipeline(spark, cfg, str(tmp_path)).run(docs.where(docs.doc_id < 32))
    DedupPipeline(spark, cfg, str(tmp_path)).run_incremental(docs.where(docs.doc_id >= 32))
    [cc] = [p for name, p in plans.items() if name.startswith("clusters_inc_")]
    assert "MapInPandas" in cc  # the local CC endgame's assignment map
    assert "LeftAnti" not in cc

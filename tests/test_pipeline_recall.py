"""End-to-end pipeline gates (SURVEY.md §5 layers c+d):

* dup-pair recall >= 0.99 vs the planted brute-force ground truth at the
  configured shingle/signature/threshold;
* substring stage catches planted verbatim >=200-char substrings;
* resume: rerunning reuses checkpoints, and outputs are identical.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from batch_jaro_winkler_spark.fixtures import make_corpus
from batch_jaro_winkler_spark.operators.config import DedupConfig
from batch_jaro_winkler_spark.pipeline import DedupPipeline, extract_text

N_ROWS = 600


@pytest.fixture(scope="module")
def corpus():
    return make_corpus(n_rows=N_ROWS, seed=42)


@pytest.fixture(scope="module")
def docs_df(spark, corpus):
    rows = [
        (i, r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
        for i, r in enumerate(corpus.rows)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, url string, warc_ts timestamp, html binary, text string, lang string"
    )


def _cluster_pairs(clusters_df):
    a = clusters_df.select(F.col("doc_id").alias("a"), "cluster_id")
    b = clusters_df.select(F.col("doc_id").alias("b"), "cluster_id")
    return {
        (r["a"], r["b"])
        for r in a.join(b, "cluster_id").where(F.col("a") < F.col("b")).collect()
    }


def test_extract_text_invariant(docs_df):
    ext = extract_text(docs_df.drop("text")).withColumnRenamed("text", "text2")
    mismatch = (
        ext.join(docs_df.select("url", "text"), "url")
        .where(F.col("text2") != F.col("text"))
        .count()
    )
    assert mismatch == 0  # byte-identical extracted text per url (input_hint)


def test_recall_and_resume(spark, corpus, docs_df, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ckpt"))
    cfg = DedupConfig()
    pipe = DedupPipeline(spark, cfg, root)
    clusters = pipe.run(docs_df, "doc_id", "text").cache()

    assert clusters.count() == N_ROWS  # total assignment incl. singletons
    got_pairs = _cluster_pairs(clusters)

    truth = corpus.true_pairs
    found = truth & got_pairs
    recall = len(found) / len(truth)
    assert recall >= 0.99, f"recall {recall:.4f} ({len(found)}/{len(truth)})"

    # substring-planted pairs: same-cluster via the fingerprint stage
    sub_found = corpus.substring_pairs & got_pairs
    sub_recall = len(sub_found) / max(1, len(corpus.substring_pairs))
    assert sub_recall >= 0.9, f"substring recall {sub_recall:.3f}"

    # precision sanity: the verified graph should not glue unrelated docs
    all_truth = truth | corpus.substring_pairs
    false_pairs = got_pairs - all_truth
    precision = 1 - len(false_pairs) / max(1, len(got_pairs))
    assert precision >= 0.95, f"precision {precision:.4f}"

    # --- resume: second run must reuse every checkpoint and match exactly ---
    pipe2 = DedupPipeline(spark, cfg, root)
    clusters2 = pipe2.run(docs_df, "doc_id", "text")
    assert all(m.cached for m in pipe2.metrics), pipe2.metrics
    diff = clusters.exceptAll(clusters2).count() + clusters2.exceptAll(clusters).count()
    assert diff == 0

    # --- config change invalidates checkpoints ---
    cfg3 = DedupConfig(jw_min_score=0.9)
    pipe3 = DedupPipeline(spark, cfg3, root)
    pipe3.run(docs_df, "doc_id", "text")
    assert not any(m.cached for m in pipe3.metrics)


def test_incremental_run(spark, tmp_path_factory):
    """Daily-crawl shape: a base run, then new docs (some near-dups of OLD
    docs, some new clusters, some unique) assigned incrementally without
    recomputing old signatures."""
    import random

    from batch_jaro_winkler_spark.fixtures import make_corpus

    base = make_corpus(n_rows=300, seed=11)
    rows = [(i, r["text"]) for i, r in enumerate(base.rows)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    root = str(tmp_path_factory.mktemp("inc"))
    cfg = DedupConfig()
    pipe = DedupPipeline(spark, cfg, root)
    base_clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in pipe.run(docs, "doc_id", "text").collect()
    }

    # new docs: 10 exact copies of old docs, 5 fresh unique docs
    rng = random.Random(4)
    old_ids = rng.sample(range(300), 10)
    new_rows = [(1000 + j, base.rows[i]["text"]) for j, i in enumerate(old_ids)]
    new_rows += [
        (2000 + j, f"completely fresh unique document number {j} " * 20)
        for j in range(5)
    ]
    new_docs = spark.createDataFrame(new_rows, "doc_id long, text string")

    pipe2 = DedupPipeline(spark, cfg, root)
    updated = {
        r["doc_id"]: r["cluster_id"]
        for r in pipe2.run_incremental(new_docs).collect()
    }
    # old signature stage was NOT recomputed (no 'signatures' stage rerun)
    assert not any(m.name == "signatures" for m in pipe2.metrics)
    # candidate pairs fold into the verify stage, as in the full run
    assert not any(n.startswith("cand_pairs") for n in os.listdir(root))
    # total assignment covers old + new
    assert len(updated) == 315
    # copies joined their source doc's cluster
    for j, i in enumerate(old_ids):
        assert updated[1000 + j] == min(updated[i], base_clusters[i]), (j, i)
    # fresh docs are singletons
    for j in range(5):
        assert updated[2000 + j] == 2000 + j
    # old assignments unchanged (no merges induced here)
    unchanged = sum(1 for d, c in base_clusters.items() if updated[d] == c)
    assert unchanged == 300


def test_incremental_append_idempotent(spark, tmp_path_factory):
    """The fold is a manifest-level append: base signature data files are
    never rewritten, reruns of the same increment do not duplicate rows,
    and same-ids-changed-text gets a fresh increment key."""
    import os

    from batch_jaro_winkler_spark.fixtures import make_corpus

    base = make_corpus(n_rows=100, seed=21)
    docs = spark.createDataFrame(
        [(i, r["text"]) for i, r in enumerate(base.rows)], "doc_id long, text string"
    )
    root = str(tmp_path_factory.mktemp("incap"))
    cfg = DedupConfig()
    pipe = DedupPipeline(spark, cfg, root)
    pipe.run(docs, "doc_id", "text")

    sig_data = os.path.join(root, "signatures", "data")
    before = {
        f: os.path.getmtime(os.path.join(sig_data, f)) for f in os.listdir(sig_data)
    }

    new_docs = spark.createDataFrame(
        [(500 + j, f"an entirely new incremental document {j} " * 15) for j in range(6)],
        "doc_id long, text string",
    )
    pipe2 = DedupPipeline(spark, cfg, root)
    first = {
        r["doc_id"]: r["cluster_id"] for r in pipe2.run_incremental(new_docs).collect()
    }
    assert len(first) == 106

    # base signature data files untouched (append, not rewrite)
    after = {
        f: os.path.getmtime(os.path.join(sig_data, f)) for f in os.listdir(sig_data)
    }
    assert before == after
    parts = pipe2.catalog.parts("signatures")
    assert len(parts) == 1 and parts[0].startswith("signatures_inc_6_")

    # rerun of the SAME increment: no duplicate signature rows, same output
    pipe3 = DedupPipeline(spark, cfg, root)
    again = {
        r["doc_id"]: r["cluster_id"] for r in pipe3.run_incremental(new_docs).collect()
    }
    assert again == first
    assert pipe3.catalog.parts("signatures") == parts
    sig_ids = pipe3.catalog.read_union("signatures").select("doc_id")
    assert sig_ids.count() == sig_ids.distinct().count() == 106

    # same ids, CHANGED text → fresh increment key (content-hashed), and the
    # anti-join keeps already-folded ids out rather than re-signing them
    changed = spark.createDataFrame(
        [(500, "totally different replacement text " * 15), (900, "brand new doc " * 15)],
        "doc_id long, text string",
    )
    pipe4 = DedupPipeline(spark, cfg, root)
    third = {
        r["doc_id"]: r["cluster_id"] for r in pipe4.run_incremental(changed).collect()
    }
    assert len(third) == 107  # only 900 was new; 500 stayed folded
    assert 900 in third
    assert len(pipe4.catalog.parts("signatures")) == 2


def test_incremental_compaction_bounds_fanin(spark, tmp_path_factory):
    """VERDICT_r2 #9: 10 increments must NOT leave a 10-scan union plan —
    compaction folds parts into the base past max_parts, and the total
    assignment is unchanged by when compactions happen."""
    from batch_jaro_winkler_spark.fixtures import make_corpus

    base = make_corpus(n_rows=60, seed=31)
    docs = spark.createDataFrame(
        [(i, r["text"]) for i, r in enumerate(base.rows)], "doc_id long, text string"
    )
    root = str(tmp_path_factory.mktemp("inccomp"))
    cfg = DedupConfig()
    DedupPipeline(spark, cfg, root).run(docs, "doc_id", "text")

    assign = {}
    for j in range(10):
        inc = spark.createDataFrame(
            [(1000 + 10 * j + i, f"increment {j} doc {i} fresh words " * 12)
             for i in range(3)],
            "doc_id long, text string",
        )
        pipe = DedupPipeline(spark, cfg, root)
        assign = {
            r["doc_id"]: r["cluster_id"]
            for r in pipe.run_incremental(inc).collect()
        }
    cat = pipe.catalog
    # fan-in bounded: parts list never exceeds the compaction threshold
    assert len(cat.parts("signatures")) <= 8
    # the signatures table carries `norm` — downstream consumers read it
    # from there (the separate normalized table was fused away, round 5)
    assert "norm" in cat.read_union("signatures").columns
    # the logical table is complete and duplicate-free after compactions
    sig_ids = cat.read_union("signatures").select("doc_id")
    assert sig_ids.count() == sig_ids.distinct().count() == 90
    # assignment covers every doc, increments all present as singletons
    assert len(assign) == 90
    assert all(assign[1000 + k] == 1000 + k for k in range(0, 30, 10))


def test_incremental_substring_links(spark, tmp_path_factory):
    """On the default config, an increment doc embedding a verbatim
    >=200-char block of an OLD doc joins its cluster even though whole-doc
    similarity is far below the LSH/JW thresholds: the old fingerprints
    come from the signature rows, so no fingerprint table is written."""
    import random

    rng = random.Random(9)

    def rand_text(n_words):
        return " ".join(
            f"w{rng.randrange(10**6)}x{rng.randrange(10**6)}" for _ in range(n_words)
        )

    base_rows = [(i, rand_text(160)) for i in range(40)]
    donor_text = base_rows[7][1]
    block = donor_text[300:560]  # ~260 raw chars of doc 7

    root = str(tmp_path_factory.mktemp("incsub"))
    cfg = DedupConfig()
    pipe = DedupPipeline(spark, cfg, root)
    docs = spark.createDataFrame(base_rows, "doc_id long, text string")
    base_clusters = {
        r["doc_id"]: r["cluster_id"] for r in pipe.run(docs, "doc_id", "text").collect()
    }
    assert base_clusters[7] == 7  # distinct random docs stay singletons

    # new doc: mostly fresh text + the verbatim block (low global overlap)
    new_text = rand_text(110) + " " + block + " " + rand_text(30)
    new_docs = spark.createDataFrame(
        [(900, new_text), (901, rand_text(150))], "doc_id long, text string"
    )
    pipe2 = DedupPipeline(spark, cfg, root)
    updated = {
        r["doc_id"]: r["cluster_id"]
        for r in pipe2.run_incremental(new_docs).collect()
    }
    assert updated[900] == updated[7] == 7, (updated[900], updated[7])
    assert updated[901] == 901
    # neither run mode writes a fingerprint checkpoint
    assert not [p for p in os.listdir(root) if "fingerprints" in p]


def test_background_writer_failure_propagates(spark, tmp_path_factory):
    """VERDICT_r5 #3: a failing checkpoint write must fail the RUN with
    that error (original exception, not a downstream manifest TypeError),
    and a mid-run stage failure must propagate as itself."""
    from batch_jaro_winkler_spark.fixtures import make_corpus

    base = make_corpus(n_rows=60, seed=21)
    rows = [(i, r["text"]) for i, r in enumerate(base.rows)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    root = str(tmp_path_factory.mktemp("wfail"))
    cfg = DedupConfig()
    pipe = DedupPipeline(spark, cfg, root)

    class Boom(RuntimeError):
        pass

    def bad_write(name, df, config_hash, *a, **k):
        raise Boom(f"disk full while writing {name}")

    pipe.catalog.write = bad_write
    with pytest.raises(Boom, match="disk full"):
        pipe.run(docs, "doc_id", "text")

    # a failing stage compute is the error that propagates
    pipe2 = DedupPipeline(spark, cfg, str(tmp_path_factory.mktemp("wfail2")))
    orig_stage = pipe2._stage

    def exploding_stage(name, compute):
        if name == "jw_edges":
            raise ValueError("stage exploded")
        return orig_stage(name, compute)

    pipe2._stage = exploding_stage
    with pytest.raises(ValueError, match="stage exploded"):
        pipe2.run(docs, "doc_id", "text")


def test_stage_computes_once(spark, tmp_path):
    """One job per stage: the checkpoint write computes the stage and fills
    its lazy localCheckpoint, and downstream actions read those blocks
    instead of recomputing the stage."""
    calls = spark.sparkContext.accumulator(0)

    def counted(batches):
        calls.add(1)
        yield from batches

    src = spark.range(0, 40, numPartitions=4)
    pipe = DedupPipeline(spark, DedupConfig(), str(tmp_path))
    df = pipe._stage("counted", lambda: src.mapInPandas(counted, "id long"))
    assert pipe.catalog.manifest("counted")["rows"] == 40  # durable on return
    assert df.count() == 40
    assert calls.value == src.rdd.getNumPartitions()


def test_run_killed_mid_checkpoint_resumes(spark, tmp_path_factory):
    """A writer killed after its parquet landed in the temp dir but before
    the manifest leaves an invisible orphan: a fresh pipeline on the same
    root reuses the completed stages, recomputes the killed one, ignores
    the orphan and produces the clean run's assignment."""
    base = make_corpus(n_rows=60, seed=21)
    rows = [(i, r["text"]) for i, r in enumerate(base.rows)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = DedupConfig()

    def assignment(pipe):
        return {
            r["doc_id"]: r["cluster_id"]
            for r in pipe.run(docs, "doc_id", "text").collect()
        }

    clean = assignment(DedupPipeline(spark, cfg, str(tmp_path_factory.mktemp("clean"))))

    root = str(tmp_path_factory.mktemp("killed"))
    pipe = DedupPipeline(spark, cfg, root)
    real_write = pipe.catalog.write
    orphan = os.path.join(root, "_tmp_sub_edges_killed")

    class Killed(RuntimeError):
        pass

    def dying_write(name, df, config_hash, *a, **k):
        if name == "sub_edges":
            df.write.parquet(os.path.join(orphan, "data"))
            raise Killed("writer killed before the manifest")
        return real_write(name, df, config_hash, *a, **k)

    pipe.catalog.write = dying_write
    with pytest.raises(Killed):
        pipe.run(docs, "doc_id", "text")
    assert not pipe.catalog.exists("sub_edges")

    pipe2 = DedupPipeline(spark, cfg, root)
    resumed = assignment(pipe2)
    assert {m.name: m.cached for m in pipe2.metrics} == {
        "signatures": True,
        "jw_edges": True,
        "sub_edges": False,
        "clusters": False,
    }
    assert resumed == clean
    assert os.listdir(orphan) == ["data"]  # untouched, never read


def _rand_text(rng, n_words):
    return " ".join(
        f"w{rng.randrange(10**6)}x{rng.randrange(10**6)}" for _ in range(n_words)
    )


def _near_dup(rng, text, n_subs=2):
    """text with its last words replaced: same 256-char JW prefix, almost
    every shingle kept."""
    words = text.split()
    for k in range(n_subs):
        words[-1 - 3 * k] = f"sub{rng.randrange(10**6)}"
    return " ".join(words)


def test_increment_matches_full_run(spark, tmp_path_factory):
    """run(base) then run_incremental(new) gives the same assignment as
    run(base ∪ new), for new docs that near-dup old docs, copy a verbatim
    passage of one, bridge two old clusters, pair up among themselves or
    stay unique."""
    import random

    rng = random.Random(17)
    base = [(i, _rand_text(rng, 160)) for i in range(40)]
    base[1] = (1, _near_dup(rng, base[0][1]))  # old cluster {0, 1}
    base[3] = (3, _near_dup(rng, base[2][1]))  # old cluster {2, 3}
    text = dict(base)
    fresh = _rand_text(rng, 160)
    new = [
        (900, _near_dup(rng, text[5])),
        (901, _near_dup(rng, text[0], n_subs=3)),
        (902, _rand_text(rng, 110) + " " + text[7][300:560] + " " + _rand_text(rng, 30)),
        # verbatim passages of both old clusters: merges them
        (903, text[0][600:860] + " " + _rand_text(rng, 60) + " " + text[2][600:860]),
        (904, fresh),
        (905, _near_dup(rng, fresh)),
        (906, _rand_text(rng, 150)),
        (907, _rand_text(rng, 150)),
    ]
    schema = "doc_id long, text string"
    cfg = DedupConfig()

    def assignment(df):
        return {r["doc_id"]: r["cluster_id"] for r in df.collect()}

    root = str(tmp_path_factory.mktemp("incdiff"))
    base_assign = assignment(
        DedupPipeline(spark, cfg, root).run(spark.createDataFrame(base, schema))
    )
    assert base_assign[1] == 0 and base_assign[3] == 2
    inc = assignment(
        DedupPipeline(spark, cfg, root).run_incremental(spark.createDataFrame(new, schema))
    )
    full = assignment(
        DedupPipeline(spark, cfg, str(tmp_path_factory.mktemp("incdiff_full"))).run(
            spark.createDataFrame(base + new, schema)
        )
    )
    assert inc == full
    # the planted links all landed (the equality above is not vacuous)
    assert inc[900] == inc[5] == 5
    assert inc[902] == inc[7] == 7
    assert {inc[d] for d in (0, 1, 2, 3, 901, 903)} == {0}
    assert inc[905] == inc[904] == 904
    assert inc[906] == 906 and inc[907] == 907


def test_incremental_rejects_repeated_doc_id(spark, tmp_path_factory):
    """The increment key XORs row hashes, so a batch repeating a row would
    cancel it and share its key with other increments (resuming their
    checkpoints): such a batch is refused before anything is written, and
    the state stays usable."""
    import random

    rng = random.Random(23)
    root = str(tmp_path_factory.mktemp("increp"))
    cfg = DedupConfig()
    schema = "doc_id long, text string"
    DedupPipeline(spark, cfg, root).run(
        spark.createDataFrame([(i, _rand_text(rng, 80)) for i in range(30)], schema)
    )
    a, b = _rand_text(rng, 80), _rand_text(rng, 80)
    for doc_id, text in ((500, a), (501, b)):
        batch = spark.createDataFrame([(doc_id, text), (doc_id, text)], schema)
        with pytest.raises(ValueError, match="repeats a doc_id"):
            DedupPipeline(spark, cfg, root).run_incremental(batch)
    pipe = DedupPipeline(spark, cfg, root)
    assert pipe.catalog.parts("signatures") == []
    assert not [p for p in os.listdir(root) if "_inc_" in p]

    ok = {
        r["doc_id"]: r["cluster_id"]
        for r in pipe.run_incremental(
            spark.createDataFrame([(500, a), (501, b)], schema)
        ).collect()
    }
    assert len(ok) == 32 and ok[500] == 500 and ok[501] == 501
    sig_ids = pipe.catalog.read_union("signatures").select("doc_id")
    assert sig_ids.count() == sig_ids.distinct().count() == 32

"""One fresh measuring process: set up a SparkSession on the workload's
input, then run the workload's call as a closed loop with one client.

Invoked by ``run.py`` as ``python3 perfbench/worker.py '<json spec>'``;
prints one ``PERFBENCH_RESULT {...}`` line.  Modes:

* ``measure`` — set up, the cold call, then warm calls for ``seconds``
  (and at least ``WARM_CALLS_MIN`` of them);
* ``trace``   — set up with the event log on, the cold call, then
  alternate untraced calls with a traced replay of the same work through
  each layer's public functions for ``seconds``, then direct kernel calls
  and the layer counters.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import Tracer, spark_summary  # noqa: E402

TOPK_K = 10
RECALL_FLOOR = 0.95
PRECISION_FLOOR = 0.9
SCORE_TOL = 1e-5  # float32 kernel vs float64 oracle
ORACLE_PROBES_PER_CALL = 4
MODEL_PATH_MIN_GROUP = 8  # verify_pairs' batch cutover
SIDE_PROBES = 32
CALL_TIMEOUT_S = 90.0
# warm calls per measuring run, at least: the median of three drops the
# slowest, usually the first (still warming up), whatever the host's speed
WARM_CALLS_MIN = 3


class CheckFailed(Exception):
    pass


# ---------------------------------------------------------------- session


def start_session(spec: dict):
    from batch_jaro_winkler_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the whole heap, committed and touched from the start: the JVM's
        # RSS then does not follow GC timing, which made its peak vary by
        # a third run to run
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch"
        ),
    }
    if spec["mode"] == "trace":
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + spec["event_dir"]
        # one plain JSON-lines file, readable without a zstd codec
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark("perfbench", cores=spec["cores"], extra_conf=conf)


def register_input(spark, spec: dict) -> dict:
    """Lazy parquet reads with explicit schemas (no inference job), each
    registered as a temp view."""
    d = spec["input_dir"]
    if spec["workload"] == "topk_lookup":
        cands = spark.read.schema("cand_id long, cand_text string").parquet(
            os.path.join(d, "candidates")
        )
        probes = spark.read.schema("probe_id long, probe_text string").parquet(
            os.path.join(d, "probes")
        )
        cands.createOrReplaceTempView("candidates")
        probes.createOrReplaceTempView("probes")
        return {"cands": cands, "probes": probes}
    docs = spark.read.schema("doc_id long, text string").parquet(os.path.join(d, "docs"))
    docs.createOrReplaceTempView("docs")
    return {"docs": docs}


class Watchdog:
    """Cancels every running Spark job if one call outlives its budget, so
    a hung call fails instead of eating the run."""

    def __init__(self, spark, seconds: float):
        self.timer = threading.Timer(seconds, spark.sparkContext.cancelAllJobs)

    def __enter__(self):
        self.timer.start()
        return self

    def __exit__(self, *exc):
        self.timer.cancel()


# ------------------------------------------------------------------ checks


def _closure_labels(n: int, pairs) -> np.ndarray:
    """Component label per doc of the planted-pair graph (union-find)."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(i) for i in range(n)], dtype=np.int64)


def _pairs_within(*keys: np.ndarray) -> int:
    """Σ C(n, 2) over the groups of equal key tuples."""
    _, counts = np.unique(np.stack(keys, axis=1), axis=0, return_counts=True)
    return int((counts * (counts - 1) // 2).sum())


class PipelineCheck:
    """Output check of one pipeline call: a total assignment, the same
    assignment hash as the first call, and recall/precision against the
    planted ground truth above fixed floors."""

    def __init__(self, truth: dict):
        self.n = truth["n_docs"]
        planted = [tuple(p) for p in truth["dup_pairs"] + truth["substring_pairs"]]
        self.pa = np.array([p[0] for p in planted], dtype=np.int64)
        self.pb = np.array([p[1] for p in planted], dtype=np.int64)
        self.closure = _closure_labels(self.n, planted)
        self.hash: str | None = None
        self.quality: dict = {}

    def __call__(self, ck_root: str, count: int) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(ck_root, "clusters", "data"))
        ids = t.column("doc_id").to_numpy()
        cl = t.column("cluster_id").to_numpy()
        order = np.argsort(ids, kind="stable")
        ids, cl = ids[order], cl[order]
        if count != self.n or not np.array_equal(ids, np.arange(self.n)):
            raise CheckFailed(f"assignment not total: {count} rows for {self.n} docs")
        digest = hashlib.sha256(ids.tobytes() + cl.tobytes()).hexdigest()
        if self.hash is None:
            self.hash = digest
            recall = float((cl[self.pa] == cl[self.pb]).mean()) if len(self.pa) else 1.0
            co = _pairs_within(cl)
            good = _pairs_within(cl, self.closure[ids])
            self.quality = {
                "pair_recall": recall,
                "pair_precision": good / co if co else 1.0,
            }
        elif digest != self.hash:
            raise CheckFailed("cluster assignment differs from the first call")
        if self.quality["pair_recall"] < RECALL_FLOOR:
            raise CheckFailed(f"recall {self.quality['pair_recall']:.4f} < {RECALL_FLOOR}")
        if self.quality["pair_precision"] < PRECISION_FLOOR:
            raise CheckFailed(
                f"precision {self.quality['pair_precision']:.4f} < {PRECISION_FLOOR}"
            )


class TopkCheck:
    """Output check of one lookup call: k results per probe, the same
    result as the first call, and on a rotating sample of probes every
    returned score matching the textbook oracle."""

    def __init__(self, truth: dict, cand_text: list[str]):
        self.sources = np.asarray(truth["sources"], dtype=np.int64)
        self.probe_text = truth["probe_text"]
        self.cand_text = cand_text
        self.hash: str | None = None
        self.quality: dict = {}
        self.calls = 0

    def __call__(self, pdf) -> None:
        from batch_jaro_winkler_spark.kernel.oracle import jaro_winkler

        pdf = pdf.sort_values(["probe_id", "score", "cand_id"], ascending=[True, False, True])
        pid = pdf["probe_id"].to_numpy(np.int64)
        cid = pdf["cand_id"].to_numpy(np.int64)
        sc = pdf["score"].to_numpy(np.float64)
        n_probes = len(self.sources)
        per_probe = np.bincount(pid, minlength=n_probes)
        if len(per_probe) != n_probes or (per_probe != min(TOPK_K, len(self.cand_text))).any():
            raise CheckFailed("not exactly k results per probe")
        digest = hashlib.sha256(pid.tobytes() + cid.tobytes() + sc.astype(np.float32).tobytes()).hexdigest()
        first = np.flatnonzero(np.r_[True, pid[1:] != pid[:-1]])
        if self.hash is None:
            self.hash = digest
            top1 = sc[first]
            found = np.zeros(n_probes, dtype=bool)
            src_hit = cid == self.sources[pid]
            found[pid[src_hit]] = True
            src_score = np.array(
                [jaro_winkler(self.probe_text[p], self.cand_text[self.sources[p]])
                 for p in range(n_probes)]
            )
            self.quality = {
                "pair_recall": float(found.mean()),
                "pair_precision": float((top1 <= src_score + SCORE_TOL).mean()),
            }
        elif digest != self.hash:
            raise CheckFailed("top-k result differs from the first call")
        # oracle agreement on a rotating probe sample
        lo = (self.calls * ORACLE_PROBES_PER_CALL) % n_probes
        self.calls += 1
        for p in range(lo, min(n_probes, lo + ORACLE_PROBES_PER_CALL)):
            rows = slice(first[p], first[p] + per_probe[p])
            for c, s in zip(cid[rows], sc[rows]):
                want = jaro_winkler(self.probe_text[p], self.cand_text[c])
                if abs(want - s) > SCORE_TOL:
                    raise CheckFailed(f"probe {p} cand {c}: score {s} vs oracle {want}")


# ------------------------------------------------------------------ calls


def pipeline_call(spark, inputs: dict, ck_root: str):
    from batch_jaro_winkler_spark.operators.config import DedupConfig
    from batch_jaro_winkler_spark.pipeline import DedupPipeline

    t0 = time.perf_counter()
    pipe = DedupPipeline(spark, DedupConfig(), ck_root)
    count = pipe.run(inputs["docs"], "doc_id", "text").count()
    return time.perf_counter() - t0, count, pipe


def topk_call(spark, inputs: dict):
    from batch_jaro_winkler_spark.operators.score_pairs import score_topk

    t0 = time.perf_counter()
    pdf = score_topk(inputs["probes"], inputs["cands"], k=TOPK_K).toPandas()
    return time.perf_counter() - t0, pdf


class Loop:
    """Runs calls, checks each, and keeps the tallies."""

    def __init__(self, spark, spec: dict, inputs: dict, truth: dict):
        self.spark = spark
        self.spec = spec
        self.inputs = inputs
        self.pipeline = spec["workload"] != "topk_lookup"
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # one entry per call in order: its wall time, or None if it failed
        self.walls: list[float | None] = []
        self.stage_walls: list[dict] = []
        self.manifests: list[dict] = []
        if self.pipeline:
            self.check = PipelineCheck(truth)
        else:
            cands = inputs["cands"].toPandas().sort_values("cand_id")
            self.check = TopkCheck(truth, cands["cand_text"].tolist())

    def call(self) -> float | None:
        self.attempted += 1
        ck = os.path.join(self.spec["tmp_dir"], f"ck{self.attempted}")
        try:
            with Watchdog(self.spark, CALL_TIMEOUT_S):
                if self.pipeline:
                    wall, count, pipe = pipeline_call(self.spark, self.inputs, ck)
                else:
                    wall, pdf = topk_call(self.spark, self.inputs)
            if self.pipeline:
                self.check(ck, count)
                self.stage_walls.append({m.name: m.wall_sec for m in pipe.metrics})
                self.manifests.append(_manifest_totals(ck))
            else:
                self.check(pdf)
        except Exception as exc:  # noqa: BLE001 — every failure is counted
            self.failed += 1
            self.errors.append(f"{type(exc).__name__}: {exc}"[:500])
            self.walls.append(None)
            return None
        finally:
            shutil.rmtree(ck, ignore_errors=True)
        self.walls.append(wall)
        return wall


def _manifest_totals(ck_root: str) -> dict:
    """Σ manifest wall_sec, bytes and files over a run's checkpoints."""
    write_s, n_bytes, n_files = 0.0, 0, 0
    for name in os.listdir(ck_root):
        table = os.path.join(ck_root, name)
        mpath = os.path.join(table, "manifest.json")
        if not os.path.exists(mpath):
            continue
        with open(mpath) as fh:
            write_s += json.load(fh)["wall_sec"]
        for root, _, files in os.walk(table):
            for f in files:
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(root, f))
    return {"write_s": write_s, "bytes": n_bytes, "files": n_files}


# ------------------------------------------------------------- trace mode


def replay_pipeline(spark, tracer: Tracer, docs, ck_root: str) -> dict:
    """DedupPipeline._run's stages through their public functions, each
    materialized and timed under its own span; returns the stage frames."""
    from pyspark.sql import functions as F

    from batch_jaro_winkler_spark.operators.config import DedupConfig
    from batch_jaro_winkler_spark.operators.connected_components import connected_components
    from batch_jaro_winkler_spark.operators.fingerprint_dedup import substring_edges
    from batch_jaro_winkler_spark.operators.lsh import band_buckets, candidate_pairs
    from batch_jaro_winkler_spark.operators.partitioning import widen_scan
    from batch_jaro_winkler_spark.operators.score_pairs import verify_pairs
    from batch_jaro_winkler_spark.operators.signatures import compute_signatures
    from batch_jaro_winkler_spark.sources.catalog import Catalog

    cfg = DedupConfig()
    out = {}
    with tracer.span("replay"):
        with tracer.span("signatures"):
            src = widen_scan(docs.select(F.col("doc_id").cast("long"), "text"))
            sig = compute_signatures(src, cfg, "doc_id", "text", include_norm=True)
            out["sig"] = sig = sig.localCheckpoint(eager=True)
        with tracer.span("lsh"):
            out["buckets"] = buckets = band_buckets(sig)
            pairs = candidate_pairs(buckets, cfg).select("a", "b")
            out["pairs"] = pairs = pairs.localCheckpoint(eager=True)
        with tracer.span("score_pairs.verify"):
            out["sig_jw"] = sig_jw = sig.withColumn(
                "jw_text", F.substring(F.col("norm"), 1, cfg.max_jw_len)
            )
            jw = verify_pairs(pairs, sig_jw, cfg, "doc_id", "jw_text")
            out["jw"] = jw = jw.localCheckpoint(eager=True)
        with tracer.span("fingerprint_dedup"):
            out["norm"] = norm = sig.select("doc_id", "norm")
            sub = substring_edges(norm, cfg, "doc_id", "norm", pre_normalized=True)
            out["sub"] = sub = sub.select("a", "b").localCheckpoint(eager=True)
        with tracer.span("connected_components"):
            out["edges"] = edges = jw.select("a", "b").union(sub)
            cc = connected_components(edges, cfg, all_nodes=sig.select("doc_id"))
            out["clusters"] = cc = cc.localCheckpoint(eager=True)
        with tracer.span("catalog"):
            cat = Catalog(spark, ck_root)
            h = cfg.config_hash()
            for name, df in (("signatures", sig), ("jw_edges", jw), ("sub_edges", sub), ("clusters", cc)):
                cat.write(name, df, h)
    out["cfg"] = cfg
    return out


def replay_topk(tracer: Tracer, inputs: dict):
    from batch_jaro_winkler_spark.operators.score_pairs import score_topk

    with tracer.span("replay"):
        with tracer.span("score_pairs.topk"):
            return score_topk(inputs["probes"], inputs["cands"], k=TOPK_K).toPandas()


def pipeline_counters(spark, out: dict, n_docs: int, text_bytes: int, ck_root: str) -> dict:
    """Layer counters of one replay, computed outside its spans."""
    import pandas as pd
    from pyspark.sql import functions as F

    from batch_jaro_winkler_spark.kernel import build_model, score, score_pair_batch
    from batch_jaro_winkler_spark.operators.fingerprint_dedup import (
        fingerprint_pairs,
        fingerprints,
    )

    cfg = out["cfg"]
    m: dict = {}
    sizes = out["buckets"].groupBy("band_id", "band_hash").count()
    agg = sizes.agg(
        F.sum("count").alias("rows"),
        F.sum((F.col("count") >= 2).cast("long")).alias("shared"),
        F.sum((F.col("count") > cfg.allpairs_cap).cast("long")).alias("hot"),
        F.max("count").alias("max"),
    ).collect()[0]
    n_pairs = out["pairs"].count()
    n_edges = out["jw"].count()
    m.update({
        "signatures.docs": n_docs,
        "signatures.text_mb": text_bytes / 1e6,
        "lsh.bucket_rows": int(agg["rows"] or 0),
        "lsh.shared_buckets": int(agg["shared"] or 0),
        "lsh.hot_buckets": int(agg["hot"] or 0),
        "lsh.max_bucket": int(agg["max"] or 0),
        "lsh.pairs": n_pairs,
        "score_pairs.pairs_in": n_pairs,
        "score_pairs.edges_out": n_edges,
        "score_pairs.pass_rate": n_edges / n_pairs if n_pairs else 1.0,
    })
    # distinct text pairs and the compiled-model share, over the whole pair
    # list (verify_pairs groups per partition, so this is an upper bound)
    texts = out["sig_jw"].select("doc_id", "jw_text").toPandas().set_index("doc_id")["jw_text"]
    pp = out["pairs"].toPandas()
    pp = pd.DataFrame({"ta": texts.reindex(pp["a"]).to_numpy(), "tb": texts.reindex(pp["b"]).to_numpy()})
    pp = pp.dropna()
    distinct = pp.drop_duplicates()
    gsz = distinct.groupby("ta")["tb"].transform("size")
    m["score_pairs.distinct_ratio"] = len(distinct) / len(pp) if len(pp) else 1.0
    m["score_pairs.model_path_share"] = (
        float((gsz >= MODEL_PATH_MIN_GROUP).mean()) if len(distinct) else 0.0
    )
    # kernel: both scoring paths directly on the same distinct text pairs
    ta, tb = distinct["ta"].tolist(), distinct["tb"].tolist()
    t0 = time.perf_counter()
    score_pair_batch(ta, tb, weight=cfg.jw_weight, threshold=cfg.jw_threshold)
    m["kernel.pair_batch_s"] = time.perf_counter() - t0
    m["kernel.pairs_per_s"] = len(ta) / m["kernel.pair_batch_s"] if ta else 0.0
    groups = [(a, g["tb"].tolist()) for a, g in distinct.groupby("ta", sort=False)]
    build_s = score_s = 0.0
    for a, cands in groups:
        t0 = time.perf_counter()
        model = build_model(cands)
        t1 = time.perf_counter()
        score(model, a, min_score=cfg.jw_min_score, weight=cfg.jw_weight, threshold=cfg.jw_threshold)
        t2 = time.perf_counter()
        build_s += t1 - t0
        score_s += t2 - t1
    m["kernel.build_model_s"] = build_s
    m["kernel.score_s"] = score_s
    m["kernel.probe_ms"] = 1e3 * score_s / len(groups) if groups else 0.0
    # substring stage
    fps = fingerprints(out["norm"], cfg, "doc_id", "norm", pre_normalized=True).localCheckpoint(eager=True)
    n_cand = fingerprint_pairs(fps, cfg).count()
    n_sub = out["sub"].count()
    m.update({
        "fingerprint_dedup.fps": fps.count(),
        "fingerprint_dedup.cand_pairs": n_cand,
        "fingerprint_dedup.edges": n_sub,
        "fingerprint_dedup.pass_rate": n_sub / n_cand if n_cand else 1.0,
    })
    # connected components
    sizes = out["clusters"].groupBy("cluster_id").count()
    cc = sizes.agg(
        F.sum((F.col("count") >= 2).cast("long")).alias("clusters"),
        F.max("count").alias("max"),
    ).collect()[0]
    m.update({
        "connected_components.edges_in": out["edges"].count(),
        "connected_components.clusters": int(cc["clusters"] or 0),
        "connected_components.max_cluster": int(cc["max"] or 0),
    })
    tot = _manifest_totals(ck_root)
    m.update({
        "catalog.write_s": tot["write_s"],
        "catalog.bytes": tot["bytes"],
        "catalog.files": tot["files"],
        "catalog.bytes_per_input_byte": tot["bytes"] / text_bytes,
    })
    return m


def topk_counters(out_pdf, loop: Loop, truth: dict) -> dict:
    """Kernel calls made directly: one model over all candidates, every
    probe scored for its top-k, and the pairwise kernel over the returned
    (probe, candidate) pairs."""
    from batch_jaro_winkler_spark.kernel import build_model, score, score_pair_batch

    cands = loop.check.cand_text
    probes = truth["probe_text"]
    m = {"score_pairs.topk_rows": len(out_pdf)}
    t0 = time.perf_counter()
    model = build_model(cands)
    m["kernel.build_model_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    for p in probes:
        score(model, p, n_best=TOPK_K, weight=0.1, threshold=0.7)
    m["kernel.score_s"] = time.perf_counter() - t0
    m["kernel.probe_ms"] = 1e3 * m["kernel.score_s"] / len(probes)
    ta = [probes[p] for p in out_pdf["probe_id"]]
    tb = [cands[c] for c in out_pdf["cand_id"]]
    t0 = time.perf_counter()
    score_pair_batch(ta, tb, weight=0.1, threshold=0.7)
    m["kernel.pair_batch_s"] = time.perf_counter() - t0
    m["kernel.pairs_per_s"] = len(ta) / m["kernel.pair_batch_s"]
    return m


def _pipeline_layer_times(tracer: Tracer, replay_id: int) -> dict:
    layer = {r["name"]: r["end"] - r["start"] for r in tracer.spans if r["parent"] == replay_id}
    return {
        "signatures.s": layer["signatures"],
        "lsh.s": layer["lsh"],
        "score_pairs.verify_s": layer["score_pairs.verify"],
        "fingerprint_dedup.s": layer["fingerprint_dedup"],
        "connected_components.s": layer["connected_components"],
    }


def _pipeline_stage_metrics(walls: list[float], stage_walls: list[dict]) -> dict:
    """Median DedupPipeline.metrics stage walls over the given runs, and the
    run wall no stage accounts for (writer flush and the final count)."""
    m = {}
    for name in ("signatures", "jw_edges", "sub_edges", "clusters"):
        m[f"pipeline.{name}_s"] = statistics.median(s.get(name, 0.0) for s in stage_walls)
    m["pipeline.flush_s"] = statistics.median(
        w - sum(s.values()) for w, s in zip(walls, stage_walls)
    )
    return m


def _side_topk(spark, tracer: Tracer, sig_jw) -> dict:
    """Pipeline workloads bypass score_topk; time it here on the corpus
    itself: near-duplicate lookup of sampled docs against every doc."""
    from pyspark.sql import functions as F

    from batch_jaro_winkler_spark.operators.score_pairs import score_topk

    texts = sig_jw.where(F.col("jw_text") != "").select(
        F.col("doc_id").alias("cand_id"), F.col("jw_text").alias("cand_text")
    )
    probes = texts.orderBy("cand_id").limit(SIDE_PROBES).select(
        F.col("cand_id").alias("probe_id"), F.col("cand_text").alias("probe_text")
    )
    with tracer.span("side.topk"):
        rows = len(score_topk(probes, texts, k=TOPK_K).toPandas())
    return {"score_pairs.topk_s": tracer.wall("side.topk"), "score_pairs.topk_rows": rows}


def _side_pipeline(spark, tracer: Tracer, inputs: dict, truth: dict, tmp_dir: str) -> dict:
    """topk_lookup bypasses the dedup pipeline; time it here on the probe
    batch itself (deduplicating the queries before lookup): one
    DedupPipeline.run for the stage walls, one replay for the layers."""
    from pyspark.sql import functions as F

    docs = inputs["probes"].select(
        F.col("probe_id").alias("doc_id"), F.col("probe_text").alias("text")
    )
    ck = os.path.join(tmp_dir, "side-run")
    wall, _, pipe = pipeline_call(spark, {"docs": docs}, ck)
    shutil.rmtree(ck, ignore_errors=True)
    m = _pipeline_stage_metrics([wall], [{s.name: s.wall_sec for s in pipe.metrics}])
    ck = os.path.join(tmp_dir, "side-replay")
    with tracer.span("side.pipeline") as rec:
        out = replay_pipeline(spark, tracer, docs, ck)
    m.update(_pipeline_layer_times(tracer, rec["id"] + 1))
    probe_bytes = sum(len(t.encode("utf-8")) for t in truth["probe_text"])
    m.update(pipeline_counters(spark, out, len(truth["probe_text"]), probe_bytes, ck))
    shutil.rmtree(ck, ignore_errors=True)
    return m


def trace_run(spark, spec: dict, inputs: dict, truth: dict, loop: Loop, setup_s: float) -> dict:
    """Alternate untraced calls with traced replays for ``seconds``, then
    gather the layer counters, time the layers the workload bypasses with
    one side call, and return the spans of the last replay."""
    tracer = Tracer(spark)
    m: dict = {"session.start_s": setup_s}
    # one trivial mapInPandas: the cost of spawning the Python workers
    with tracer.span("session.first_py_job"):
        spark.range(4).mapInPandas(lambda it: it, "id long").count()
    m["session.first_py_job_s"] = tracer.wall("session.first_py_job")
    loop.call()  # cold, untraced
    deadline = time.perf_counter() + spec["seconds"]
    traced: list[float] = []
    untraced: list[float] = []
    while True:
        wall = loop.call()
        if wall is not None:
            untraced.append(wall)
        ck = os.path.join(spec["tmp_dir"], "replay")
        shutil.rmtree(ck, ignore_errors=True)
        if loop.pipeline:
            last = replay_pipeline(spark, tracer, inputs["docs"], ck)
        else:
            last = replay_topk(tracer, inputs)
        traced.append(tracer.wall("replay"))
        if time.perf_counter() >= deadline:
            break
    replay_id = max(r["id"] for r in tracer.spans if r["name"] == "replay")
    if loop.pipeline:
        m.update(_pipeline_layer_times(tracer, replay_id))
        m.update(pipeline_counters(spark, last, truth["n_docs"], truth["text_bytes"], ck))
        ok = [w for w in loop.walls if w is not None]
        # warm untraced calls only; the first is the cold call
        m.update(_pipeline_stage_metrics(ok[1:] or ok, loop.stage_walls[1:] or loop.stage_walls))
        m.update(_side_topk(spark, tracer, last["sig_jw"]))
    else:
        m.update(_side_pipeline(spark, tracer, inputs, truth, spec["tmp_dir"]))
        # the kernel layer is measured on the lookup's own path
        m.update(topk_counters(last, loop, truth))
        m["score_pairs.topk_s"] = tracer.wall("score_pairs.topk")
    shutil.rmtree(ck, ignore_errors=True)
    m["trace.untraced_warm_s"] = statistics.median(untraced) if untraced else float("nan")
    m["trace.traced_warm_s"] = statistics.median(traced)
    m["trace.overhead_s"] = m["trace.traced_warm_s"] - m["trace.untraced_warm_s"]
    return {
        "metrics": m,
        "tracer": tracer,
        "app_id": spark.sparkContext.applicationId,
        "last_replay": tracer.descendants(replay_id),
    }


# ------------------------------------------------------------------- main


def main() -> None:
    spec = json.loads(sys.argv[1])
    spark = start_session(spec)
    inputs = register_input(spark, spec)
    setup_s = time.time() - spec["t_spawn"]
    result: dict = {"setup_s": setup_s}
    with open(os.path.join(spec["input_dir"], "truth.json")) as fh:
        truth = json.load(fh)
    loop = Loop(spark, spec, inputs, truth)
    if spec["mode"] == "trace":
        tr = trace_run(spark, spec, inputs, truth, loop, setup_s)
        spark.stop()
        from metrics import PER_LAYER

        summary, per_span = spark_summary(spec["event_dir"], tr["app_id"], tr["last_replay"])
        m = tr["metrics"]
        m.update(summary)
        missing = [name for name, *_ in PER_LAYER if name not in m]
        if missing:
            raise RuntimeError(f"trace left metrics unset: {missing}")
        tr["tracer"].write(
            spec["span_file"],
            {"metrics": m, "spark_per_span": per_span, "overhead_s": m["trace.overhead_s"]},
        )
        result["layer_metrics"] = m
    else:
        loop.call()  # cold
        deadline = time.perf_counter() + spec["seconds"]
        while True:
            loop.call()
            if loop.attempted > WARM_CALLS_MIN and time.perf_counter() >= deadline:
                break
        spark.stop()
    result.update(
        attempted=loop.attempted,
        failed=loop.failed,
        errors=loop.errors,
        walls=loop.walls,
        quality=loop.check.quality,
        stage_walls=loop.stage_walls,
        manifests=loop.manifests,
    )
    print("PERFBENCH_RESULT " + json.dumps(result), flush=True)


if __name__ == "__main__":
    main()

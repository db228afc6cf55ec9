#!/usr/bin/env python
"""Per-query measurement harness for the optimization round (guide §1).

NOT the driver bench (bench.py is frozen): this script isolates each
declared bench query with the noop sink (guide §1.4) so we time the
computation, not the sink, labels every job (§1.5), and dumps
``.explain("formatted")`` for the plan-shape evidence committed under
plans/r07/.

Usage:
    python bench_extra.py [--sf-dir DIR] [--reps N] [--plans-dir DIR]
                          [--tag TAG] [--queries q1,q2,...]
                          [--pipeline [--input PARQUET]] [--conf KEY=V1,V2]
    python bench_extra.py --substring [--against TREE] [--reps N]

Host noise is ±30-40% (CLAUDE.md) — never A/B across separate runs of
this script; for change attribution use --queries with an interleaved
worktree protocol or in-process A/B instead.

``--pipeline`` times ``DedupPipeline.run`` on ``--input`` (default the
sf dir's ``documents.parquet``; a multi-file directory such as
perfbench's ``crawl_dedup`` docs works); the queries then run only when
``--queries`` names them.  ``--conf KEY=V1,V2`` is the in-process A/B of
one runtime SQL conf: every round runs each value once, the first value
alternating round to round (``--reps`` rounds; with two or more, the
first round warms up and is left out of the summaries).  Per query and
value it prints the min and median wall (query build included) and the
Python tasks per run, counted from the session's event log.  The
pipeline adds, per stage, its median wall, Python tasks, Spark jobs
(``jobs``) and the seconds of its wall during which none of its jobs ran
(``no_job_s``: plan building, driver-side work, job submission gaps),
all from the same event log.  The script fails if the sorted-row digests
of the ``edges`` or ``clusters`` checkpoints differ between values.

``--substring`` needs no Spark: it times
``suffix_array.partition_substring_pairs`` in this process on four seeded
partitions (500 and 2,000 docs of ~730 chars with planted passages, 600
docs sharing one 500-char block, 200k chars of periodic text in two
docs).  With ``--against TREE`` it loads that checkout's
``suffix_array.py`` as a second variant and interleaves the two, the
first side alternating per round (default 7 rounds).  Per case and
variant it prints the min and median seconds, the tracemalloc peak of
one extra call, and whether the pair sets agree.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
# local property naming the run ("<variant>:<round>") a job belongs to
_RUN_PROPERTY = "bench_extra.run"

BENCH_QUERIES = [
    "rel_q1",
    "jw_topk",
    "jw_pairs",
    "dedup_exact",
    "pipeline_lsh_pairs",
    "pipeline_simhash_pairs",
    "ann_cosine_topk",
    "ann_cosine_topk_ivf",
    "dedup_embedding_lsh",
    "dedup_substring_exact",
    "events_sessions",
    "events_session_window",
    "text_quality",
    "pipeline_clusters_star",
    "mm_frame_samples_gif",
    "mm_frame_samples_wav",
    "mm_frame_samples_mp4",
    "mm_frame_samples_mp3",
    "mm_frame_samples_webm",
    "mm_jpeg_meta",
    "mm_jpeg_decode",
    "mm_resize_jpeg",
    "mm_frame_features",
    "mm_frame_samples_corrupt",
    "pipeline_lsh_pairs_exact",
    "pipeline_simhash_pairs_exact",
]


def _substring_cases() -> dict[str, tuple]:
    """Seeded (doc_ids, normalized texts, min_len) partitions for
    ``--substring``.  Doc ids are a shuffled range, so pairs are ordered
    by id, not by position."""
    import random

    import numpy as np
    import pandas as pd

    from batch_jaro_winkler_spark.functions.text import normalize_pandas

    rng = random.Random(0)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = ["".join(rng.choices(letters, k=rng.randint(2, 9))) for _ in range(5000)]

    def words(n_chars: int) -> str:
        out, n = [], 0
        while n < n_chars:
            out.append(rng.choice(vocab))
            n += len(out[-1]) + 1
        return " ".join(out)

    def planted(n_docs: int) -> list[str]:
        texts = [words(rng.randint(280, 1100)) for _ in range(n_docs)]
        for _ in range(n_docs // 10):  # a verbatim passage of another doc
            src, dst = rng.sample(range(n_docs), 2)
            at = rng.randrange(max(1, len(texts[src]) - 220))
            passage = texts[src][at : at + rng.randint(220, 600)]
            cut = rng.randrange(len(texts[dst]) + 1)
            texts[dst] = f"{texts[dst][:cut]} {passage} {texts[dst][cut:]}"
        return texts

    block = words(500)[:500]
    cases = {
        "planted_500": planted(500),
        "planted_2000": planted(2000),
        "shared_block_600": [
            f"{words(rng.randint(50, 300))} {block} {words(rng.randint(50, 300))}"
            for _ in range(600)
        ],
        "periodic_200k": ["the same words again " * 4762] * 2,
    }
    out = {}
    for name, texts in cases.items():
        ids = np.array(rng.sample(range(10 * len(texts)), len(texts)), dtype=np.int64)
        out[name] = (ids, normalize_pandas(pd.Series(texts)).tolist(), 200)
    return out


def _substring_bench(against: str | None, rounds: int) -> dict:
    """Interleaved in-process A/B of ``partition_substring_pairs``: this
    tree vs the ``suffix_array.py`` of ``against``."""
    import importlib.util
    import statistics
    import tracemalloc

    from batch_jaro_winkler_spark.operators.suffix_array import (
        partition_substring_pairs,
    )

    variants = {"this": partition_substring_pairs}
    if against:
        path = os.path.join(
            against, "batch_jaro_winkler_spark", "operators", "suffix_array.py"
        )
        spec = importlib.util.spec_from_file_location("_against_suffix_array", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        variants["against"] = mod.partition_substring_pairs
    results: dict = {}
    for case, (ids, texts, min_len) in _substring_cases().items():
        times: dict[str, list[float]] = {v: [] for v in variants}
        names = list(variants)
        for r in range(rounds):
            for v in names if r % 2 == 0 else names[::-1]:
                t0 = time.perf_counter()
                variants[v](ids, texts, min_len)
                times[v].append(time.perf_counter() - t0)
        row: dict = {"case": case, "docs": len(texts), "chars": sum(map(len, texts))}
        pair_sets = {}
        for v, fn in variants.items():
            tracemalloc.start()
            pair_sets[v] = fn(ids, texts, min_len)
            peak = tracemalloc.get_traced_memory()[1]
            tracemalloc.stop()
            row[v] = {
                "min_s": round(min(times[v]), 4),
                "median_s": round(statistics.median(times[v]), 4),
                "peak_mb": round(peak / 2**20, 1),
                "pairs": len(pair_sets[v]),
            }
        row["same_pairs"] = all(p == pair_sets["this"] for p in pair_sets.values())
        results[case] = row
        print(json.dumps(row), flush=True)
    return results


def _table_digest(data_dir: str) -> str:
    """sha256 of a parquet table's rows, sorted, so that partitioning and
    file order do not count."""
    import hashlib

    import pyarrow.parquet as pq

    df = pq.read_table(data_dir).to_pandas()
    df = df.sort_values(list(df.columns), kind="stable")
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()[:16]


def _run_stats(log_dir: str, app_id: str) -> dict[tuple[str, str], dict]:
    """Per (run, job description) in the finished event log: ``py_tasks``,
    the Python tasks (a task counts when it updates a "... Python workers"
    SQL metric, which only a Python operator such as ``mapInPandas`` or a
    pandas UDF does); ``jobs``, the Spark jobs; and ``busy_s``, the
    seconds during which at least one of those jobs ran (the union of
    their submission-to-completion spans)."""
    stage_key: dict[int, tuple[str, str]] = {}
    started: dict[int, tuple[tuple[str, str], int]] = {}  # job → (key, submitted ms)
    spans: dict[tuple[str, str], list[tuple[int, int]]] = {}
    stats: dict[tuple[str, str], dict] = {}
    with open(os.path.join(log_dir, app_id)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if _RUN_PROPERTY in props:
                    key = (props[_RUN_PROPERTY], props.get("spark.job.description"))
                    stage_key.update(dict.fromkeys(ev.get("Stage IDs", []), key))
                    started[ev["Job ID"]] = (key, ev["Submission Time"])
                    stats.setdefault(key, {"py_tasks": 0, "jobs": 0, "busy_s": 0.0})["jobs"] += 1
            elif kind == "SparkListenerJobEnd" and ev.get("Job ID") in started:
                key, t0 = started.pop(ev["Job ID"])
                spans.setdefault(key, []).append((t0, ev["Completion Time"]))
            elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_key:
                acc = (ev.get("Task Info") or {}).get("Accumulables", [])
                if any("Python workers" in (a.get("Name") or "") for a in acc):
                    stats[stage_key[ev["Stage ID"]]]["py_tasks"] += 1
    for key, key_spans in spans.items():
        busy_ms = covered = 0
        for t0, t1 in sorted(key_spans):
            busy_ms += max(0, t1 - max(t0, covered))
            covered = max(covered, t1)
        stats[key]["busy_s"] = busy_ms / 1000
    return stats


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=None, help="default 2; 7 with --substring")
    ap.add_argument("--plans-dir", default=None, help="dump explain('formatted') per query")
    ap.add_argument("--plans-suffix", default="before")
    ap.add_argument("--tag", default="r07")
    ap.add_argument("--queries", default=None, help="comma list; default = bench.py's list")
    ap.add_argument("--pipeline", action="store_true", help="time the end-to-end pipeline")
    ap.add_argument("--input", default=None, help="pipeline input parquet (file or directory)")
    ap.add_argument("--conf", default=None, metavar="KEY=V1,V2", help="interleave values of one SQL conf")
    ap.add_argument("--out", default=None, help="write JSON results here")
    ap.add_argument("--substring", action="store_true", help="time partition_substring_pairs only (no Spark)")
    ap.add_argument("--against", default=None, help="with --substring: a checkout to interleave against")
    args = ap.parse_args()

    if args.substring:
        res = _substring_bench(args.against, args.reps or 7)
        if args.out:
            with open(args.out, "w") as fh:
                json.dump(res, fh, indent=1)
        return
    args.reps = args.reps or 2

    import shutil
    import statistics
    import tempfile

    import __spark_entry__ as entry_mod
    from batch_jaro_winkler_spark.session import get_spark

    conf_key, values = None, [None]
    if args.conf:
        conf_key, _, listed = args.conf.partition("=")
        values = listed.split(",")
    log_dir = tempfile.mkdtemp(prefix="bjws_extra_events_")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        f"bjws-extra-{args.tag}",
        cores=cpus,
        shuffle_partitions=max(cpus, 8),
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            # one plain JSON-lines file
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sc = spark.sparkContext
    app_id = sc.applicationId

    def runs():
        """Yield (round, variant) with the variant's conf set and its jobs
        tagged; the first variant alternates round to round."""
        order = list(range(len(values)))
        for r in range(args.reps):
            for v in order if r % 2 == 0 else order[::-1]:
                if conf_key:
                    spark.conf.set(conf_key, values[v])
                sc.setLocalProperty(_RUN_PROPERTY, f"{v}:{r}")
                yield r, v
        sc.setLocalProperty(_RUN_PROPERTY, None)
        sc.setJobDescription(None)
        if conf_key:
            spark.conf.unset(conf_key)

    walls: dict[str, list[list[float]]] = {}  # name → per variant, run walls
    stage_walls: list[dict[str, dict[int, float]]] = [{} for _ in values]  # stage → round → wall
    digests: dict[str, list[set]] = {"edges": [set() for _ in values], "clusters": [set() for _ in values]}

    # with two or more rounds the first one warms the JVM and the Python
    # workers, and the summaries leave it out
    counted = range(1 if args.reps > 1 else 0, args.reps)

    def timed(name: str, r: int, v: int, wall: float) -> None:
        if r in counted:
            walls.setdefault(name, [[] for _ in values])[v].append(wall)
        print(json.dumps({"query": name, "value": values[v], "round": r, "s": round(wall, 3)}), flush=True)

    if args.pipeline:
        from batch_jaro_winkler_spark.operators.config import DedupConfig
        from batch_jaro_winkler_spark.pipeline import DedupPipeline

        path = args.input or f"{args.sf_dir}/documents.parquet"
        for r, v in runs():
            root = tempfile.mkdtemp(prefix="bjws_extra_")
            docs = spark.read.parquet(path)
            sc.setJobDescription("dedup_pipeline")
            t0 = time.time()
            pipe = DedupPipeline(spark, DedupConfig(), root)
            pipe.run(docs, "doc_id", "text").count()
            timed("dedup_pipeline", r, v, time.time() - t0)
            if r in counted:
                for m in pipe.metrics:
                    stage_walls[v].setdefault(m.name, {})[r] = m.wall_sec
            for table, seen in digests.items():
                seen[v].add(_table_digest(os.path.join(root, table, "data")))
            shutil.rmtree(root)

    # --pipeline alone times the pipeline only
    names = [] if args.pipeline and args.queries is None else (
        args.queries.split(",") if args.queries else list(BENCH_QUERIES)
    )
    q = entry_mod.queries()
    if args.plans_dir:
        import contextlib
        import io

        os.makedirs(args.plans_dir, exist_ok=True)
        for name in names:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                q[name](spark, args.sf_dir).explain("formatted")
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.plans_suffix}.txt"), "w"
            ) as fh:
                fh.write(buf.getvalue())

    for name in names:
        for r, v in runs():
            sc.setJobDescription(name)
            t0 = time.time()
            # built per run, under the variant's conf and inside the timed
            # region (some builders run jobs, as bench.py counts them): a
            # lazy localCheckpoint inside a query would otherwise carry
            # materialized blocks into the next run and fake the timing
            df = q[name](spark, args.sf_dir)
            # noop sink: computes every column of every row, discards
            df.write.format("noop").mode("overwrite").save()
            timed(name, r, v, time.time() - t0)

    spark.stop()
    stats = _run_stats(log_dir, app_id)
    shutil.rmtree(log_dir)

    def per_run(v: int, desc: str, field: str) -> float:
        """The median over counted runs of one ``_run_stats`` field."""
        return statistics.median(
            stats.get((f"{v}:{r}", desc), {}).get(field, 0) for r in counted
        )

    def no_job_s(v: int, stage: str) -> float:
        """The median over counted runs of the stage wall seconds during
        which none of the stage's jobs ran."""
        return statistics.median(
            max(0.0, wall - stats.get((f"{v}:{r}", stage), {}).get("busy_s", 0.0))
            for r, wall in stage_walls[v][stage].items()
        )

    rows = []
    for name, per_variant in walls.items():
        for v, ts in enumerate(per_variant):
            row = {
                "query": name,
                "conf": conf_key,
                "value": values[v],
                "runs": len(ts),
                "min_s": round(min(ts), 3),
                "median_s": round(statistics.median(ts), 3),
            }
            if name == "dedup_pipeline":
                row["stage_median_s"] = {
                    s: round(statistics.median(w.values()), 3) for s, w in stage_walls[v].items()
                }
                row["py_tasks"] = {s: per_run(v, s, "py_tasks") for s in stage_walls[v]}
                row["jobs"] = {s: per_run(v, s, "jobs") for s in stage_walls[v]}
                row["no_job_s"] = {s: round(no_job_s(v, s), 3) for s in stage_walls[v]}
            else:
                row["py_tasks"] = per_run(v, name, "py_tasks")
            rows.append(row)
            print(json.dumps(row), flush=True)
    same = {
        table: len(set().union(*seen)) <= 1 for table, seen in digests.items()
    }
    if args.pipeline:
        print(json.dumps({"same_digests": same}), flush=True)

    if args.out:
        with open(args.out, "w") as fh:
            json.dump(
                {"sf_dir": args.sf_dir, "input": args.input, "reps": args.reps, "results": rows},
                fh,
                indent=1,
            )
    print(json.dumps({"tag": args.tag, "done": True, "n": len(walls)}))
    if not all(same.values()):
        sys.exit(f"sorted-row digests differ between variants: {digests}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""The repo benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload crawl_dedup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  It generates the workload's seeded
input (cached per workload, seed and size under ``.perfbench/``), then
measures in a fresh process on ``local[nproc / 2]``:

* ``--trace 0``: one measuring process (set-up, the cold call, then a
  closed loop of warm calls with one client for ``--seconds``, and at
  least three of them); prints every end-to-end metric with its unit;
* ``--trace 1``: one measuring process that alternates untraced calls with
  a traced replay through each layer's public functions, with the Spark
  event log on; prints every per-layer metric and writes the span file.

Every call's output is checked (see ``worker.py``); a call that raises,
times out or fails its check counts in ``failed``.  The last stdout line
is ``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the run's noise diagnostics (steal, memory bandwidth), which are
evidence, not metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402
from metrics import END_TO_END, PER_LAYER, unit_of  # noqa: E402
from workloads import WORKLOADS, ensure_input  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
RUN_BUDGET_S = 170.0
# host-fit session settings: the package defaults (local[32], a 48g Spark
# driver) are sized for a bigger machine
DRIVER_MEM = "1g"
# task slots: half the cores this process may use.  The JVM's compiler and
# GC threads, the Python workers and the driver process share the rest, so
# a stage's tasks do not wait on each other for a core and a co-tenant's
# load moves the timings less (on a shared four-core host, two busy
# co-tenant threads slowed warm calls by ~30% at local[4] and ~3% at
# local[2]; the fixed-cost-dominated pipeline runs about as fast on either)
CORES = max(1, len(os.sched_getaffinity(0)) // 2)


def _worker_env(tmp_dir: str) -> dict:
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(tmp_dir, "spark-local"),
        # temp files of Python and of both JVMs (the spark-submit launcher
        # and the Spark driver) stay inside the run's scratch dir
        TMPDIR=tmp_dir,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
    )
    return env


def _spawn(spec: dict, deadline: float):
    """Run the worker process to completion (killing its whole tree at the
    deadline); returns (result, RSS sampler, stderr tail)."""
    spec = dict(spec, t_spawn=time.time())
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(spec)],
        cwd=ROOT,
        env=_worker_env(spec["tmp_dir"]),
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    sampler = host.RssSampler(proc.pid)
    try:
        with sampler:
            try:
                out, err = proc.communicate(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                host.kill_tree(proc.pid)
                out, err = proc.communicate()
                err += "\nworker killed at the run deadline"
    finally:
        if proc.poll() is None:
            host.kill_tree(proc.pid)
            proc.wait()
        host.reap(sampler.seen - {proc.pid})
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT ") :])
    return result, sampler, err[-4000:]


def _end_to_end(res: dict, peak_mb: float) -> dict:
    walls = res["walls"]
    warm = [w for w in walls[1:] if w is not None]
    if walls[0] is None or not warm:
        return {}
    values = {
        "setup_s": res["setup_s"],
        "cold_s": walls[0],
        "warm_s": statistics.median(warm),
        "peak_rss_mb": peak_mb,
        **res["quality"],
    }
    return {name: values[name] for name, *_ in END_TO_END}


def _throughput(workload: str, truth: dict, warm_s: float) -> dict:
    """Docs (probes) and text MB per second of warm_s; for topk_lookup MB
    is probes x candidate MB, the reference's own throughput protocol."""
    if workload == "topk_lookup":
        n = len(truth["sources"])
        return {"docs_per_s": n / warm_s, "mb_per_s": n * truth["cand_bytes"] / 1e6 / warm_s}
    return {"docs_per_s": truth["n_docs"] / warm_s, "mb_per_s": truth["text_bytes"] / 1e6 / warm_s}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("default", "tiny"), default="default")
    args = ap.parse_args(argv)
    t_start = time.time()
    deadline = t_start + RUN_BUDGET_S

    if not os.path.isfile(os.path.join(ROOT, "batch_jaro_winkler_spark", "__init__.py")):
        print("perfbench: run from a checkout that holds the batch_jaro_winkler_spark "
              "package", file=sys.stderr)
        return 2

    ticks0 = host.cpu_ticks()
    membw = host.membw_mb_s()
    input_dir = ensure_input(os.path.join(WORK, "inputs"), args.workload, args.seed, args.size)
    with open(os.path.join(input_dir, "truth.json")) as fh:
        truth = json.load(fh)
    tag = f"{args.workload}-{args.size}-s{args.seed}-t{args.trace}"
    tmp_dir = os.path.join(WORK, "tmp", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(WORK, "out")
    os.makedirs(tmp_dir)
    os.makedirs(out_dir, exist_ok=True)
    spec = {
        "workload": args.workload,
        "input_dir": input_dir,
        "seconds": args.seconds,
        "cores": CORES,
        "tmp_dir": tmp_dir,
        "event_dir": os.path.join(tmp_dir, "events"),
        "span_file": os.path.join(out_dir, f"{tag}-spans.json"),
    }
    os.makedirs(spec["event_dir"])
    try:
        res, rss, err = _spawn(dict(spec, mode="trace" if args.trace else "measure"), deadline)
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)

    if res is None:
        errors = [err]
        attempted, failed, metrics = 1, 1, {}
    else:
        errors = res["errors"]
        attempted, failed = res["attempted"], res["failed"]
        if args.trace:
            metrics = {name: res["layer_metrics"][name] for name, *_ in PER_LAYER}
        else:
            metrics = _end_to_end(res, rss.peak_mb)
    wanted = [r[0] for r in (PER_LAYER if args.trace else END_TO_END)]
    correct = failed == 0 and set(metrics) == set(wanted)
    diagnostics = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "trace": args.trace,
        "steal_fraction": host.steal_fraction(ticks0, host.cpu_ticks()),
        "membw_mb_s": membw,
        "setup_s": res["setup_s"] if res else None,
        "walls_s": res["walls"] if res else [],
        "run_wall_s": time.time() - t_start,
        "errors": errors,
        "rss_at_peak_mb": sorted(rss.at_peak.values(), key=lambda r: -r[1]),
    }
    if "warm_s" in metrics:
        diagnostics["throughput"] = _throughput(args.workload, truth, metrics["warm_s"])
    if res is not None and not args.trace:
        diagnostics["stage_walls"] = res["stage_walls"]
        diagnostics["manifests"] = res["manifests"]
    if args.trace:
        diagnostics["span_file"] = os.path.relpath(spec["span_file"], ROOT)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump({"diagnostics": diagnostics, "metrics": metrics}, fh, indent=1)
    print("diagnostics " + json.dumps(diagnostics))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark's metric registry: every metric it prints, with its unit,
its better direction, its layer and what it should move.

``BENCHMARK.json`` at the repo root mirrors the ``END_TO_END`` and
``PER_LAYER`` lists (the tests check that they agree).  ``MOVES`` records
the layer → end-to-end → workload mapping that later performance changes
cite when they claim a gain.
"""

from __future__ import annotations

import re

__all__ = [
    "END_TO_END",
    "PER_LAYER",
    "MOVES",
    "BOUNDS",
    "NAME_RE",
    "UNIT_RE",
    "unit_of",
]

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")

# (name, unit, better, definition).  Every end-to-end metric is measured on
# every workload with tracing off; where a workload reads a metric in its
# own terms the definition says so.  Throughput (docs/s, MB/s) is a fixed
# input size over warm_s, so it is recorded in the run's diagnostics and
# not bounded twice: as a ratio its quartile spread is wider than warm_s's.
END_TO_END = [
    ("setup_s", "s", "lower",
     "fresh process to SparkSession ready and input registered (input "
     "generation is cached per seed and excluded)"),
    ("cold_s", "s", "lower",
     "the first full call in the fresh session: DedupPipeline.run(...)"
     ".count(), or score_topk(...) collected for topk_lookup"),
    ("warm_s", "s", "lower",
     "median of the later calls in the same session, each with a fresh "
     "checkpoint dir"),
    ("peak_rss_mb", "MB", "lower",
     "highest sum over the live measuring process tree (Python driver, "
     "JVM, Python workers) of each process's peak RSS (VmHWM), from /proc"),
    ("pair_recall", "ratio", "higher",
     "planted pairs that share a cluster_id / planted pairs; probes whose "
     "planted source is in the top-k / probes on topk_lookup"),
    ("pair_precision", "ratio", "higher",
     "co-clustered pairs inside the planted transitive closure / "
     "co-clustered pairs; probes whose top-1 scores as high as their "
     "source / probes on topk_lookup"),
]

# (name, unit, layer, better).  Traced run only; no bound.  Counts of work
# (buckets, pairs, jobs, bytes) read lower-is-better: the same result from
# less work.  Counts of useful output and pass rates read higher.
PER_LAYER = [
    ("session.start_s", "s", "session", "lower"),
    ("session.first_py_job_s", "s", "session", "lower"),
    ("pipeline.signatures_s", "s", "pipeline", "lower"),
    ("pipeline.jw_edges_s", "s", "pipeline", "lower"),
    ("pipeline.sub_edges_s", "s", "pipeline", "lower"),
    ("pipeline.clusters_s", "s", "pipeline", "lower"),
    ("pipeline.flush_s", "s", "pipeline", "lower"),
    ("signatures.s", "s", "signatures", "lower"),
    ("signatures.docs", "count", "signatures", "higher"),
    ("signatures.text_mb", "MB", "signatures", "higher"),
    ("lsh.s", "s", "lsh", "lower"),
    ("lsh.bucket_rows", "count", "lsh", "lower"),
    ("lsh.shared_buckets", "count", "lsh", "lower"),
    ("lsh.hot_buckets", "count", "lsh", "lower"),
    ("lsh.max_bucket", "count", "lsh", "lower"),
    ("lsh.pairs", "count", "lsh", "lower"),
    ("score_pairs.verify_s", "s", "score_pairs", "lower"),
    ("score_pairs.pairs_in", "count", "score_pairs", "lower"),
    ("score_pairs.edges_out", "count", "score_pairs", "higher"),
    ("score_pairs.pass_rate", "ratio", "score_pairs", "higher"),
    ("score_pairs.distinct_ratio", "ratio", "score_pairs", "lower"),
    ("score_pairs.model_path_share", "ratio", "score_pairs", "lower"),
    ("score_pairs.topk_s", "s", "score_pairs", "lower"),
    ("score_pairs.topk_rows", "count", "score_pairs", "higher"),
    ("kernel.pair_batch_s", "s", "kernel", "lower"),
    ("kernel.pairs_per_s", "pairs/s", "kernel", "higher"),
    ("kernel.build_model_s", "s", "kernel", "lower"),
    ("kernel.score_s", "s", "kernel", "lower"),
    ("kernel.probe_ms", "ms", "kernel", "lower"),
    ("fingerprint_dedup.s", "s", "fingerprint_dedup", "lower"),
    ("fingerprint_dedup.fps", "count", "fingerprint_dedup", "lower"),
    ("fingerprint_dedup.cand_pairs", "count", "fingerprint_dedup", "lower"),
    ("fingerprint_dedup.edges", "count", "fingerprint_dedup", "higher"),
    ("fingerprint_dedup.pass_rate", "ratio", "fingerprint_dedup", "higher"),
    ("connected_components.s", "s", "connected_components", "lower"),
    ("connected_components.edges_in", "count", "connected_components", "lower"),
    ("connected_components.clusters", "count", "connected_components", "higher"),
    ("connected_components.max_cluster", "count", "connected_components", "lower"),
    ("catalog.write_s", "s", "catalog", "lower"),
    ("catalog.bytes", "bytes", "catalog", "lower"),
    ("catalog.files", "count", "catalog", "lower"),
    ("catalog.bytes_per_input_byte", "ratio", "catalog", "lower"),
    ("spark.jobs", "count", "spark", "lower"),
    ("spark.tasks", "count", "spark", "lower"),
    ("spark.shuffle_write_mb", "MB", "spark", "lower"),
    ("spark.task_skew", "ratio", "spark", "lower"),
    ("spark.gc_s", "s", "spark", "lower"),
    ("spark.deser_s", "s", "spark", "lower"),
    ("spark.py_mb_sent", "MB", "spark", "lower"),
    ("spark.task_s", "s", "spark", "lower"),
    ("spark.py_run_s", "s", "spark", "lower"),
    ("trace.untraced_warm_s", "s", "trace", "lower"),
    ("trace.traced_warm_s", "s", "trace", "lower"),
    ("trace.overhead_s", "s", "trace", "lower"),
]

# the share of the parent's median by which each end-to-end metric may
# worsen before a change counts as a regression
BOUNDS = {
    "setup_s": 0.25,
    "cold_s": 0.25,
    "warm_s": 0.25,
    "peak_rss_mb": 0.25,
    "pair_recall": 0.05,
    "pair_precision": 0.05,
}

# layer → (end-to-end metrics it should move, workloads where it shows)
MOVES = {
    "session": ("setup_s, cold_s", "all three"),
    "pipeline": ("cold_s, warm_s", "crawl_dedup"),
    "signatures": ("warm_s", "crawl_dedup; flat on topk_lookup"),
    "lsh": ("warm_s", "crawl_dedup (hot subplan is pure overhead), "
            "boilerplate_skew (hot path does the work)"),
    "score_pairs": ("warm_s",
                    "verify: boilerplate_skew, flat on crawl_dedup; "
                    "topk: topk_lookup"),
    "kernel": ("warm_s", "topk_lookup; boilerplate_skew"),
    "fingerprint_dedup": ("warm_s", "boilerplate_skew"),
    "connected_components": ("warm_s; cold_s",
                             "boilerplate_skew; both pipeline workloads"),
    "catalog": ("cold_s, peak_rss_mb", "both pipeline workloads"),
    "spark": ("shuffle, skew: warm_s; deser, jobs: cold_s",
              "both pipeline workloads; all three"),
    "trace": ("none (tracing overhead)", "all three"),
}


def unit_of(name: str) -> str:
    for row in END_TO_END + PER_LAYER:
        if row[0] == name:
            return row[1]
    raise KeyError(name)

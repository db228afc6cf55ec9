#!/usr/bin/env python
"""spark-submit entry point for the dedup pipeline.

Cluster launch (the north_rule deployment shape):

    zip -r bjws.zip batch_jaro_winkler_spark
    spark-submit --py-files bjws.zip scripts/run_pipeline.py \
        --input s3://bucket/pages/ --checkpoint s3://bucket/ckpt/run1 \
        --output s3://bucket/clusters --id-col doc_id --text-col text

Local smoke:

    python scripts/run_pipeline.py --input /root/testdata/sf0.001/documents.parquet \
        --checkpoint /tmp/ckpt --output /tmp/clusters --cores 8

The job is resumable: rerunning with the same --checkpoint and config
reads back completed stages (config changes invalidate the affected
suffix). Stage metrics print as one JSON line at the end.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys
import time

# runnable from anywhere without installation (spark-submit ships the
# package via --py-files; direct invocation finds it next to scripts/,
# and PYTHONPATH propagates it to the executor-side python workers)
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path or Iceberg table")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--cores", type=int, default=None, help="local mode only")
    ap.add_argument("--extract-from-html", action="store_true")
    # every DedupConfig field is overridable: --set jw_min_score=0.9
    ap.add_argument("--set", action="append", default=[], metavar="KEY=VALUE")
    args = ap.parse_args(argv)

    from batch_jaro_winkler_spark.operators.config import DedupConfig
    from batch_jaro_winkler_spark.pipeline import DedupPipeline
    from batch_jaro_winkler_spark.sources.webpages import read_webpages

    overrides = {}
    fields = {f.name: f.type for f in dataclasses.fields(DedupConfig)}
    for kv in args.set:
        k, v = kv.split("=", 1)
        if k not in fields:
            ap.error(f"unknown config key {k}; known: {sorted(fields)}")
        current = getattr(DedupConfig(), k)
        if v.lower() == "none" and "None" in str(fields[k]):
            overrides[k] = None  # an ``X | None`` field (jw_weight=none: pure Jaro)
        else:
            overrides[k] = type(current)(v) if current is not None else float(v)
    cfg = DedupConfig(**overrides)

    if args.cores is not None:
        from batch_jaro_winkler_spark.session import get_spark

        spark = get_spark("bjws-pipeline", cores=args.cores)
    else:  # spark-submit provides the session/master
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.appName("bjws-pipeline").getOrCreate()

    docs = read_webpages(
        spark, args.input, extract_from_html=args.extract_from_html
    )
    t0 = time.time()
    pipe = DedupPipeline(spark, cfg, args.checkpoint)
    clusters = pipe.run(
        docs,
        args.id_col if args.id_col in docs.columns else "doc_id",
        args.text_col,
    )
    clusters.write.mode("overwrite").parquet(args.output)
    print(
        json.dumps(
            {
                "wall_sec": round(time.time() - t0, 3),
                "config_hash": cfg.config_hash(),
                "stages": [dataclasses.asdict(m) for m in pipe.metrics],
                "output": args.output,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

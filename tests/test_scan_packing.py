"""Scan-split planning under the session's file settings.

Every scan split of a Python stage is one Python task, and a Python task
costs ~0.2 s warm whatever its row count.  Small files therefore pack
toward one split per task slot (Spark's default open cost), while the
16 MB ``maxPartitionBytes`` cap still splits one large file."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from batch_jaro_winkler_spark.fixtures import make_corpus
from batch_jaro_winkler_spark.operators.config import DedupConfig
from batch_jaro_winkler_spark.pipeline import DedupPipeline

N_FILES = 16


@pytest.fixture(scope="module")
def tiny_files(tmp_path_factory):
    """16 small parquet files of 10 fixture docs each."""
    out = tmp_path_factory.mktemp("tiny_files")
    rows = make_corpus(n_rows=10 * N_FILES, seed=7).rows
    for f in range(N_FILES):
        ids = list(range(10 * f, 10 * f + 10))
        table = pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([rows[i]["text"] for i in ids], pa.string()),
            }
        )
        pq.write_table(table, str(out / f"part-{f:02d}.parquet"), row_group_size=5)
    return str(out)


def test_small_files_pack_to_task_slots(spark, tiny_files):
    assert spark.sparkContext.defaultParallelism == 8
    assert spark.read.parquet(tiny_files).rdd.getNumPartitions() == 8


def test_pipeline_checkpoints_one_file_per_task_slot(spark, tiny_files, tmp_path):
    """The signatures stage keeps the scan's splits, and the connected-
    components map inherits them through the signatures checkpoint: both
    stages write one file per split."""
    pipe = DedupPipeline(spark, DedupConfig(), str(tmp_path))
    pipe.run(spark.read.parquet(tiny_files)).count()
    files = {name: pipe.catalog.manifest(name)["files"] for name in ("signatures", "clusters")}
    assert files == {"signatures": 8, "clusters": 8}


def test_large_file_splits_at_16mb(spark, tmp_path):
    """One ~39 MB file of 5,000-row groups: with two minimum partitions
    the per-core share is ~21 MB, so only the 16 MB cap makes it three
    splits (at Spark's default 128 MB it plans two)."""
    rng = np.random.default_rng(0)
    n, width = 39_000, 1_000
    payload = rng.integers(0, 256, n * width, dtype=np.uint8).tobytes()
    table = pa.table(
        {"blob": pa.array([payload[i * width : (i + 1) * width] for i in range(n)], pa.binary())}
    )
    path = str(tmp_path / "large.parquet")
    pq.write_table(table, path, row_group_size=5_000, compression="none")
    assert 38e6 < os.path.getsize(path) < 40e6
    spark.conf.set("spark.sql.files.minPartitionNum", "2")
    try:
        assert spark.read.parquet(path).rdd.getNumPartitions() == 3
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")

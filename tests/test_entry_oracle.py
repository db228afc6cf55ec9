"""Emulates the driver's correctness gate locally: every ``queries()`` entry
runs on Spark at sf0.01 and must match its ``oracle_sql()`` DuckDB twin
exactly (row count, column names, and values after name-sorted columns and
row sort) — the same comparison the driver hashes.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark import cloudpickle

import __spark_entry__ as entry_mod

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck(sf01_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf01_dir}/{t}.parquet'"
        )
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64")
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


ORACLE_NAMES = sorted(set(entry_mod.oracle_sql()))
ROWS_ONLY = sorted(set(entry_mod.queries()) - set(entry_mod.oracle_sql()))


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, duck, sf01_dir, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]
    got = _normalize(q(spark, sf01_dir).toPandas())
    exp = _normalize(duck.execute(sql).fetchdf())
    assert list(got.columns) == list(exp.columns), (got.columns, exp.columns)
    assert len(got) == len(exp), f"{name}: {len(got)} vs {len(exp)} rows"
    for c in got.columns:
        g, e = got[c].to_numpy(), exp[c].to_numpy()
        if g.dtype.kind == "f":
            ok = np.allclose(g, e, rtol=0, atol=0, equal_nan=True)
        else:
            ok = (pd.Series(g) == pd.Series(e)).all()
        assert ok, f"{name}.{c}: first diffs {pd.DataFrame({'got': g, 'exp': e})[g != e][:5]}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, sf01_dir, name):
    df = entry_mod.queries()[name](spark, sf01_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    pdf = df.toPandas()
    assert len(pdf) == 500  # total assignment over sf0.001 documents
    assert set(pdf.columns) == {"doc_id", "cluster_id", "cluster_size"}


# sha256 of ``json.dumps(oracle_sql(), sort_keys=True)``: the oracle text is
# part of the driver contract and must not change
ORACLE_SQL_SHA256 = "c68ad49b2a31d1d4506bcc77777ed552b89188fc2275efbbe8f20166986dc9d3"


def test_driver_surface_is_pinned():
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert len(queries) == 47
    assert len(oracles) == 43
    assert set(oracles) <= set(queries)
    assert set(queries) - set(oracles) == {
        "ann_cosine_topk_ivf",
        "dedup_embedding_lsh",
        "pipeline_lsh_pairs",
        "pipeline_simhash_pairs",
    }
    digest = hashlib.sha256(json.dumps(oracles, sort_keys=True).encode()).hexdigest()
    assert digest == ORACLE_SQL_SHA256


_UNPICKLE = """
import pickle, sys
for path in sys.argv[1:]:
    with open(path, "rb") as f:
        pickle.load(f)
"""


def test_workers_never_import_entry_module(spark, sf001_dir, tmp_path, monkeypatch):
    """Every function a query hands to ``mapInPandas`` unpickles where only
    the package is importable: a helper defined at module level in
    ``__spark_entry__`` is pickled by reference, and every Python worker
    would then have to import the driver-contract file."""
    recorded = []
    frame_cls = type(spark.range(0))  # the classic or Connect implementation
    original = frame_cls.mapInPandas

    def record(self, func, *args, **kwargs):
        recorded.append(func)
        return original(self, func, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "mapInPandas", record)
    for build in entry_mod.queries().values():
        build(spark, sf001_dir)
    monkeypatch.undo()
    assert len(recorded) >= 10

    pkg = Path(entry_mod.__file__).resolve().parent / "batch_jaro_winkler_spark"
    site = tmp_path / "site"
    site.mkdir()
    (site / "batch_jaro_winkler_spark").symlink_to(pkg)
    paths = []
    for i, func in enumerate(recorded):
        paths.append(tmp_path / f"func{i}.pkl")
        paths[-1].write_bytes(cloudpickle.dumps(func))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = str(site)
    proc = subprocess.run(
        [sys.executable, "-c", _UNPICKLE, *map(str, paths)],
        cwd=tmp_path, env=env, capture_output=True, text=True,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

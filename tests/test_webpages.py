"""read_webpages: path-vs-table routing, schema validation and the opt-in
input checks."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from batch_jaro_winkler_spark.sources import webpages
from batch_jaro_winkler_spark.sources.webpages import read_webpages

_PAGES = [
    ("http://a.example/1", b"<p>one &amp; two</p>", "one & two"),
    ("http://a.example/2", b"<b>three</b>  four", "three four"),
]


def _write(spark, path, rows=_PAGES, schema="url string, html binary, text string"):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(str(path))
    return str(path)


def test_dotted_relative_path_is_read_as_parquet(spark, monkeypatch):
    """A relative file name with two dots ("crawl.2024.parquet") is a
    path, not a catalog.db.table name, when the path exists.  Relative
    paths resolve against the JVM's working directory."""
    cwd = spark.sparkContext._jvm.System.getProperty("user.dir")
    monkeypatch.chdir(cwd)
    name = f"crawl.{uuid.uuid4().hex[:8]}.parquet"
    try:
        _write(spark, os.path.join(cwd, name))
        got = read_webpages(spark, name).select("url", "doc_id").collect()
    finally:
        shutil.rmtree(os.path.join(cwd, name), ignore_errors=True)
    assert sorted(r["url"] for r in got) == [u for u, _, _ in _PAGES]
    assert len({r["doc_id"] for r in got}) == 2


def test_schema_validation(spark, tmp_path):
    no_text = _write(spark, tmp_path / "no_text", [("u", "x")], "url string, lang string")
    with pytest.raises(ValueError, match="missing text column"):
        read_webpages(spark, no_text)
    bad_type = _write(spark, tmp_path / "bad_type", [("t", 3)], "text string, lang int")
    with pytest.raises(ValueError, match="webpages column lang: expected string"):
        read_webpages(spark, bad_type)


def test_check_id_collisions(spark, tmp_path, monkeypatch):
    path = _write(spark, tmp_path / "pages")
    df = read_webpages(spark, path, check_id_collisions=True)
    assert df.count() == 2
    # every url hashing to one doc_id is a collision
    monkeypatch.setattr(webpages.F, "xxhash64", lambda *cols: F.lit(7).cast("long"))
    with pytest.raises(ValueError, match="doc_id collisions"):
        read_webpages(spark, path, check_id_collisions=True)


def test_check_invariant(spark, tmp_path):
    good = _write(spark, tmp_path / "good")
    got = read_webpages(spark, good, extract_from_html=True, check_invariant=True)
    assert sorted(r["text"] for r in got.collect()) == ["one & two", "three four"]
    bad_rows = [_PAGES[0], (*_PAGES[1][:2], "stale text")]
    bad = _write(spark, tmp_path / "bad", bad_rows)
    with pytest.raises(ValueError, match="1 rows violate"):
        read_webpages(spark, bad, extract_from_html=True, check_invariant=True)

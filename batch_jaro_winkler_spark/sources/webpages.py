"""Web-page table source (the BASELINE.json input_hint shape).

Reads the Common-Crawl-style corpus `(url, warc_ts, html, text, lang)` from
Iceberg when an Iceberg catalog is on the classpath, else plain parquet
(this sandbox ships no Iceberg runtime jar — SURVEY.md §7 Iceberg caveat).
Validates the contract, derives a stable numeric ``doc_id`` from the url,
and (optionally) re-extracts text from html to enforce the input_hint
invariant: byte-identical extracted text per url.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = ["read_webpages", "EXPECTED_COLUMNS"]

EXPECTED_COLUMNS = {
    "url": "string",
    "warc_ts": "timestamp",
    "html": "binary",
    "text": "string",
    "lang": "string",
}


def read_webpages(
    spark: SparkSession,
    path_or_table: str,
    extract_from_html: bool = False,
    check_invariant: bool = False,
    check_id_collisions: bool = False,
) -> DataFrame:
    """→ DataFrame[doc_id, url, warc_ts, html, text, lang].

    ``doc_id`` = xxhash64(url): deterministic, join-stable, no window/
    zipWithIndex (a global row-number would serialize a 10^12-row load).
    64-bit birthday math: at n urls expect ≈ n²/2^65 collisions — ~27k at
    n = 10^12, i.e. a 2.7e-9 per-doc merge rate, far below the pipeline's
    own probabilistic miss rates; pass ``check_id_collisions=True`` to
    measure it exactly (one count-distinct pass: distinct urls vs distinct
    doc_ids) and fail fast if any collision exists.  Deployments needing
    zero collisions should carry the url itself as the join key.
    ``extract_from_html`` recomputes text from html (pipeline.extract_text);
    ``check_invariant`` fails fast if any row's stored text differs from
    the re-extraction (the input_hint per-row invariant).
    """
    # a dotted name is an Iceberg table (catalog.db.table) unless such a
    # path exists: "crawl.2024.parquet" is a file
    if (
        path_or_table.count(".") >= 2
        and "/" not in path_or_table
        and not os.path.exists(path_or_table)
    ):
        df = spark.read.format("iceberg").load(path_or_table)
    else:
        df = spark.read.parquet(path_or_table)

    have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    # hard requirement: text; full input_hint columns type-checked when
    # present (the driver's testdata table is (doc_id, text, lang, ...))
    if "text" not in have:
        raise ValueError(f"webpages source missing text column; schema={have}")
    for col, expected in EXPECTED_COLUMNS.items():
        if col in have and not have[col].startswith(expected):
            raise ValueError(
                f"webpages column {col}: expected {expected}, got {have[col]}"
            )

    if "url" in df.columns:
        df = df.withColumn("doc_id", F.xxhash64("url"))
        if check_id_collisions:
            row = df.agg(
                F.countDistinct("url").alias("u"),
                F.countDistinct("doc_id").alias("d"),
            ).collect()[0]
            if row["u"] != row["d"]:
                raise ValueError(
                    f"doc_id collisions: {row['u']} distinct urls hash to "
                    f"{row['d']} distinct doc_ids"
                )
    elif "doc_id" not in df.columns:
        df = df.withColumn("doc_id", F.xxhash64("text"))

    if extract_from_html and "html" in df.columns:
        from batch_jaro_winkler_spark.pipeline import extract_text

        extracted = extract_text(df.drop("text") if "text" in df.columns else df)
        if check_invariant and "text" in df.columns:
            bad = (
                extracted.select("doc_id", F.col("text").alias("t2"))
                .join(df.select("doc_id", "text"), "doc_id")
                .where(F.col("t2") != F.col("text"))
                .count()
            )
            if bad:
                raise ValueError(
                    f"{bad} rows violate the byte-identical text-per-url invariant"
                )
        df = extracted
    return df

"""The end-to-end near-duplicate detection + clustering pipeline
(BASELINE.json north_rule), as checkpointed stages:

  documents
    → signatures     normalize + MinHash + LSH band hashes + SimHash +
                     substring fingerprints, one Arrow pass
                     [no shuffle; carries `norm`, `fps`, `fp_pos`]
    → jw_edges       LSH banding + capped pair-gen + batched Jaro-Winkler
                     verification               [1 agg + joins + narrow map]
    → sub_edges      mod-sampled fingerprint pairs + slice verification
                                                [1 shuffle + verify]
    → clusters       large-star/small-star CC over all edges

``run_incremental`` builds the same edge stages (``_edges``) for a batch
of new documents, limited to pairs that touch a new doc, and folds the
result into the state.

Every stage writes an atomic parquet+manifest checkpoint keyed by the
config hash (sources/catalog.py), so a killed run resumes from the last
completed stage and a config change invalidates exactly the affected
suffix of the DAG.  Each computed stage is ONE Spark job: the parquet write
of a lazy localCheckpoint computes the stage, fills the checkpoint blocks
downstream stages read (the lineage cut) and makes the stage durable
before the next one starts.  A run never reads back the parquet it just
wrote.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from batch_jaro_winkler_spark.operators.config import DedupConfig
from batch_jaro_winkler_spark.operators.connected_components import connected_components
from batch_jaro_winkler_spark.operators.fingerprint_dedup import (
    signature_fingerprints,
    substring_edges,
)
from batch_jaro_winkler_spark.operators.lsh import band_buckets, candidate_pairs
from batch_jaro_winkler_spark.operators.score_pairs import verify_pairs
from batch_jaro_winkler_spark.operators.signatures import compute_signatures
from batch_jaro_winkler_spark.sources.catalog import Catalog

__all__ = ["DedupPipeline", "extract_text"]


def extract_text(docs: DataFrame) -> DataFrame:
    """docs[html] → docs with ``text`` (re)written by deterministic
    html→text extraction (strip tags, decode entities, collapse
    whitespace) with built-in functions only.  Satisfies the
    input_hint per-row invariant: byte-identical extracted text per url for
    identical html bytes — it is a pure column expression."""
    raw = F.col("html").cast("string")
    no_tags = F.regexp_replace(raw, "<[^>]*>", " ")
    # decode &amp; LAST: decoding it first would double-unescape nested
    # entities ("&amp;lt;" must yield "&lt;", not "<")
    decoded = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(no_tags, "&lt;", "<"), "&gt;", ">"
        ),
        "&amp;",
        "&",
    )
    return docs.withColumn("text", F.trim(F.regexp_replace(decoded, "\\s+", " ")))


@dataclass
class StageResult:
    name: str
    rows: int
    cached: bool
    wall_sec: float


class DedupPipeline:
    def __init__(self, spark: SparkSession, cfg: DedupConfig, checkpoint_root: str):
        self.spark = spark
        self.cfg = cfg
        self.catalog = Catalog(spark, checkpoint_root)
        self.metrics: list[StageResult] = []

    def _stage(self, name: str, compute) -> DataFrame:
        """Run (or resume) one checkpointed stage.

        A stage whose manifest matches the config hash is read back from
        parquet (resume).  Otherwise the stage's frame is cut with a LAZY
        localCheckpoint and written by :meth:`Catalog.write`: that one job
        computes the stage, fills the checkpoint blocks and writes the
        parquet + manifest (manifest last).  The stage is durable when this
        returns, and downstream stages read the in-memory blocks instead of
        re-decoding parquet."""
        t0 = time.time()
        h = self.cfg.config_hash()
        if self.catalog.exists(name, h):
            df = self.catalog.read(name)
            rows = self.catalog.manifest(name)["rows"]
            self.metrics.append(
                StageResult(name, rows, True, round(time.time() - t0, 3))
            )
            return df
        df = compute().localCheckpoint(eager=False)
        manifest = self.catalog.write(name, df, h)
        self.metrics.append(
            StageResult(name, manifest["rows"], False, round(time.time() - t0, 3))
        )
        return df

    def _edges(
        self, sigs: DataFrame, old: DataFrame | None = None, tag: str = ""
    ) -> DataFrame:
        """The verified (a, b) edges of the ``jw_edges{tag}`` and
        ``sub_edges{tag}`` stages over ``sigs``.  Given ``old`` (the existing
        signature table), ``sigs`` are an increment's new docs: the old
        buckets and fingerprints a new doc touches join theirs (semi-joins,
        so the old table is never reshuffled in full), old texts are
        attached, and ``keep`` drops old-old pairs before either verify.
        Pair-gen is built inside the stage lambdas: building
        ``candidate_pairs`` runs Spark jobs, which a resumed stage must not
        pay."""
        cfg = self.cfg
        buckets = band_buckets(sigs)
        fps = signature_fingerprints(sigs)
        docs = sigs.select("doc_id", "norm")

        def keep(pairs: DataFrame) -> DataFrame:
            return pairs

        if old is not None:
            buckets = buckets.union(
                band_buckets(old).join(
                    buckets.select("band_id", "band_hash").distinct(),
                    ["band_id", "band_hash"],
                    "left_semi",
                )
            )
            fps = (
                signature_fingerprints(old)
                .join(fps.select("fp").distinct(), "fp", "left_semi")
                .unionByName(fps)
            )
            docs = old.select("doc_id", "norm").unionByName(docs)

            def keep(pairs: DataFrame) -> DataFrame:
                # pairs with a new side, united BY NAME: a USING semi-join
                # moves the key column to the front
                on_a, on_b = (
                    pairs.join(sigs.select(F.col("doc_id").alias(c)), c, "left_semi")
                    for c in "ab"
                )
                return on_a.unionByName(on_b).distinct()

        # the pair list folds into the verify stage (a separate checkpoint
        # cost ~5 s of write->read barrier at any corpus size) behind a lazy
        # localCheckpoint, so AQE sizes the verify joins from the
        # materialized pair count (optimization round 7: 4.3-4.5 s vs
        # 4.6-7.5 s fused, 50k docs); jw_text is the prefix of `norm`.
        # Submitting the two stages from parallel threads was tried and
        # reverted: two mapInPandas-heavy chains churn Python workers and
        # measured net-slower at both 2 and 8 cores.
        jw_edges = self._stage(
            f"jw_edges{tag}",
            lambda: verify_pairs(
                keep(candidate_pairs(buckets, cfg))
                .select("a", "b")
                .localCheckpoint(eager=False),
                docs.withColumn("jw_text", F.substring(F.col("norm"), 1, cfg.max_jw_len)),
                cfg, "doc_id", "jw_text",
            ),
        )
        sub_edges = self._stage(
            f"sub_edges{tag}",
            lambda: substring_edges(
                docs, cfg, "doc_id", "norm", pre_normalized=True,
                fps=fps, pair_filter=keep,
            ).select("a", "b"),
        )
        return jw_edges.select("a", "b").union(sub_edges)

    def run(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """docs[id_col, text_col, ...] → (doc_id, cluster_id) total assignment."""
        cfg = self.cfg
        docs = docs.select(F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text"))
        # fan the map stages out to cluster width: small local inputs arrive
        # as one split; at web scale the source is already thousands of
        # partitions and this coalesces nothing (cheap round-robin shuffle)
        from batch_jaro_winkler_spark.operators.partitioning import widen_scan

        docs = widen_scan(docs)

        # normalization is FUSED into the signatures stage (include_norm):
        # a separate normalize checkpoint cost a write→read barrier plus a
        # second Arrow round-trip of the corpus through Python.  The
        # checkpoint carries the normalized text (`norm`) and its substring
        # fingerprints (`fps`, `fp_pos`) for every later stage.
        signatures = self._stage(
            "signatures",
            lambda: compute_signatures(
                docs, cfg, "doc_id", "text", include_norm=True
            ),
        )
        edges = self._edges(signatures)
        # all_nodes from the signatures checkpoint, not the raw input:
        # compute_signatures emits exactly one row per input doc (empty
        # docs included, n_tokens=0), and reading doc_id off the stage's
        # localCheckpoint avoids re-scanning + re-repartitioning the
        # whole corpus a second time inside the final stage
        clusters = self._stage(
            "clusters",
            lambda: connected_components(
                edges, cfg, all_nodes=signatures.select("doc_id")
            ),
        )
        return clusters

    # ------------------------------------------------------------------
    # incremental mode: new documents against the existing state
    # ------------------------------------------------------------------

    def run_incremental(self, new_docs: DataFrame) -> DataFrame:
        """Assign cluster ids to ``new_docs[doc_id, text]`` against an
        existing run's state without recomputing old signatures (the
        daily-crawl shape).  An increment runs the full run's stage graph,
        limited to pairs that touch a new doc:

        1. sign the new docs (``signatures_{inc}``);
        2. :meth:`_edges` with the existing signature table as ``old``;
        3. connected components over the existing assignments (as edges)
           and the new edges; cluster ids stay min(doc_id), so old ids
           change only when clusters merge;
        4. fold: rewrite ``clusters`` (two longs per doc: a merge can
           relabel any old row) and register the increment's signatures as
           a part of the logical signatures table (``Catalog.add_part``, a
           manifest-level append: O(increment) writes, base data untouched).

        Idempotency: docs already in the signature table are anti-joined
        out, and a batch that repeats a doc_id is rejected (ValueError), so
        the increment's stage key — row count and XOR of the rows'
        (doc_id, text) hashes — names a set of distinct rows, and
        resubmitting changed text never reuses stale checkpoints.  add_part
        has set semantics and the part list lives in the table's manifest,
        so neither a crashed or double-invoked fold nor a killed compaction
        can duplicate rows.
        """
        cfg = self.cfg
        if not self.catalog.exists("signatures", cfg.config_hash()):
            raise ValueError(
                "run_incremental needs a completed run's checkpoints with "
                "the same config (signatures missing or config changed)"
            )
        old_sigs = self.catalog.read_union("signatures")
        old_clusters = self.catalog.read("clusters")

        new_docs = new_docs.select(F.col("doc_id").cast("long"), "text")
        # widen BEFORE the anti-join: widen_scan's partition-count probe on
        # a plan with an exchange would run that exchange's stages
        from batch_jaro_winkler_spark.operators.partitioning import widen_scan

        new_docs = widen_scan(new_docs)
        # drop docs already folded in (rerun-after-crash / double submit)
        new_docs = new_docs.join(old_sigs.select("doc_id"), "doc_id", "left_anti")

        # increment-specific stage names: a second increment must not reuse
        # the previous increment's checkpoints (config hash alone cannot
        # distinguish inputs); the key covers CONTENT, not just ids, so the
        # same ids with changed text invalidate.  XOR cancels repeated
        # rows, so the same aggregate counts distinct ids and a repeat is
        # refused
        tok_row = new_docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("ids"),
            F.coalesce(F.expr("bit_xor(xxhash64(doc_id, text))"), F.lit(0)).alias("h"),
        ).collect()[0]
        if tok_row["ids"] != tok_row["n"]:
            raise ValueError(
                f"run_incremental: the batch repeats a doc_id "
                f"({tok_row['n']} new rows, {tok_row['ids']} distinct ids)"
            )
        if tok_row["n"] == 0:
            return old_clusters
        inc = f"inc_{tok_row['n']}_{tok_row['h'] & 0xFFFFFFFF:08x}"

        new_sigs = self._stage(
            f"signatures_{inc}",
            lambda: compute_signatures(
                new_docs, cfg, "doc_id", "text", include_norm=True
            ),
        )
        inc_edges = self._edges(new_sigs, old_sigs, f"_{inc}")

        # existing assignments enter CC as (doc, cluster) edges so merges
        # across old clusters propagate; the new nodes come off the
        # increment's signature checkpoint, as in the full run
        old_edges = old_clusters.select(
            F.col("doc_id").alias("a"), F.col("cluster_id").alias("b")
        ).where(F.col("a") != F.col("b"))
        all_nodes = old_clusters.select("doc_id").union(new_sigs.select("doc_id"))
        clusters = self._stage(
            f"clusters_{inc}",
            lambda: connected_components(
                inc_edges.union(old_edges), cfg, all_nodes=all_nodes
            ),
        )

        # fold: clusters first (so a crash between the two writes leaves a
        # state where rerunning re-processes the docs rather than returning
        # a stale assignment), then manifest-append the signatures part
        self.catalog.write("clusters", clusters, cfg.config_hash())
        self.catalog.add_part("signatures", f"signatures_{inc}")
        # bound the logical table's scan fan-in: after many daily folds the
        # base+parts union would otherwise grow one parquet scan per
        # increment forever
        self.catalog.compact("signatures")
        return clusters

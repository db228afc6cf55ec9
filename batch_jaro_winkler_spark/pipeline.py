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
        # a separate normalize checkpoint cost a full write→read barrier
        # plus a second Arrow round-trip of the whole corpus through
        # Python, for a stage that is a pure narrow map.  The signatures
        # checkpoint carries the normalized text once (`norm`; jw_text is
        # its prefix, derived by substring below instead of stored twice)
        # and every downstream stage selects from it, and the substring
        # fingerprints of `norm` ride in the same row (`fps`, `fp_pos`).
        signatures = self._stage(
            "signatures",
            lambda: compute_signatures(
                docs, cfg, "doc_id", "text", include_norm=True
            ),
        )
        norm_docs = signatures.select("doc_id", "norm")
        sig_jw = signatures.withColumn(
            "jw_text", F.substring(F.col("norm"), 1, cfg.max_jw_len)
        )
        # candidate generation folds into the verification stage: the pair
        # list is intermediate (nothing else consumes it), so a separate
        # checkpoint bought resume granularity at the price of one extra
        # write->read barrier per run — measured ~5 s of size-independent
        # cost at any corpus size.  (Thread-parallel submission of the two
        # independent chains was tried and reverted: interleaving two
        # mapInPandas-heavy chains churns Python workers and measured
        # net-SLOWER at both 2 and 8 cores.)
        # lazy localCheckpoint on the pair list (optimization round 7):
        # cutting the plan here lets AQE size the verify joins from the
        # MATERIALIZED pair count instead of estimating through the
        # banding/agg subtree — measured 4.3-4.5 s vs 4.6-7.5 s for the
        # fused chain on the 50k-doc corpus, and stabler
        jw_edges = self._stage(
            "jw_edges",
            lambda: verify_pairs(
                candidate_pairs(band_buckets(signatures), cfg)
                .select("a", "b")
                .localCheckpoint(eager=False),
                sig_jw, cfg, "doc_id", "jw_text",
            ),
        )
        sub_edges = self._stage(
            "sub_edges",
            lambda: substring_edges(
                norm_docs, cfg, "doc_id", "norm", pre_normalized=True,
                fps=signature_fingerprints(signatures),
            ).select("a", "b"),
        )
        edges = jw_edges.select("a", "b").union(sub_edges)
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
        existing run's state WITHOUT recomputing old signatures — the
        daily-crawl shape:

        1. signatures for the new docs only (narrow map);
        2. LSH buckets of new docs joined against the existing signature
           table, restricted to band hashes the new docs actually touch
           (a semi-join — the old table is scanned once, never reshuffled
           in full);
        3. Jaro-Winkler verification of new-new and new-old pairs;
        4. substring links: the new docs' fingerprints (signature columns)
           semi-join the old signature rows' fingerprints on touched
           values (a column-pruned scan, never reshuffled in full), and
           new-new and new-old seeds are slice-verified — so verbatim
           >=200-char duplication of OLD content links as in a full run;
        5. connected components over (existing assignments as edges) ∪
           (new edges) → updated total assignment; cluster ids stay
           min(doc_id), so existing ids only change when clusters merge;
        6. the fold is a manifest-level APPEND: the increment's signature
           checkpoint is registered as a part of the logical signatures
           table (catalog.add_part — the Iceberg-snapshot story), so the
           base signature data is never rewritten and increment write cost
           is O(increment), not O(corpus).  Only the (doc_id, cluster_id)
           assignment — two longs per doc — is rewritten, because merges
           can relabel arbitrary old rows.  The increment state is one
           logical table (signatures and its parts) plus ``clusters``.

        Idempotency: docs already in the signature table are anti-joined
        out, the increment stage key hashes (doc_id, text) so resubmitting
        changed text never reuses stale checkpoints, and add_part has set
        semantics — a crashed or double-invoked fold cannot duplicate rows.
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
        # same ids with changed text invalidate
        tok_row = new_docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(doc_id, text))"), F.lit(0)).alias("h"),
        ).collect()[0]
        if tok_row["n"] == 0:
            return old_clusters
        inc = f"inc_{tok_row['n']}_{tok_row['h'] & 0xFFFFFFFF:08x}"

        # normalization fused into the increment's signatures stage, same
        # as the full run: the checkpoint carries `norm` and its
        # fingerprints, jw_text derives
        new_sigs = self._stage(
            f"signatures_{inc}",
            lambda: compute_signatures(
                new_docs, cfg, "doc_id", "text", include_norm=True
            ),
        )
        norm_new = new_sigs.select("doc_id", "norm")

        def touching_new(pairs: DataFrame) -> DataFrame:
            """pairs with at least one side among the new docs."""
            # a USING semi-join moves the key column to the FRONT, so a
            # positional union of the two branches would swap (a, b) —
            # union BY NAME, always
            on_a, on_b = (
                pairs.join(new_sigs.select(F.col("doc_id").alias(c)), c, "left_semi")
                for c in "ab"
            )
            return on_a.unionByName(on_b).distinct()

        def _pairs():
            new_buckets = band_buckets(new_sigs)
            # only old buckets whose (band, hash) a new doc touches matter
            old_buckets = band_buckets(old_sigs).join(
                new_buckets.select("band_id", "band_hash").distinct(),
                ["band_id", "band_hash"],
                "left_semi",
            )
            pairs = candidate_pairs(new_buckets.union(old_buckets), cfg)
            # drop old-old pairs resurfacing through shared buckets
            return touching_new(pairs)

        jw_of = F.substring(F.col("norm"), 1, cfg.max_jw_len).alias("jw_text")
        all_sigs = old_sigs.select("doc_id", jw_of).union(
            new_sigs.select("doc_id", jw_of)
        )
        # pairs fold into the verify stage behind a lazy localCheckpoint,
        # as in the full run
        new_edges = self._stage(
            f"jw_edges_{inc}",
            lambda: verify_pairs(
                _pairs().select("a", "b").localCheckpoint(eager=False),
                all_sigs, cfg, "doc_id", "jw_text",
            ),
        )

        # substring stage: new-doc fingerprints vs the old signature rows'
        # fingerprints, semi-joined on the values the new docs touch
        new_fps = signature_fingerprints(new_sigs)
        touched_old = signature_fingerprints(old_sigs).join(
            new_fps.select("fp").distinct(), "fp", "left_semi"
        )
        all_norm = old_sigs.select("doc_id", "norm").unionByName(norm_new)
        sub_new = self._stage(
            f"sub_edges_{inc}",
            lambda: substring_edges(
                all_norm, cfg, "doc_id", "norm", pre_normalized=True,
                fps=touched_old.unionByName(new_fps),
                pair_filter=touching_new,
            ).select("a", "b"),
        )
        inc_edges = new_edges.select("a", "b").union(sub_new)

        # existing assignments enter CC as (doc, cluster) edges so merges
        # across old clusters propagate
        old_edges = old_clusters.select(
            F.col("doc_id").alias("a"), F.col("cluster_id").alias("b")
        ).where(F.col("a") != F.col("b"))
        all_nodes = old_clusters.select("doc_id").union(new_docs.select("doc_id"))
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

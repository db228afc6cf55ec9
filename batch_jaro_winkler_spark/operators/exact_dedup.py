"""Exact deduplication: one sha2-256 hash window over the full text.

Pure built-in plan: project → sha2 → min(doc_id) over a window
partitioned by the hash.  At 100 TB this is one shuffle of (hash, doc_id)
pairs only — the text column never moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["exact_dup_groups"]


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """docs[doc_id, text] → (doc_id, rep_id, text_hash): every doc mapped
    to the minimum doc_id sharing an identical text (rep_id == doc_id for
    uniques/representatives).

    sha2-256 (not xxhash64) for the *grouping* hash so a 100 TB corpus can't
    produce a false-merge collision; xxhash64 is fine for shuffles, not for
    dedup-by-hash correctness.

    One window over text_hash instead of groupBy + self-join (optimization
    round 7, guide §2.4): the join form scanned + sha-hashed the corpus
    twice and shuffled twice (agg + join); the window form is one scan and
    one exchange — at 100 TB the old join's reps side outgrows broadcast
    and degrades to a second full sort-merge shuffle."""
    hashed = docs.select("doc_id", F.sha2(F.col("text"), 256).alias("text_hash"))
    w = Window.partitionBy("text_hash")
    return hashed.select(
        "doc_id", F.min("doc_id").over(w).alias("rep_id"), "text_hash"
    )


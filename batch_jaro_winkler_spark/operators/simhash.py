"""SimHash near-dup candidate pairs via the pigeonhole block trick.

To find all pairs within Hamming distance d of a 64-bit SimHash, split the
hash into d+1 blocks: any pair within distance d agrees exactly on at least
one block (pigeonhole).  So: explode each doc into d+1 (block_id, block
value) keys, equi-join on the block, verify true Hamming distance with a
JVM-side ``bit_count(xor)`` — no Python, one shuffle, no quadratic blowup
except within identical-block buckets (which the exact verify then prunes).

This is the classic Manku/Jain/Sarma WWW'07 design (PAPERS.md) expressed as
posexplode + self-equi-join + bit_count filter.

Unlike the other pair generators this one does not go through
``lsh.bucket_pairs``: its output is the exact "hamming <= d" relation
(checked against brute force), and chaining a hot block bucket would drop
true pairs.  Identical-block mega-buckets therefore still join
quadratically; bounding them needs a different design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["simhash_blocks", "simhash_pairs"]


def simhash_blocks(signatures: DataFrame, max_hamming: int) -> DataFrame:
    """(doc_id, simhash) → (block_id, block_val, doc_id, simhash)."""
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    blocks = F.array(
        *[
            # full-width block (max_hamming=0): the mask constant would
            # overflow a long literal and is a no-op anyway
            F.shiftrightunsigned(F.col("simhash"), i * width)
            if width >= 64
            else F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            for i in range(n_blocks)
        ]
    )
    return signatures.select(
        "doc_id", "simhash", F.posexplode(blocks).alias("block_id", "block_val")
    )


def simhash_pairs(signatures: DataFrame, max_hamming: int = 3) -> DataFrame:
    """signatures[doc_id, simhash] → (a, b, hamming) with hamming <= max.

    Self-equi-join on (block_id, block_val); the a<b predicate halves the
    join output and the bit_count filter runs JVM-side before any shuffle
    back."""
    blocks = simhash_blocks(signatures, max_hamming)
    left = blocks.select(
        "block_id", "block_val", F.col("doc_id").alias("a"), F.col("simhash").alias("sim_a")
    )
    right = blocks.select(
        "block_id", "block_val", F.col("doc_id").alias("b"), F.col("simhash").alias("sim_b")
    )
    joined = left.join(right, ["block_id", "block_val"]).where(F.col("a") < F.col("b"))
    with_ham = joined.withColumn(
        "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    ).where(F.col("hamming") <= max_hamming)
    return with_ham.groupBy("a", "b").agg(F.min("hamming").alias("hamming"))

"""Deterministic hashing Column functions with cross-engine (DuckDB) twins.

Two hash families coexist by design:

* **md5_u60** — a 60-bit hash from the md5 hex prefix.  Slowish but
  expressible identically in Spark and DuckDB SQL, so every operator built
  on it has an exact external oracle (`__spark_entry__.oracle_sql`).  Used
  by the *verifiable* variants of minhash/simhash/fingerprint queries at
  test scale.
* **xxhash64 / numpy multiply-shift** — the fast path the pipeline uses at
  100 TB scale (JVM xxhash64 for columns, uint64 wraparound hashing inside
  Arrow UDFs).  Verified by recall tests against planted ground truth, not
  by SQL oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

__all__ = [
    "md5_u60",
    "md5_u60_sql",
    "minhash_md5",
    "minhash_md5_sql",
    "simhash_md5",
    "simhash_md5_sql",
]


def md5_u60(col: Column, seed: int | None = None) -> Column:
    """First 15 hex chars of md5 as a non-negative bigint (60 bits).
    With ``seed``, hashes '<seed>|<value>'."""
    if seed is not None:
        col = F.concat(F.lit(f"{seed}|"), col)
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def md5_u60_sql(expr: str, seed: int | None = None) -> str:
    if seed is not None:
        expr = f"'{seed}|' || {expr}"
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def minhash_md5(shingles: Column, k: int) -> Column:
    """k-permutation MinHash signature (array<bigint>) of a shingle array,
    permutation i = md5 seeded with i.  Empty shingle set → nulls.
    SQL-oracle-able; for the scale path see operators/signatures.py."""
    return F.array(
        *[F.array_min(F.transform(shingles, lambda s, i=i: md5_u60(s, i))) for i in range(k)]
    )


def minhash_md5_sql(shingles_expr: str, k: int) -> str:
    mins = [
        f"list_min(list_transform({shingles_expr}, s -> {md5_u60_sql('s', i)}))"
        for i in range(k)
    ]
    return "[" + ", ".join(mins) + "]"


_SIMHASH_BITS = 32  # simhash_md5 / simhash_md5_sql signature width


def simhash_md5(tok: Column) -> Column:
    """32-bit SimHash over a token array: for each bit b, sign of the sum
    of (+1 if bit set else -1) across token hashes; packs to a bigint.
    Expressed entirely with built-in functions (aggregate over bit tests)."""

    def _voter(b: int):
        def merge(acc, s):
            bit = F.shiftright(md5_u60(s), b).bitwiseAND(F.lit(1))
            return acc + F.when(bit == 1, 1).otherwise(-1)

        return merge

    bit_cols = []
    for b in range(_SIMHASH_BITS):
        vote = F.aggregate(tok, F.lit(0).cast("long"), _voter(b))
        bit_cols.append(
            F.when(vote > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out + c
    return out


def simhash_md5_sql(tokens_expr: str) -> str:
    terms = []
    for b in range(_SIMHASH_BITS):
        vote = (
            f"list_sum(list_transform({tokens_expr}, "
            f"s -> CASE WHEN ({md5_u60_sql('s')} >> {b}) & 1 = 1 THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN {vote} > 0 THEN {2 ** b}::BIGINT ELSE 0::BIGINT END)")
    return "(" + " + ".join(terms) + ")"

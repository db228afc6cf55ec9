"""Text-analysis Column functions (JVM-side, whole-stage-codegen friendly).

Every helper has two faces built from the same constants: a PySpark Column
expression (used by operators/queries) and an ANSI-SQL string generator
(used by ``__spark_entry__.oracle_sql`` so DuckDB computes the identical
value).  Keeping both derived from one place is what makes the driver's
value-hash comparison stable.

No Python UDFs here — normalization, tokenization, shingling, quality
scoring, and language ID are all built-in-function compositions, so they
stay inside Tungsten codegen at 100 TB scale.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

__all__ = [
    "normalize_text",
    "normalize_sql",
    "tokens",
    "tokens_sql",
    "word_shingles",
    "word_shingles_sql",
    "quality_metrics",
    "lang_guess",
    "lang_guess_sql",
    "STOPWORDS",
]

_NORM_PATTERN = "[^a-z0-9\\u00c0-\\u024f\\u4e00-\\u9fff]+"


def normalize_text(col: Column) -> Column:
    """lower → collapse runs of non-word chars to single spaces → trim.

    JVM expression — used by oracle-checked queries (identical to
    ``normalize_sql``).  The dedup pipeline normalizes the same pattern in
    pandas instead (:func:`normalize_pandas`): java.util.regex is ~40x
    slower than CPython's re on this class, and normalization dominates the
    signature stage otherwise."""
    return F.trim(F.regexp_replace(F.lower(col), _NORM_PATTERN, " "))


_PY_NORM = None


def normalize_pandas(s):
    """pandas-Series twin of :func:`normalize_text` (same pattern, same
    semantics, byte-identical output) for use inside Arrow UDFs."""
    import re

    global _PY_NORM
    if _PY_NORM is None:
        _PY_NORM = re.compile(_NORM_PATTERN)
    return s.str.lower().str.replace(_PY_NORM, " ", regex=True).str.strip()


def normalize_sql(expr: str) -> str:
    return (
        f"trim(regexp_replace(lower({expr}), '{_NORM_PATTERN}', ' ', 'g'))"
    )


def tokens(col: Column) -> Column:
    """Whitespace tokens of normalized text; empty string → empty array."""
    norm = normalize_text(col)
    return F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )


def tokens_sql(expr: str) -> str:
    n = normalize_sql(expr)
    return f"CASE WHEN {n} = '' THEN []::VARCHAR[] ELSE string_split({n}, ' ') END"


def word_shingles(tok: Column, k: int) -> Column:
    """k-word shingles as strings; fewer than k tokens → empty array.

    The DataFrame-level analog of the reference's candidate pre-processing:
    shingling is what turns a web document into the 'candidate set' that
    MinHash/LSH batches, the way the reference batches word candidates.
    """
    return F.when(
        F.size(tok) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(tok) - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", F.slice(tok, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_shingles_sql(tokens_expr: str, k: int) -> str:
    return (
        f"CASE WHEN len({tokens_expr}) >= {k} THEN "
        f"list_transform(generate_series(1, len({tokens_expr}) - {k - 1}), "
        f"i -> array_to_string(list_slice({tokens_expr}, i, i + {k - 1}), ' ')) "
        f"ELSE []::VARCHAR[] END"
    )


# small per-language stopword marker sets for the n-gram/stopword heuristic
# language ID (kept tiny and regex-expressible on both engines)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with"],
    "es": ["el", "la", "de", "que", "los", "las", "una", "por", "como"],
    "fr": ["le", "la", "les", "des", "une", "est", "dans", "pour", "que"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von"],
}


def _stop_pattern(lang: str) -> str:
    return r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"


def stopword_hits(col: Column, lang: str) -> Column:
    return F.size(F.regexp_extract_all(normalize_text(col), F.lit(_stop_pattern(lang)), 0))


def stopword_hits_sql(expr: str, lang: str) -> str:
    return f"length(regexp_extract_all({normalize_sql(expr)}, '{_stop_pattern(lang)}'))"


def quality_metrics(col: Column) -> dict[str, Column]:
    """Document-quality signals for training-data filtering: length,
    mean token length, alpha ratio, stopword ratio (en), all JVM-side."""
    tok = tokens(col)
    n_tok = F.size(tok)
    n_char = F.length(col)
    alpha = F.length(F.regexp_replace(col, "[^A-Za-z]", ""))
    return {
        "n_chars": n_char,
        "n_tokens": n_tok,
        "mean_token_len": F.when(
            n_tok > 0, F.length(F.concat_ws("", tok)) / n_tok
        ).otherwise(F.lit(0.0)),
        "alpha_ratio": F.when(n_char > 0, alpha / n_char).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(
            n_tok > 0, stopword_hits(col, "en") / n_tok
        ).otherwise(F.lit(0.0)),
    }


def quality_metrics_sql(expr: str) -> dict[str, str]:
    tok = tokens_sql(expr)
    stop = stopword_hits_sql(expr, "en")
    return {
        "n_chars": f"length({expr})",
        "n_tokens": f"len({tok})",
        "mean_token_len": (
            f"CASE WHEN len({tok}) > 0 THEN "
            f"length(array_to_string({tok}, '')) * 1.0 / len({tok}) ELSE 0.0 END"
        ),
        "alpha_ratio": (
            f"CASE WHEN length({expr}) > 0 THEN "
            f"length(regexp_replace({expr}, '[^A-Za-z]', '', 'g')) * 1.0 / length({expr}) "
            f"ELSE 0.0 END"
        ),
        "stopword_ratio": (
            f"CASE WHEN len({tok}) > 0 THEN {stop} * 1.0 / len({tok}) ELSE 0.0 END"
        ),
    }


def lang_guess(col: Column) -> Column:
    """Stopword-voting language ID over {en,es,fr,de}; ties and no-hits
    resolve to 'und'.  Deterministic argmax: strictly-greater chain in a
    fixed language order."""
    hits = {lang: stopword_hits(col, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    for lang in reversed(list(STOPWORDS)):  # earlier langs win ties
        expr = F.when((hits[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def lang_guess_sql(expr: str) -> str:
    hits = {lang: stopword_hits_sql(expr, lang) for lang in STOPWORDS}
    best = "greatest(" + ", ".join(hits.values()) + ")"
    out = "'und'"
    for lang in reversed(list(STOPWORDS)):
        out = (
            f"CASE WHEN {hits[lang]} = {best} AND {best} > 0 "
            f"THEN '{lang}' ELSE {out} END"
        )
    return out

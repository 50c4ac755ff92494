"""Text-analysis operators: token counting and document fingerprinting.

Pure Catalyst column expressions (regexp/length/shingle hashes — JVM
codegen, no Python in the hot path), each with an exact SQL oracle in
the query registry (``token_stats``, ``doc_fingerprint``).
``token_stats`` is also the Catalyst twin of the vectorized token
counter in ``functions/vectorized.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .text_dedup import h32, shingles

TOKEN_RE = "[A-Za-z0-9]+"


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_chars, avg_token_len)."""
    n_tok = F.regexp_count(F.col(text_col), F.lit(TOKEN_RE))
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.length(text_col).cast("long").alias("n_chars"),
        F.round(
            F.length(F.regexp_replace(text_col, "[^A-Za-z0-9]", ""))
            / F.greatest(n_tok, F.lit(1)),
            6,
        ).alias("avg_token_len"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Rolling-hash document fingerprint: min shingle hash (MinHash K=1).
    (doc_id, fingerprint)."""
    sh = shingles(docs, "doc_id", text_col).withColumn("h", h32(F.col("sh")))
    return sh.groupBy("doc_id").agg(F.min("h").alias("fingerprint"))

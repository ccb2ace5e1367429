"""Tokenization — the single source of truth shared by the Spark engine and
the DuckDB oracle SQL.

Definition: lowercase, split on runs of anything outside [a-z0-9], drop empty
tokens. Entirely JVM-side (split/explode/filter stay inside whole-stage
codegen); no Python crosses the hot path. The reference has no tokenizer — its
keys arrive pre-encoded (`src/lib.rs:31`); this is the stage that produces our
(term, doc_id, tf) key stream, i.e. the input to the Sorter analog.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Shared between F.split (Java regex) and DuckDB regexp_split_to_array (RE2) —
# deliberately restricted to syntax both engines treat identically.
TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokens_col(text: Column | str) -> Column:
    """array<string> of tokens for one text column (empties removed)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda t: t != "")


def terms(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, term) one row per token occurrence (duplicates preserved)."""
    return docs.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("term"))


def term_doc_tf(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(term, doc_id, tf) — the Sorter's input tuple stream.

    groupBy does map-side partial aggregation (grenad's merge-on-spill,
    reference src/sorter.rs:541-561, for free from Spark's partial agg).
    """
    return (
        terms(docs, id_col, text_col)
        .groupBy("term", id_col)
        .agg(F.count("*").cast("int").alias("tf"))
    )


def sql_tokens_cte(table: str = "documents") -> str:
    """DuckDB CTE producing the identical (doc_id, term) stream for oracles."""
    return (
        f"SELECT doc_id, unnest(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}')) AS term "
        f"FROM {table}"
    )


def sql_term_doc_tf(table: str = "documents") -> str:
    """DuckDB CTE for (term, doc_id, tf) matching term_doc_tf()."""
    return (
        f"SELECT term, doc_id, count(*)::INT AS tf FROM ({sql_tokens_cte(table)}) "
        f"WHERE term <> '' GROUP BY term, doc_id"
    )

"""Exact deduplication (hash-groupBy) — the degenerate J=1 tier.

Pure Column expressions: content hash = sha2 of the normalized text (or
xxhash64 for the cheap in-flight key). GroupBy the hash; keep the min-id
representative per group. One shuffle on a short key, no text comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def content_hash(col="norm_text") -> "F.Column":
    return F.sha2(F.col(col) if isinstance(col, str) else col, 256)


def exact_dup_groups(
    docs: DataFrame, id_col: str = "url", text_col: str = "norm_text"
) -> DataFrame:
    """(content_sha, group_size, rep) for groups with >= 2 members."""
    return (
        docs.select(content_hash(text_col).alias("content_sha"), F.col(id_col))
        .groupBy("content_sha")
        .agg(F.count(id_col).alias("group_size"), F.min(id_col).alias("rep"))
        .filter(F.col("group_size") >= 2)
    )


def exact_dup_pairs(
    docs: DataFrame, id_col: str = "url", text_col: str = "norm_text"
) -> DataFrame:
    """(id_a, id_b) edges: every member linked to its group representative
    (star topology — linear, not quadratic, in group size)."""
    a, b = f"{id_col}_a", f"{id_col}_b"
    hashed = docs.select(content_hash(text_col).alias("content_sha"), F.col(id_col))
    groups = exact_dup_groups(docs, id_col, text_col).select("content_sha", "rep")
    return (
        hashed.join(groups, "content_sha")
        .where(F.col(id_col) != F.col("rep"))
        .select(F.col("rep").alias(a), F.col(id_col).alias(b))
    )


def dedup_exact(
    docs: DataFrame, id_col: str = "url", text_col: str = "norm_text"
) -> DataFrame:
    """Keep one representative (min id) per identical-content group.

    Window-free formulation: groupBy is a partial-agg-friendly shuffle on
    the 32-byte hash; a row_number window over content_sha would shuffle
    the full rows instead."""
    keep = (
        docs.select(content_hash(text_col).alias("content_sha"), F.col(id_col))
        .groupBy("content_sha")
        .agg(F.min(id_col).alias(id_col))
    )
    return docs.join(keep, id_col, "left_semi")

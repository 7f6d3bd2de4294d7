"""Nested relations (relation-valued attributes) — Andl nest/unnest.

Reference: Sample/sample3.andl:17-35 — ``{{*}}`` embeds the current
tuple as a singleton relation; ``fold(union, rva)`` flattens RVAs back
out. Andl stores actual nested DataTables; the Spark-native encoding
of an RVA is ``array<struct<...>>``, which stays columnar in Tungsten
and parquet (no shuffle to read a nested field).

nest():   groupBy(keys).agg(collect_list(struct(payload)))  — 1 shuffle
unnest(): explode + struct expansion                        — 0 shuffles
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def nest(df: DataFrame, keys: list[str], rva: str) -> DataFrame:
    """Group *df* by ``keys``; remaining columns become an RVA named
    ``rva`` (array of structs, sorted for deterministic set identity)."""
    payload = [c for c in df.columns if c not in keys]
    return df.groupBy(*keys).agg(
        F.array_sort(F.collect_set(F.struct(*payload))).alias(rva)
    )


def unnest(df: DataFrame, rva: str) -> DataFrame:
    """Inverse of nest: explode the RVA and splice its fields back in.

    Rows with empty RVAs vanish — matching ``fold(union, ...)`` over an
    empty relation being the empty relation.
    """
    others = [c for c in df.columns if c != rva]
    return (
        df.withColumn("__t", F.explode(rva))
        .select(*others, "__t.*")
    )

"""Small shared utilities."""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _create_converter, _make_type_verifier


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition UP (round-robin) when the input has fewer partitions
    than the cluster has cores — e.g. a single unsplittable parquet
    file feeding a CPU-heavy stage (shingling, Pandas UDF signatures)
    would otherwise run on one core. Never repartitions down, and is a
    no-op for already-parallel inputs, so at production scale (many
    files/row-groups) it costs nothing."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def local_frame(spark: SparkSession, rows: Iterable, schema: StructType | str) -> DataFrame:
    """The relation over driver-side ``rows`` as a Catalyst ``LocalRelation``
    — the one way this package turns Python rows into a DataFrame.

    Why not ``spark.createDataFrame(rows, schema)``: for a Python list
    that builds a ``LogicalRDD`` over a Python-mapped RDD, which Catalyst
    cannot look into, so every action over it launches Python worker
    tasks. The same rows handed over as a ``pyarrow.Table`` become a
    ``LocalRelation``: Catalyst folds filters and projections into it (a
    filtered collect runs no Spark job) and aggregates over it run in
    the JVM alone.

    The rows keep the list path's contract. Each row (tuple, ``Row`` or
    dict) passes PySpark's own type verifier, so a wrong-typed value or
    a NULL in a non-nullable field raises the same error with the same
    message, and is converted by ``StructType.toInternal``, so dates,
    naive timestamps, decimals and nested structs mean what they mean
    there. ``schema`` is a ``StructType`` or a DDL string. One stated
    difference: a ``Decimal`` with more fractional digits than its
    field's scale is refused by Arrow rather than rounded."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    verify, to_tuple = _make_type_verifier(schema), _create_converter(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(to_tuple(row)))
    if not schema.fields:
        # an Arrow batch without columns carries no row count
        return local_frame(spark, [(None,)] * len(internal), "_ boolean").select()
    arrow = pa.array(internal, type=pa.struct(to_arrow_schema(schema)))
    return spark.createDataFrame(pa.Table.from_struct_array(arrow), schema)

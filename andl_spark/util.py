"""Small shared utilities."""

from __future__ import annotations

import threading
import time
from collections.abc import Callable, Hashable, Iterable

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


class Memo:
    """The driver-side memo every module-level cache in this package is.

    Policy, stated once:

    - ``get(key, build, fingerprint, ttl)`` serves the stored value only
      while ``fingerprint`` equals the one it was stored with and, when
      ``ttl`` is given, for less than ``ttl`` seconds; otherwise it calls
      ``build()`` and the result REPLACES the entry (a changed source
      never leaves a stale twin beside the fresh one).
    - A ``None`` fingerprint means the source could not be identified
      (a stat raced a delete): the value is built and not stored.
    - Past ``maxsize`` entries the oldest stored one is dropped.
    - One lock guards the dict; ``build()`` runs outside it, so two
      threads missing the same key may both build, and the last store
      wins. Callers reach these memos from server request threads and
      streaming batches.

    Each cache states why its key and fingerprint identify the value."""

    def __init__(self, maxsize: int | None = None):
        self.maxsize = maxsize
        self._lock = threading.Lock()
        self._entries: dict = {}  # key -> (fingerprint, stored at, value)

    def get(self, key: Hashable, build: Callable, fingerprint=(),
            ttl: float | None = None):
        if fingerprint is None:
            return build()
        with self._lock:
            hit = self._entries.get(key)
        if (hit is not None and hit[0] == fingerprint
                and (ttl is None or time.monotonic() - hit[1] < ttl)):
            return hit[2]
        value = build()
        with self._lock:
            self._entries.pop(key, None)
            while (self.maxsize is not None
                   and len(self._entries) >= self.maxsize):
                del self._entries[next(iter(self._entries))]
            self._entries[key] = (fingerprint, time.monotonic(), value)
        return value

    def drop(self, pred: Callable[[Hashable], bool]) -> None:
        """Drop every entry whose key satisfies ``pred``."""
        with self._lock:
            for k in [k for k in self._entries if pred(k)]:
                del self._entries[k]

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()

    def __len__(self) -> int:
        return len(self._entries)

"""SparkSession factory and table loading for andl_spark.

Replaces the reference's engine bootstrap (Andl.Runtime/Runtime.cs,
Catalog.cs startup): here a session is a configured SparkSession with
AQE + Arrow on, and "the database" is a dict of lazily-loaded parquet
DataFrames registered as temp views so `spark.sql` works everywhere.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.types as pa_types
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from . import trace
from .util import Memo

#: The driver-generated TPC-H-ish star schema plus pipeline tables.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at ANY scale factor
#: (region=5, nation=25 rows always; supplier/part grow slowly).
BROADCAST_DIMS = frozenset({"region", "nation"})


def get_spark(app_name: str = "andl_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build a local session tuned for the test harness.

    On a real cluster the same configs apply; only master() changes.
    AQE handles runtime coalesce + skew-join splitting, which is the
    scale story for 100 TB fact-fact joins.
    """
    master = os.environ.get("SPARK_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    parts = shuffle_partitions or int(os.environ.get("ANDL_SHUFFLE_PARTITIONS", "32"))
    # AQE coalescing keeps its parallelismFirst default DELIBERATELY
    # (r11): the guide's "fewer, larger reduce partitions" (§2.2)
    # targets byte-bound shuffles; this suite's reduce stages are
    # CPU-bound with tiny byte sizes (pair joins, regex aggregation),
    # and an in-session A/B measured parallelismFirst=false 22% SLOWER
    # on q_ngram_jaccard (3.33→4.07 s) because size-based coalescing
    # serialized a CPU-heavy stage to one task. The advisory partition
    # size stays env-tunable for byte-bound cluster workloads.
    advisory = os.environ.get("ANDL_ADVISORY_PARTITION_BYTES", "64m")
    return (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("ANDL_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


class LazyTables(dict):
    """Mapping table name → DataFrame that defers each spark.read until a
    table is actually used. A handle takes its schema from the table's
    parquet footer on the driver (:func:`footer_schema`), so opening one
    launches no Spark job; the read itself costs a file listing and an
    analysis."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        super().__init__()
        self._spark = spark
        self._sf_dir = sf_dir

    def __missing__(self, name: str) -> DataFrame:
        path = os.path.join(self._sf_dir, f"{name}.parquet")
        if name not in TABLES or not os.path.exists(path):
            raise KeyError(name)
        schema, nanos = footer_schema(self._spark, path, name)
        reader = self._spark.read if schema is None else self._spark.read.schema(schema)
        df = restore_nanos(reader.parquet(path), nanos)
        self[name] = df
        return df

    def load_all(self) -> "LazyTables":
        for name in TABLES:
            if os.path.exists(os.path.join(self._sf_dir, f"{name}.parquet")):
                self[name]
        return self


#: LazyTables handles per (session, dir), fingerprinted by
#: _sf_fingerprint. A fresh handle costs a file listing and an analysis
#: per table it reads (~15 ms/table), so a repeat query reuses the lazy
#: PLAN handles: never data or results, and any rewrite of the table
#: files changes the fingerprint. The key holds its session; the bound
#: is what lets a stopped one go.
_TABLES_CACHE = Memo(16)


def _sf_fingerprint(sf_dir: str) -> tuple:
    """Stat-fingerprint of every table LazyTables can serve (exactly the
    TABLES tuple — ``LazyTables.__missing__`` raises KeyError for any
    other name, so nothing servable escapes invalidation). For
    directory-style parquet tables (generated scale dirs hold part
    files) the fingerprint includes each entry's (name, mtime_ns,
    size): an in-place rewrite of a part-file changes the entry stats
    even when the directory's own mtime/size do not (r12, ADVICE)."""
    out = []
    for name in TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        try:
            st = os.stat(p)
        except OSError:
            continue
        if os.path.isdir(p):
            entries = []
            for e in sorted(os.listdir(p)):
                try:
                    est = os.stat(os.path.join(p, e))
                except OSError:
                    continue
                entries.append((e, est.st_mtime_ns, est.st_size))
            out.append((name, st.st_mtime_ns, st.st_size, tuple(entries)))
        else:
            out.append((name, st.st_mtime_ns, st.st_size))
    return tuple(out)


def load_tables(spark: SparkSession, sf_dir: str, register_views: bool = True) -> LazyTables:
    """Lazily-loading table map; each scan gets predicate pushdown +
    column pruning from Catalyst since every operator is declarative.
    With ``register_views`` every table is read and bound as a temp
    view on each call. Handles are memoized per (session, dir) — see _TABLES_CACHE."""
    # Some testdata columns carry TIMESTAMP(NANOS), which Spark only
    # reads with this legacy conf — as raw nanosecond longs. Runtime-
    # settable, so it also covers driver-owned sessions that didn't use
    # get_spark(). restore_nanos rebuilds real timestamps.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (spark, os.path.abspath(sf_dir))
    tables = _TABLES_CACHE.get(
        key, lambda: LazyTables(spark, sf_dir),
        _sf_fingerprint(sf_dir))
    if register_views:
        # bound on every call, hit or miss: another sf_dir loaded on
        # this session in between points the views at ITS data
        for name, df in tables.load_all().items():
            df.createOrReplaceTempView(name)
    return tables


#: Footer key under which Spark stores the schema it wrote.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

#: Arrow leaf types whose Spark type, as Spark's parquet reader infers
#: it, is exactly what ``from_arrow_schema`` gives.
_EXACT_LEAVES = (
    pa_types.is_boolean, pa_types.is_int8, pa_types.is_int16, pa_types.is_int32,
    pa_types.is_int64, pa_types.is_float32, pa_types.is_float64,
    pa_types.is_decimal128, pa_types.is_string, pa_types.is_large_string,
    pa_types.is_date32,
)


def footer_schema(spark: SparkSession, path: str, table: str) -> tuple[StructType | None, list[str]]:
    """Spark schema of a generated table file, read from its parquet
    footer on the driver, and its naive TIMESTAMP(NANOS) columns.

    The rules are Spark's own inference: a part-file directory takes its
    first part file in path order; a schema Spark stored at write time
    wins; otherwise the Arrow schema converts with ``from_arrow_schema``
    (``prefer_timestamp_ntz`` from ``spark.sql.parquet.inferTimestampNTZ
    .enabled``, timestamps by their parquet UTC adjustment); every field
    is nullable. NANOS columns read as LongType, which needs
    ``spark.sql.legacy.parquet.nanosAsLong`` (load_tables sets it);
    :func:`restore_nanos` rebuilds the naive ones.

    The schema is ``None`` where Spark could infer something else:
    summary files, partition subdirectories, ``mergeSchema``, an
    unreadable footer, or a column the conversion cannot map exactly
    (unsigned ints, INT96, ...). A ``trace.note`` then records why, and
    the caller reads with Spark's inference, one job, as before."""
    import pyarrow.parquet as pq

    nanos: list[str] = []

    def inferred(reason: str) -> tuple[None, list[str]]:
        # Spark's inference reads NANOS columns as LongType too
        trace.note("load_tables", table=table, schema="inferred", reason=reason)
        return None, nanos

    file = path
    if os.path.isdir(path):
        names = sorted(os.listdir(path))
        data = [n for n in names if not n.startswith(("_", ".")) and not n.endswith("._COPYING_")]
        if not data:
            return inferred("no data files")
        if any(os.path.isdir(os.path.join(path, n)) for n in data):
            return inferred("partition subdirectories")
        file = os.path.join(path, data[0])
    try:
        footer = pq.read_metadata(file)
    except (OSError, ValueError) as e:
        return inferred(f"unreadable footer: {e}")
    arrow = footer.schema.to_arrow_schema()
    stamps = {c.path: json.loads(c.logical_type.to_json())
              for c in map(footer.schema.column, range(len(footer.schema)))
              if c.path in arrow.names and c.logical_type.type == "TIMESTAMP"}
    nanos += [n for n, ts in stamps.items()
              if ts["timeUnit"] == "nanoseconds" and not ts["isAdjustedToUTC"]]
    if file != path:
        if any(n.startswith(("_metadata", "_common_metadata")) for n in names):
            return inferred("summary file")
        if spark.conf.get("spark.sql.parquet.mergeSchema") == "true":
            return inferred("mergeSchema")
    stored = (footer.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored is not None:
        try:
            return _nullable(StructType.fromJson(json.loads(stored))), nanos
        except (ValueError, KeyError, TypeError) as e:
            return inferred(f"unparsed Spark schema: {e}")

    fields, inexact = [], []
    for f in arrow:
        ts = stamps.get(f.name)
        if ts is not None and ts["timeUnit"] == "nanoseconds":
            fields.append(f.with_type(pa.int64()))
        elif ts is not None:
            fields.append(f.with_type(pa.timestamp("us", "UTC" if ts["isAdjustedToUTC"] else None)))
        elif _exact(f.type, spark):
            fields.append(f)
        else:
            inexact.append(f"{f.name}: {'INT96' if pa_types.is_timestamp(f.type) else f.type}")
    if inexact:
        return inferred("; ".join(inexact))
    ntz = bool(stamps) and spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    return _nullable(from_arrow_schema(pa.schema(fields), prefer_timestamp_ntz=ntz)), nanos


def _exact(t, spark: SparkSession) -> bool:
    """True when Spark's parquet reader infers exactly ``from_arrow_type(t)``."""
    if any(is_type(t) for is_type in _EXACT_LEAVES):
        return True
    if pa_types.is_binary(t) or pa_types.is_large_binary(t):
        return spark.conf.get("spark.sql.parquet.binaryAsString") != "true"
    if pa_types.is_list(t) or pa_types.is_large_list(t) or pa_types.is_dictionary(t):
        return _exact(t.value_type, spark)
    if pa_types.is_struct(t):
        return all(_exact(f.type, spark) for f in t)
    return False


def _nullable(t: DataType) -> DataType:
    """``t`` with every field, element and value nullable, as the file
    source makes every schema it reads."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def restore_nanos(df: DataFrame, nanos: list[str]) -> DataFrame:
    """Rebuild the naive TIMESTAMP(NANOS) columns ``nanos``, which read
    as nanosecond longs under nanosAsLong, as TIMESTAMP_NTZ via pure ntz
    arithmetic (timestampadd from a literal ntz epoch) — deliberately
    independent of the session timezone so driver-owned sessions in any
    tz agree with the DuckDB oracle's naive timestamps."""
    from pyspark.sql import functions as F

    for c in nanos:
        df = df.withColumn(
            c,
            F.expr(f"timestampadd(MICROSECOND, `{c}` div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
        )
    return df

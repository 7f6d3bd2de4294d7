"""Sources & sinks — the Spark-native counterpart of Andl's data I/O.

Reference: Andl.Runtime/DataSourceStream.cs (csv/txt/sql sources used
by ``var S:{...}(csv)``), DataSinkStream.cs, DataSourceSql.cs. Andl
headings like ``{S#,SNAME,STATUS:number,CITY}`` declare column names +
types with text as the default — mirrored here as a tiny heading
parser producing an explicit Spark schema (explicit schemas beat
inference at scale: one less full pass over the data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as Ty

#: Andl type name → Spark type (Builtin.cs type lattice)
_TYPE = {
    "text": Ty.StringType(),
    "number": Ty.DoubleType(),
    "integer": Ty.LongType(),
    "bool": Ty.BooleanType(),
    "time": Ty.TimestampType(),
    "binary": Ty.BinaryType(),
}


def heading_to_schema(heading: str) -> Ty.StructType:
    """'{S#,SNAME,STATUS:number,CITY}' → StructType (text default)."""
    body = heading.strip().lstrip("{").rstrip("}")
    fields = []
    for part in body.split(","):
        part = part.strip()
        if not part:
            continue
        name, _, typ = part.partition(":")
        fields.append(Ty.StructField(name.strip(), _TYPE[typ.strip() or "text"], True))
    return Ty.StructType(fields)


def read_csv(
    spark: SparkSession,
    path: str,
    heading: str | None = None,
    header: bool = True,
) -> DataFrame:
    """Andl ``var x:{heading}(csv)``. With a heading: explicit schema,
    no inference pass. Without: one-shot inference (fine interactively;
    declare headings in pipelines)."""
    reader = spark.read.option("header", header)
    if heading:
        return reader.schema(heading_to_schema(heading)).csv(path)
    return reader.option("inferSchema", True).csv(path)


def read_text(spark: SparkSession, path: str, col: str = "line") -> DataFrame:
    """Andl txt source: one row per line."""
    return spark.read.text(path).withColumnRenamed("value", col)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """Andl's SQL backend (DataSourceSql.cs / Andl.Sqlite, Andl.Postgres)
    re-expressed as a partitioned JDBC scan: with a partition column the
    read parallelizes across executors instead of a single connection —
    the difference between hours and minutes on a big table. Gated:
    requires the JDBC driver jar on the Spark classpath."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound if lower_bound is not None else 0)
            .option("upperBound", upper_bound if upper_bound is not None else 1 << 31)
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def register_jdbc_catalog(
    spark: SparkSession,
    name: str,
    url: str,
    driver: str | None = None,
    push_down_aggregate: bool = True,
    push_down_limit: bool = True,
) -> None:
    """Full SqlGen parity (Andl.Runtime/SqlGen.cs:14): mount a JDBC
    database as a Spark DSv2 catalog so RELATIONAL WORK — not just
    filters/projections — executes inside the RDBMS. With aggregate
    pushdown on, `SELECT k, COUNT(*), SUM(v) FROM <name>.<schema>.<t>
    GROUP BY k` ships the whole aggregation to the database and Spark
    reads back only the aggregated rows (PushedAggregates /
    PushedGroupByExpressions in the plan) — the reference's
    execute-inside-Sqlite/Postgres behavior, declaratively.

    Identifier note: databases that uppercase unquoted identifiers
    (Derby, Oracle) expose tables as `<name>.SCHEMA.TABLE` uppercase.
    """
    prefix = f"spark.sql.catalog.{name}"
    spark.conf.set(prefix, "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    spark.conf.set(f"{prefix}.url", url)
    if driver:
        spark.conf.set(f"{prefix}.driver", driver)
    spark.conf.set(f"{prefix}.pushDownAggregate", str(push_down_aggregate).lower())
    spark.conf.set(f"{prefix}.pushDownLimit", str(push_down_limit).lower())

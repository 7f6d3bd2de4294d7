"""Contract of ``util.local_frame``, the one constructor for relations
over driver-side rows: it collects exactly what
``spark.createDataFrame(rows, schema)`` collects, refuses what that
refuses with the same error, and plans as a Catalyst ``LocalRelation``."""

from datetime import date, datetime
from decimal import Decimal

import pyarrow as pa
import pytest
from pyspark.errors import PySparkException
from pyspark.sql import Row
from pyspark.sql import types as T

from andl_spark.util import local_frame

#: every Andl value type: number, text, bool, time, binary, a tuple
#: value (struct), a relation value (RVA, array<struct>), plus decimal,
#: date and map columns
ANDL_SCHEMA = T.StructType([
    T.StructField("b", T.BooleanType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("s", T.StringType()),
    T.StructField("day", T.DateType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("bin", T.BinaryType()),
    T.StructField("tup", T.StructType([
        T.StructField("x", T.DoubleType()), T.StructField("y", T.StringType())])),
    T.StructField("rva", T.ArrayType(T.StructType([
        T.StructField("k", T.StringType()), T.StructField("at", T.TimestampType())]))),
    T.StructField("dec", T.DecimalType(38, 18)),
    T.StructField("m", T.MapType(T.StringType(), T.LongType())),
])
ANDL_ROWS = [
    (True, 1.5, "a", date(2020, 1, 2), datetime(2021, 3, 4, 5, 6, 7, 890),
     bytearray(b"\x00xy"), (1.0, "p"),
     [("k1", datetime(1969, 12, 31, 23, 59, 59)), ("k2", None)],
     Decimal("-12345678901234567890.123456789012345678"), {"a": 1, "b": None}),
    (False, -0.0, "", date(1900, 2, 28), datetime(2000, 2, 29), bytearray(),
     (None, None), [], Decimal("0.5"), {}),
    (None,) * 10,
]


def _same_as_list_path(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    return got


def _plan_root(df):
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def test_every_andl_type_collects_as_the_list_path(spark):
    df = _same_as_list_path(spark, ANDL_ROWS, ANDL_SCHEMA)
    assert _plan_root(df) == "LocalRelation"
    assert df.collect()[2] == Row(*[None] * 10)


def test_empty_and_ddl_schemas(spark):
    assert _same_as_list_path(spark, [], ANDL_SCHEMA).collect() == []
    ddl = "id long, name string, at date, key struct<h1:bigint,h2:bigint>"
    rows = [(1, "x", date(2024, 5, 6), (7, 8)), Row(id=2, name=None, at=None, key=None)]
    assert _plan_root(_same_as_list_path(spark, rows, ddl)) == "LocalRelation"
    assert _same_as_list_path(spark, [], ddl).collect() == []


def test_rows_without_columns_keep_their_count(spark):
    df = local_frame(spark, [(), ()], T.StructType([]))
    assert df.count() == 2 and df.columns == []
    assert _plan_root(df) == "LocalRelation"


@pytest.mark.parametrize("rows, schema", [
    ([(1, "x"), ("2", "y")], "n long, s string"),       # wrong-typed value
    ([(1.5,)], "n long"),
    ([(1, None)], T.StructType([T.StructField("n", T.LongType()),
                                T.StructField("s", T.StringType(), False)])),
])
def test_refused_rows_raise_the_list_path_error(spark, rows, schema):
    with pytest.raises(PySparkException) as want:
        spark.createDataFrame(rows, schema)
    with pytest.raises(type(want.value)) as got:
        local_frame(spark, rows, schema)
    assert str(got.value) == str(want.value)


def test_decimal_wider_than_its_scale_is_refused(spark):
    """The stated difference: the list path rounds such a Decimal to
    the field's scale in the JVM, Arrow refuses to lose the digits."""
    with pytest.raises(pa.ArrowInvalid):
        local_frame(spark, [(Decimal("1.235"),)], "x decimal(10,2)")

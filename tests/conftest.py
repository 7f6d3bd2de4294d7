import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from andl_spark.session import get_spark  # noqa: E402

# ANDL_TEST_SF_DIR overrides the default smoke dir so SCALE-INVARIANT
# suites (tests/test_plans.py — plan-shape assertions) can be re-run
# against bigger generated data (tools/gen_sf.py output):
#   ANDL_TEST_SF_DIR=/tmp/testdata_sf1 pytest tests/test_plans.py
# Suites with exact row-count assertions still expect the default dir.
SF_SMOKE = os.environ.get("ANDL_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = "/root/testdata/sf0.01"


def jobs_run(spark, group: str, fn):
    """Call ``fn()`` under Spark job group ``group``; return its result
    and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


#: The C# Andl checkout the reference-suite tests read: the .andl
#: suites and samples, Chinook.sqlite and the S/P CSVs.
REFERENCE_TREE = "/root/reference"


@pytest.fixture(scope="session")
def reference_tree():
    """Request this from any test or fixture that reads the reference
    tree: it skips them, and only them, where the tree is absent, and
    changes nothing where it exists."""
    if not os.path.isdir(REFERENCE_TREE):
        pytest.skip("reference tree absent")
    return REFERENCE_TREE


@pytest.fixture(scope="session")
def spark():
    s = get_spark("andl_spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the sf0.001 tables registered as views —
    mirrors the driver's oracle harness."""
    import duckdb

    con = duckdb.connect()
    from andl_spark.session import TABLES

    for t in TABLES:
        path = f"{SF_SMOKE}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()


# ---- reference S/P/SP fixture (values from /root/reference/Test/S.csv
# etc.) so SuiteRelDyadic's count/degree matrix is asserted 1:1.

S_ROWS = [
    ("S1", "Smith", 20.0, "London"),
    ("S2", "Jones", 10.0, "Paris"),
    ("S3", "Blake", 30.0, "Paris"),
    ("S4", "Clark", 20.0, "London"),
    ("S5", "Adams", 30.0, "Athens"),
]
P_ROWS = [
    ("P1", "Nut", "Red", 12.0, "London"),
    ("P2", "Bolt", "Green", 17.0, "Paris"),
    ("P3", "Screw", "Blue", 17.0, "Oslo"),
    ("P4", "Screw", "Red", 14.0, "London"),
    ("P5", "Cam", "Blue", 12.0, "Paris"),
    ("P6", "Cog", "Red", 19.0, "London"),
]
SP_ROWS = [
    ("S1", "P1", 300.0), ("S1", "P2", 200.0), ("S1", "P3", 400.0),
    ("S1", "P4", 200.0), ("S1", "P5", 100.0), ("S1", "P6", 100.0),
    ("S2", "P1", 300.0), ("S2", "P2", 400.0),
    ("S3", "P2", 200.0),
    ("S4", "P2", 200.0), ("S4", "P4", 300.0), ("S4", "P5", 400.0),
]


@pytest.fixture(scope="session")
def spdb(spark):
    S = spark.createDataFrame(S_ROWS, "`S#` string, SNAME string, STATUS double, CITY string")
    P = spark.createDataFrame(P_ROWS, "`P#` string, PNAME string, COLOR string, WEIGHT double, CITY string")
    SP = spark.createDataFrame(SP_ROWS, "`S#` string, `P#` string, QTY double")
    return {"S": S, "P": P, "SP": SP}

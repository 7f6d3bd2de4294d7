"""Postgres-validated pushdown (VERDICT r3 item 3): the Chinook matrix
from test_jdbc_chinook.py run against a REAL PostgreSQL 15 server —
restriction → WHERE, projection → SELECT list, and whole aggregations
executed inside the RDBMS — through the pure-wire-protocol backend
(andl_spark/sources/pg.py, Andl.Postgres/PostgresDatabase.cs +
SqlGen.cs parity). The oracle is SQLite over the same source rows.

The fixture initdb's a throwaway cluster and runs it as the `postgres`
system user (the server refuses root) on an ephemeral port; everything
is skipped cleanly if the binaries are absent.
"""

from __future__ import annotations

import os
import pwd
import shutil
import socket
import sqlite3
import subprocess
import tempfile

import pytest

from andl_spark.sources.pg import (
    PgConnection, copy_df, pushdown_sql, read_pg, read_pg_partitioned,
)
from andl_spark.sources.sqlite_src import read_sqlite

CHINOOK = "/root/reference/Sample/Chinook.sqlite"
PG_BIN = "/usr/local/bin"


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


@pytest.fixture(scope="module")
def pg(reference_tree, spark):
    if not (os.path.exists(f"{PG_BIN}/initdb") and os.path.exists(f"{PG_BIN}/pg_ctl")):
        pytest.skip("postgres binaries not installed")
    try:
        pwd.getpwnam("postgres")
    except KeyError:
        pytest.skip("no postgres system user to run the server as")
    base = tempfile.mkdtemp(prefix="andlpg_")
    os.chmod(base, 0o777)
    subprocess.run(["chown", "postgres", base], check=True)
    data = f"{base}/data"
    port = _free_port()

    def as_pg(cmd):
        return subprocess.run(
            ["su", "-s", "/bin/sh", "postgres", "-c", cmd],
            capture_output=True, text=True, cwd="/tmp")

    r = as_pg(f"{PG_BIN}/initdb -D {data} -U andl --auth=trust")
    if r.returncode != 0:
        shutil.rmtree(base, ignore_errors=True)
        pytest.skip(f"initdb failed: {r.stderr[-300:]}")
    r = as_pg(
        f"{PG_BIN}/pg_ctl -D {data} -o '-p {port} -c listen_addresses=127.0.0.1 "
        f"-c unix_socket_directories={base}' -l {base}/log start")
    if r.returncode != 0:
        shutil.rmtree(base, ignore_errors=True)
        pytest.skip(f"pg_ctl start failed: {r.stderr[-300:]}")
    conn = PgConnection(port=port, user="andl")
    # stage the Chinook tables the matrix reads
    copy_df(conn, "Album", read_sqlite(spark, CHINOOK, "Album"))
    copy_df(conn, "Artist", read_sqlite(spark, CHINOOK, "Artist"))
    yield {"port": port, "conn": conn}
    conn.close()
    as_pg(f"{PG_BIN}/pg_ctl -D {data} -m immediate stop")
    shutil.rmtree(base, ignore_errors=True)


def test_wire_protocol_types(pg):
    cols, fields, rows = pg["conn"].execute(
        "SELECT 1::int4 AS i, 2::int8 AS l, 2.5::float8 AS d, "
        "3.14::numeric AS n, 't'::text AS s, true AS b, NULL::text AS z")
    assert cols == ["i", "l", "d", "n", "s", "b", "z"]
    assert rows == [(1, 2, 2.5, 3.14, "t", True, None)]
    assert [f.dataType.simpleString() for f in fields] == [
        "bigint", "bigint", "double", "double", "string", "boolean", "string"]


def test_restriction_and_projection_pushdown(reference_tree, spark, pg):
    """chinook restriction + projection: the statement Postgres
    executes carries the WHERE and the pruned SELECT list, and only
    the reduced slice crosses the wire."""
    df = read_pg(spark, pg["conn"], "Album",
                 columns=["AlbumId", "Title"], where='"ArtistId" = 90')
    sql = df._pg_sql
    assert 'WHERE "ArtistId" = 90' in sql
    assert sql.startswith('SELECT "AlbumId", "Title" FROM "Album"')
    with sqlite3.connect(CHINOOK) as con:
        want = set(con.execute(
            "SELECT AlbumId, Title FROM Album WHERE ArtistId = 90").fetchall())
    got = {(r["AlbumId"], r["Title"]) for r in df.collect()}
    assert got == want and len(got) == 21  # Iron Maiden's albums


def test_aggregate_pushdown_runs_in_postgres(reference_tree, spark, pg):
    """Full SqlGen aggregation parity: the GROUP BY executes inside
    PostgreSQL (result arrives already reduced — one row per artist,
    not 347 albums), matching the SQLite oracle."""
    df = read_pg(
        spark, pg["conn"], "Album",
        group_by=["ArtistId"],
        aggs={"HowMany": "COUNT(*)"},
        where='"AlbumId" IS NOT NULL',
    )
    assert 'GROUP BY "ArtistId"' in df._pg_sql
    with sqlite3.connect(CHINOOK) as con:
        want = set(con.execute(
            "SELECT ArtistId, COUNT(*) FROM Album GROUP BY ArtistId").fetchall())
    got = {(r["ArtistId"], r["HowMany"]) for r in df.collect()}
    assert got == want
    assert df.count() == len(want) < 347  # reduced server-side


def test_partitioned_range_scan(spark, pg):
    """The Spark-JDBC-shaped range split: one bounded statement per
    partition, unbounded first/last stride, full-table union."""
    port = pg["port"]
    df = read_pg_partitioned(
        spark, lambda: PgConnection(port=port, user="andl"),
        "Album", partition_column="AlbumId",
        lower_bound=1, upper_bound=348, num_partitions=4)
    assert df.count() == 347
    sqls = df._pg_sql
    assert len(sqls) == 4
    assert '"AlbumId" <' in sqls[0] and ">=" not in sqls[0]
    assert '"AlbumId" >=' in sqls[-1] and "<" not in sqls[-1]


def test_top_artists_via_postgres(reference_tree, spark, pg):
    """chinook.andl:25's headline through the Postgres backend: Albums
    pre-aggregated in the RDBMS, joined to the Artist dim in Spark
    (broadcast), same rows as the SQLite oracle."""
    from pyspark.sql import functions as F

    counts = read_pg(spark, pg["conn"], "Album",
                     group_by=["ArtistId"], aggs={"HowMany": "COUNT(*)"})
    artist = read_pg(spark, pg["conn"], "Artist")
    got = {
        (r["Name"], r["HowMany"])
        for r in counts.join(F.broadcast(artist), "ArtistId")
        .filter(F.col("HowMany") > 5).select("Name", "HowMany").collect()
    }
    with sqlite3.connect(CHINOOK) as con:
        want = set(con.execute(
            "SELECT Name, COUNT(*) FROM Album JOIN Artist USING(ArtistId) "
            "GROUP BY Name HAVING COUNT(*) > 5").fetchall())
    assert got == want and ("Iron Maiden", 21) in got


def test_pushdown_sql_shapes():
    """SqlGen text shapes (no server needed)."""
    assert pushdown_sql("t") == 'SELECT * FROM "t"'
    assert pushdown_sql("t", columns=["a"], where="x > 1", limit=5) == \
        'SELECT "a" FROM "t" WHERE x > 1 LIMIT 5'
    assert pushdown_sql("t", group_by=["k"], aggs={"s": "SUM(v)"}) == \
        'SELECT "k", SUM(v) AS "s" FROM "t" GROUP BY "k"'


def test_single_partition_scan_keeps_upper_rows(spark, pg):
    """num_partitions=1 must be a full unbounded scan (review r4: the
    first-partition upper bound used to silently drop rows >= upper)."""
    df = read_pg_partitioned(
        spark, lambda: PgConnection(port=pg["port"], user="andl"),
        "Album", partition_column="AlbumId",
        lower_bound=1, upper_bound=300, num_partitions=1)
    assert df.count() == 347          # nothing above upper_bound lost
    assert "WHERE" not in df._pg_sql[0]


def test_copy_df_nonfinite_floats(spark, pg):
    """ADVICE r4: repr() renders non-finite floats as bare inf/nan —
    invalid PG numeric literals. The quoted-cast spelling must load
    and round-trip."""
    df = spark.createDataFrame(
        [(1, float("inf")), (2, float("-inf")), (3, float("nan")), (4, 1.5)],
        "k bigint, v double")
    copy_df(pg["conn"], "NonFinite", df)
    _, _, out = pg["conn"].execute('SELECT "k", "v" FROM "NonFinite"')
    rows = dict(out)
    assert rows[1] == float("inf") and rows[2] == float("-inf")
    assert rows[3] != rows[3]  # NaN
    assert rows[4] == 1.5

"""Sample/chinook.andl parity: the SQL backend exercised end-to-end.

The reference runs chinook.andl against Sample/Chinook.sqlite through
its Andl.Sqlite backend. Here the same data flows through the Spark SQL
source machinery: SQLite → (Derby, the JDBC database bundled with
Spark) → ``read_jdbc`` partitioned scan → Relation operators → the
actual chinook.andl script via the language front-end.

Derby stands in for Postgres/SQLite-over-JDBC because no sqlite-jdbc or
postgres jar ships in this environment; the read path
(sources/io.py:read_jdbc) is identical for any JDBC URL.
"""

import sqlite3

import pytest

from andl_spark.lang import AndlSession
from andl_spark.relation import Relation
from andl_spark.sources.io import read_jdbc
from andl_spark.sources.sqlite_src import copy_to_jdbc, read_sqlite, sqlite_tables

CHINOOK = "/root/reference/Sample/Chinook.sqlite"
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    return f"jdbc:derby:{tmp_path_factory.mktemp('derby')}/chinook;create=true"


@pytest.fixture(scope="module")
def album_jdbc(reference_tree, spark, derby_url):
    """Album staged behind JDBC, read back as a partitioned scan."""
    copy_to_jdbc(read_sqlite(spark, CHINOOK, "Album"), derby_url, "Album", DERBY_DRIVER)
    return read_jdbc(
        spark, derby_url, "Album",
        partition_column="AlbumId", num_partitions=4,
        lower_bound=1, upper_bound=348, driver=DERBY_DRIVER,
    )


def test_catalog_lists_reference_tables(reference_tree):
    names = sqlite_tables(CHINOOK)
    assert {"Album", "Artist", "Track", "Invoice", "Customer"} <= set(names)


def test_read_jdbc_partitioned_scan(reference_tree, spark, album_jdbc):
    """The partitioned JDBC read: same rows as the source, split into
    range partitions (the scale path — N executor connections)."""
    with sqlite3.connect(CHINOOK) as con:
        want = con.execute("SELECT COUNT(*) FROM Album").fetchone()[0]
    assert album_jdbc.count() == want == 347
    assert album_jdbc.rdd.getNumPartitions() == 4
    assert album_jdbc.columns == ["AlbumId", "Title", "ArtistId"]


def test_top_artists_via_jdbc(reference_tree, spark, album_jdbc):
    """chinook.andl:25 — top artists by album count, Albums arriving via
    the JDBC scan; oracle computed independently by SQLite."""
    from pyspark.sql import functions as F

    artist = Relation(read_sqlite(spark, CHINOOK, "Artist"))

    rel = Relation(album_jdbc).join(artist, broadcast=True)
    agg = rel.aggregate(["Name"], HowMany=F.count(F.lit(1)))
    got = {
        (r["Name"], r["HowMany"])
        for r in agg.where(F.col("HowMany") > 5).df.collect()
    }
    with sqlite3.connect(CHINOOK) as con:
        want = set(
            con.execute(
                "SELECT Name, COUNT(*) FROM Album JOIN Artist USING(ArtistId) "
                "GROUP BY Name HAVING COUNT(*) > 5"
            ).fetchall()
        )
    assert got == want and ("Iron Maiden", 21) in got


CHINOOK_TABLES = [
    "Album", "Artist", "Track", "InvoiceLine", "Invoice", "Customer", "MediaType",
]


def test_setup_chinook_workflow(reference_tree, spark, tmp_path):
    """The reference's documented two-step workflow, verbatim
    (setup-chinook.andl:3-4): `Andl setup-Chinook.andl <db>` imports
    the 11 tables into the catalog via `var X(db), Y(db), ...`, then
    `Andl Chinook.andl <db>` queries them from the catalog in a fresh
    session — no manual table binding anywhere."""
    sample = "/root/reference/Sample"
    cat = tmp_path / "chinook_cat"

    s1 = AndlSession(spark, sample, catalog_path=cat, db_path=CHINOOK)
    s1.run_path(f"{sample}/setup-chinook.andl")
    listing = next(o for o in s1.output if o.startswith("{{Name, Type}}"))
    assert listing.count("relation") == 11 and "PlaylistTrack" in listing

    s2 = AndlSession(spark, sample, catalog_path=cat)
    s2.run_path(f"{sample}/chinook.andl")
    out = "\n".join(s2.output)
    assert "(AlbumId, number)" in out and "(Iron Maiden, 21)" in out


def test_chinook_andl_script(reference_tree, spark, derby_url, album_jdbc):
    """Runs the reference's actual Sample/chinook.andl through the
    language front-end, Album arriving via the JDBC path and the other
    tables via the sqlite bridge."""
    sess = AndlSession(spark, "/root/reference/Sample")
    from andl_spark.lang.interp import RelV

    sess.globals["Album"] = RelV(Relation(album_jdbc))
    for t in CHINOOK_TABLES[1:]:
        sess.globals[t] = RelV(Relation(read_sqlite(spark, CHINOOK, t)))
    sess.run_path("/root/reference/Sample/chinook.andl")
    out = "\n".join(sess.output)
    # schema displays
    assert "(AlbumId, number)" in out and "(Title, text)" in out
    assert "(MediaTypeId, number)" in out
    # top-artists aggregate (chinook.andl:25)
    assert "(Iron Maiden, 21)" in out
    assert "(Led Zeppelin, 14)" in out
    # regex-join queries produced rows
    assert "Concert" in out or "UnitPrice" in "\n".join(sess.output)


def test_jdbc_restriction_and_projection_pushdown(reference_tree, spark, album_jdbc):
    """SqlGen parity, Spark-first: the reference compiles relational
    ops INTO SQL executed by the backing RDBMS
    (Andl.Runtime/SqlGen.cs:14, Andl.Postgres). Spark's JDBC source
    does the same declaratively — the restriction becomes a pushed
    filter in the Derby-side query and the projection prunes the
    SELECT list, so only matching rows/columns ever cross the wire
    (at 100 TB the database does the cheap filtering, Spark the heavy
    relational work)."""
    import sqlite3

    from pyspark.sql import functions as F

    from andl_spark.plans.explain import formatted_plan

    df = album_jdbc.filter(F.col("ArtistId") == 90).select("AlbumId", "Title")
    plan = formatted_plan(df)
    scan = plan[plan.index("JDBCRelation"):][:400]
    assert "EqualTo(ArtistId,90)" in scan.replace(" ", "")  # pushed filter
    assert "Title" in scan and "Name" not in scan  # pruned column list
    with sqlite3.connect(CHINOOK) as con:
        want = con.execute(
            "SELECT COUNT(*) FROM Album WHERE ArtistId = 90"
        ).fetchone()[0]
    assert df.count() == want > 0


def test_jdbc_aggregate_pushdown_full_sqlgen_parity(reference_tree, spark, derby_url, album_jdbc):
    """FULL SqlGen parity: the aggregation itself executes inside the
    RDBMS. Album is mounted through a DSv2 JDBC catalog with aggregate
    pushdown; the per-artist COUNT runs in Derby (PushedAggregates /
    PushedGroupByExpressions in the plan) and Spark reads back only the
    aggregated rows — the reference's execute-inside-the-database
    behavior (Andl.Runtime/SqlGen.cs, Andl.Postgres)."""
    import sqlite3

    from andl_spark.plans.explain import formatted_plan
    from andl_spark.sources.io import register_jdbc_catalog

    register_jdbc_catalog(spark, "derbycat", derby_url, DERBY_DRIVER)
    try:
        # Derby uppercases unquoted identifiers: APP.ALBUM
        df = spark.sql(
            "SELECT ArtistId, COUNT(*) AS n FROM derbycat.APP.ALBUM GROUP BY ArtistId"
        )
        plan = formatted_plan(df)
        assert "PushedAggregates: [COUNT(*)]" in plan
        assert "PushedGroupByExpressions: [ArtistId]" in plan
        got = {(r[0], r[1]) for r in df.collect()}
        with sqlite3.connect(CHINOOK) as con:
            want = set(con.execute(
                "SELECT ArtistId, COUNT(*) FROM Album GROUP BY ArtistId"
            ).fetchall())
        assert got == want
    finally:
        spark.conf.unset("spark.sql.catalog.derbycat")

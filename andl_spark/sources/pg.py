"""Postgres backend over the public v3 wire protocol — the
Andl.Postgres parity surface (Andl.Postgres/PostgresDatabase.cs:1,
Andl.Runtime/SqlGen.cs).

The reference does NOT reach Postgres through a generic driver stack:
it generates SQL itself (SqlGen.cs — restriction → WHERE, projection →
SELECT list, aggregation → GROUP BY) and executes it on the server
(PostgresDatabase.cs), so the RDBMS does the relational work and only
results cross the wire. This module mirrors exactly that contract on
Spark: `PgConnection` speaks the documented PostgreSQL frontend/backend
protocol (startup → simple Query → RowDescription/DataRow) with
nothing but the standard library, and the read functions push the
generated SQL down to the server, returning the (already reduced)
result as a Spark DataFrame.

Why not Spark's JDBC DSv2 here: this environment ships no Postgres
JDBC jar and has no network to fetch one (documented in SURVEY §2.6).
The Spark-JDBC pushdown path itself is exercised against Derby
(tests/test_jdbc_chinook.py) — identical for any JDBC URL once the
driver jar exists; THIS module proves the same SqlGen-parity pushdown
against a real PostgreSQL server, byte-for-byte the dialect the
reference targets.

Scale posture: pushdown means the server-side result is the REDUCED
relation (a filtered slice, a GROUP BY summary) — the full table never
crosses the wire. `read_pg_partitioned` mirrors Spark's JDBC
range-partitioned scan shape (one bounded query per partition) for
bulk reads; at production scale the same generated SQL runs through
spark.read.jdbc once a driver jar is present — the SQL text is
identical (`pushdown_sql` is shared).
"""

from __future__ import annotations

import socket
import struct
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..util import local_frame

# ---------------------------------------------------------------------
# wire protocol (PostgreSQL frontend/backend protocol v3, public spec)
# ---------------------------------------------------------------------
_PROTOCOL_V3 = 196608  # 3 << 16


class PgError(RuntimeError):
    pass


class PgConnection:
    """Minimal synchronous client: trust-auth startup + simple Query.

    Text result format only (the simple-query protocol's default);
    values decode by type OID. Enough protocol surface for DDL, DML
    and SELECT — which is all PostgresDatabase.cs uses."""

    #: type OID → (python decoder, spark type)
    _OIDS = {
        16: (lambda s: s == "t", T.BooleanType()),
        20: (int, T.LongType()),
        21: (int, T.LongType()),
        23: (int, T.LongType()),
        700: (float, T.DoubleType()),
        701: (float, T.DoubleType()),
        1700: (float, T.DoubleType()),  # numeric — Andl number = double
    }
    _DEFAULT = (str, T.StringType())

    def __init__(self, host="127.0.0.1", port=5432, user="andl",
                 database="postgres", timeout=30):
        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._f = self._sock.makefile("rwb")
        self._startup(user, database)

    # -- framing -------------------------------------------------------
    def _send(self, tag: bytes, payload: bytes) -> None:
        self._f.write(tag + struct.pack("!i", len(payload) + 4) + payload)
        self._f.flush()

    def _recv(self) -> tuple[bytes, bytes]:
        tag = self._f.read(1)
        if not tag:
            raise PgError("server closed connection")
        (n,) = struct.unpack("!i", self._f.read(4))
        return tag, self._f.read(n - 4)

    def _startup(self, user: str, database: str) -> None:
        kv = f"user\0{user}\0database\0{database}\0\0".encode()
        payload = struct.pack("!i", _PROTOCOL_V3) + kv
        self._f.write(struct.pack("!i", len(payload) + 4) + payload)
        self._f.flush()
        while True:
            tag, body = self._recv()
            if tag == b"R":
                (code,) = struct.unpack("!i", body[:4])
                if code != 0:  # trust gives AuthenticationOk immediately
                    raise PgError(
                        f"server requests auth method {code}; this client "
                        "supports trust auth only (local test instances)")
            elif tag == b"Z":  # ReadyForQuery
                return
            elif tag == b"E":
                raise PgError(self._errmsg(body))
            # 'S' ParameterStatus / 'K' BackendKeyData: informational

    @staticmethod
    def _errmsg(body: bytes) -> str:
        parts = {}
        for chunk in body.split(b"\0"):
            if chunk:
                parts[chr(chunk[0])] = chunk[1:].decode("utf-8", "replace")
        return parts.get("M", "unknown postgres error")

    # -- simple query --------------------------------------------------
    def execute(self, sql: str):
        """Run one statement; returns (colnames, spark_fields, rows)
        for SELECTs, ([], [], []) for DDL/DML. Errors raise PgError
        after the server re-syncs (ReadyForQuery is always consumed)."""
        self._send(b"Q", sql.encode() + b"\0")
        cols: list[str] = []
        decoders: list = []
        fields: list[T.StructField] = []
        rows: list[tuple] = []
        err: str | None = None
        while True:
            tag, body = self._recv()
            if tag == b"T":  # RowDescription
                (ncols,) = struct.unpack("!h", body[:2])
                off = 2
                cols, decoders, fields = [], [], []
                for _ in range(ncols):
                    end = body.index(b"\0", off)
                    name = body[off:end].decode()
                    off = end + 1
                    (_tbl, _att, oid, _len, _mod, _fmt) = struct.unpack(
                        "!ihihih", body[off:off + 18])
                    off += 18
                    dec, styp = self._OIDS.get(oid, self._DEFAULT)
                    cols.append(name)
                    decoders.append(dec)
                    fields.append(T.StructField(name, styp))
            elif tag == b"D":  # DataRow
                (ncols,) = struct.unpack("!h", body[:2])
                off = 2
                vals = []
                for i in range(ncols):
                    (vlen,) = struct.unpack("!i", body[off:off + 4])
                    off += 4
                    if vlen == -1:
                        vals.append(None)
                    else:
                        vals.append(decoders[i](body[off:off + vlen].decode()))
                        off += vlen
                rows.append(tuple(vals))
            elif tag == b"E":
                err = self._errmsg(body)
            elif tag == b"Z":  # ReadyForQuery — statement done
                if err:
                    raise PgError(err)
                return cols, fields, rows
            # 'C' CommandComplete / 'N' Notice / 'I' EmptyQuery: skip

    def close(self) -> None:
        try:
            self._send(b"X", b"")
        except Exception:  # noqa: BLE001 — already gone
            pass
        self._sock.close()


# ---------------------------------------------------------------------
# SqlGen parity: generated SQL text (shared by wire reads and, when a
# JDBC jar exists, spark.read.jdbc(query=...))
# ---------------------------------------------------------------------
def quote_ident(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def pushdown_sql(
    table: str,
    columns: list[str] | None = None,
    where: str | None = None,
    group_by: list[str] | None = None,
    aggs: dict[str, str] | None = None,
    limit: int | None = None,
) -> str:
    """The SqlGen surface: restriction → WHERE, projection → SELECT
    list, aggregation → GROUP BY — one statement the SERVER executes
    (SqlGen.cs builds exactly these shapes for the Sqlite/Postgres
    backends). ``aggs`` maps output name → SQL aggregate expression."""
    if aggs:
        sel = [f"{quote_ident(c)}" for c in (group_by or [])]
        sel += [f"{expr} AS {quote_ident(alias)}" for alias, expr in aggs.items()]
    else:
        sel = [quote_ident(c) for c in columns] if columns else ["*"]
    sql = f"SELECT {', '.join(sel)} FROM {quote_ident(table)}"
    if where:
        sql += f" WHERE {where}"
    if aggs and group_by:
        sql += f" GROUP BY {', '.join(quote_ident(c) for c in group_by)}"
    if limit is not None:
        sql += f" LIMIT {int(limit)}"
    return sql


def _to_df(spark: SparkSession, fields, rows) -> DataFrame:
    return local_frame(spark, rows, T.StructType(fields))


def read_pg(
    spark: SparkSession,
    conn: PgConnection,
    table: str,
    columns: list[str] | None = None,
    where: str | None = None,
    group_by: list[str] | None = None,
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Pushed-down read: the server evaluates the generated SQL and
    only the reduced result becomes a DataFrame. The exact pushdown
    statement is recorded on the result as ``df._pg_sql`` so tests and
    plan audits can assert WHAT the RDBMS executed (the moral
    equivalent of PushedFilters/PushedAggregates in a JDBC plan)."""
    sql = pushdown_sql(table, columns, where, group_by, aggs)
    cols, fields, rows = conn.execute(sql)
    df = _to_df(spark, fields, rows)
    df._pg_sql = sql  # type: ignore[attr-defined]
    return df


def read_pg_partitioned(
    spark: SparkSession,
    conn_factory,
    table: str,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int,
    columns: list[str] | None = None,
    where: str | None = None,
) -> DataFrame:
    """Range-partitioned scan — the same split Spark's JDBC source
    makes (one bounded query per partition; first/last are unbounded
    below/above so no row escapes). ``conn_factory()`` yields a
    connection per partition — at cluster scale each executor dials
    its own (this local build iterates them on the driver; the SQL per
    partition is identical either way)."""
    step = max(1, (upper_bound - lower_bound) // num_partitions)
    qp = quote_ident(partition_column)
    out: DataFrame | None = None
    sqls: list[str] = []
    for i in range(num_partitions):
        lo = lower_bound + i * step
        hi = lower_bound + (i + 1) * step
        # last partition is unbounded ABOVE and first unbounded BELOW,
        # exactly like Spark's JDBC splits — checked in this order so a
        # single partition has no range predicate at all (num_partitions
        # =1 with an upper bound used to silently drop >= upper rows)
        if num_partitions == 1:
            rng = None
        elif i == num_partitions - 1:
            rng = f"{qp} >= {lo}"
        elif i == 0:
            rng = f"{qp} < {hi}"
        else:
            rng = f"{qp} >= {lo} AND {qp} < {hi}"
        if where and rng:
            w = f"({where}) AND {rng}"
        else:
            w = where or rng
        sql = pushdown_sql(table, columns, w)
        sqls.append(sql)
        conn = conn_factory()
        try:
            _, fields, rows = conn.execute(sql)
        finally:
            conn.close()
        part = _to_df(spark, fields, rows)
        out = part if out is None else out.unionByName(part)
    assert out is not None
    out._pg_sql = sqls  # type: ignore[attr-defined]
    return out


def copy_df(conn: PgConnection, table: str, df: DataFrame) -> None:
    """Stage a (small) DataFrame as a Postgres table — the test/dev
    loader (PostgresDatabase.cs creates tables from Andl headings the
    same way). Collects: only for fixtures and dimension snapshots."""
    _SQL_TYPES = {
        "string": "text", "double": "double precision", "float": "real",
        "bigint": "bigint", "int": "integer", "boolean": "boolean",
    }
    cols = ", ".join(
        f"{quote_ident(f.name)} {_SQL_TYPES.get(f.dataType.simpleString(), 'text')}"
        for f in df.schema.fields)
    conn.execute(f"DROP TABLE IF EXISTS {quote_ident(table)}")
    conn.execute(f"CREATE TABLE {quote_ident(table)} ({cols})")
    rows = df.collect()
    if not rows:
        return

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            # repr() of non-finite floats is bare inf/nan — invalid PG
            # numeric literals; PG wants the quoted-cast spelling
            if v != v:
                return "'NaN'::float8"
            if v == float("inf"):
                return "'Infinity'::float8"
            if v == float("-inf"):
                return "'-Infinity'::float8"
            return repr(v)
        if isinstance(v, (int, Decimal)):
            return str(v)
        return "'" + str(v).replace("'", "''") + "'"

    for i in range(0, len(rows), 500):
        chunk = rows[i:i + 500]
        values = ", ".join(
            "(" + ", ".join(lit(v) for v in r) + ")" for r in chunk)
        conn.execute(f"INSERT INTO {quote_ident(table)} VALUES {values}")

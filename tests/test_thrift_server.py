"""Real Thrift RPC round-trip (VERDICT r3 item 4): the catalog the
reference serves over Thrift (ThriftSupplierPart/thriftsupplierpart.andl)
is served by andl_spark/thrift_server.py over TBinaryProtocol on a real
socket, and a wire-level client drives the reference client's own
workflow (ThriftSupplierPart/Client.cs): findall / create / find /
update / delete supplier, findsome_part with a relation-typed query
parameter, plus unknown-method and in-call error handling.

The wire format is pinned against the PUBLIC Thrift spec with golden
bytes (strict header 0x80010001, big-endian primitives) so client and
server sharing one protocol implementation cannot hide a framing bug.
"""

from __future__ import annotations

import io
import socket
from decimal import Decimal
from pathlib import Path

import pytest

from andl_spark.lang import AndlSession
from andl_spark.thrift_server import (
    MSG_CALL, MSG_EXCEPTION, MSG_REPLY, T_DOUBLE, T_LIST, T_STOP, T_STRING,
    T_STRUCT, AndlThriftServer, TBinaryProtocol,
)

THRIFTSP = Path("/root/reference/ThriftSupplierPart")


# ---------------------------------------------------------------------
# a minimal wire client (the generated-code shape: write call struct,
# read result struct)
# ---------------------------------------------------------------------
class _Client:
    def __init__(self, port):
        self._sock = socket.create_connection(("127.0.0.1", port), timeout=30)
        self._proto = TBinaryProtocol(
            self._sock.makefile("rb"), self._sock.makefile("wb"))
        self._seq = 0

    def close(self):
        self._sock.close()

    def call(self, method, *args):
        """args: ("text", s) | ("number", x) | ("rel", [row-tuples]) —
        positional, field IDs from 1 (Processor.cs ReadFields)."""
        p = self._proto
        self._seq += 1
        p.write_message_begin(method, MSG_CALL, self._seq)
        for i, (kind, v) in enumerate(args):
            if kind == "text":
                p.write_field_begin(T_STRING, i + 1)
                p.write_string(v)
            elif kind == "number":
                p.write_field_begin(T_DOUBLE, i + 1)
                p.write_double(float(v))
            elif kind == "rel":
                p.write_field_begin(T_LIST, i + 1)
                p.write_list_begin(T_STRUCT, len(v))
                for row in v:
                    for j, cell in enumerate(row):
                        if isinstance(cell, str):
                            p.write_field_begin(T_STRING, j + 1)
                            p.write_string(cell)
                        else:
                            p.write_field_begin(T_DOUBLE, j + 1)
                            p.write_double(float(cell))
                    p.write_field_stop()
        p.write_field_stop()
        p.flush()
        return self._read_result(method)

    def _read_result(self, method):
        p = self._proto
        name, mtype, seq = p.read_message_begin()
        assert name == method and seq == self._seq
        if mtype == MSG_EXCEPTION:
            msg = code = None
            while True:
                ft, fid = p.read_field_begin()
                if ft == T_STOP:
                    break
                if fid == 1 and ft == T_STRING:
                    msg = p.read_string()
                elif fid == 2:
                    code = p.read_i32()
                else:
                    p.skip(ft)
            raise RuntimeError(f"thrift exception {code}: {msg}")
        assert mtype == MSG_REPLY
        result = None
        while True:
            ft, fid = p.read_field_begin()
            if ft == T_STOP:
                return result
            if fid == 0 and ft == T_LIST:  # Success: list<Struct>
                _et, n = p.read_list_begin()
                result = [self._read_struct() for _ in range(n)]
            elif fid == 0 and ft == T_DOUBLE:
                result = p.read_double()
            elif fid == 0 and ft == T_STRING:
                result = p.read_string()
            else:
                p.skip(ft)

    def _read_struct(self):
        p = self._proto
        out = {}
        while True:
            ft, fid = p.read_field_begin()
            if ft == T_STOP:
                return out
            if ft == T_STRING:
                out[fid] = p.read_string()
            elif ft == T_DOUBLE:
                out[fid] = p.read_double()
            else:
                p.skip(ft)


@pytest.fixture(scope="module")
def served(reference_tree, spark):
    sess = AndlSession(spark, THRIFTSP)
    sess.run_path(THRIFTSP / "thriftsupplierpart.andl")
    server = AndlThriftServer(sess).start()
    client = _Client(server.port)
    yield client
    client.close()
    server.stop()


def test_golden_wire_bytes():
    """The strict call header is the PUBLIC spec's bytes — pinned so a
    symmetric client/server bug cannot self-certify."""
    buf = io.BytesIO()
    p = TBinaryProtocol(io.BytesIO(), buf)
    p.write_message_begin("ping", MSG_CALL, 7)
    assert buf.getvalue() == bytes.fromhex(
        "80010001" "00000004" + b"ping".hex() + "00000007")
    # and the reader accepts both strict and legacy framings
    legacy = bytes.fromhex("00000004") + b"ping" + bytes.fromhex("01" "00000007")
    name, mtype, seq = TBinaryProtocol(io.BytesIO(legacy), io.BytesIO()) \
        .read_message_begin()
    assert (name, mtype, seq) == ("ping", MSG_CALL, 7)
    rt = TBinaryProtocol(io.BytesIO(buf.getvalue()), io.BytesIO())
    assert rt.read_message_begin() == ("ping", MSG_CALL, 7)


def test_findall_and_find(served):
    rows = served.call("findall_supplier")
    assert len(rows) == 5
    # struct field IDs are positional: 1=Sid 2=SNAME 3=STATUS 4=CITY
    byid = {r[1]: r for r in rows}
    assert byid["S1"][2] == "Smith" and byid["S1"][3] == 20.0
    one = served.call("find_supplier", ("text", "S3"))
    assert len(one) == 1 and one[0][2] == "Blake"


def test_crud_round_trip(served):
    """Client.cs's workflow: create → find → update → delete, each a
    separate RPC against shared interpreter state."""
    served.call("create_supplier",
                ("rel", [("S9", "Nine", 99.0, "Oslo")]))
    assert len(served.call("findall_supplier")) == 6
    got = served.call("find_supplier", ("text", "S9"))
    assert got[0][2] == "Nine" and got[0][4] == "Oslo"
    served.call("update_supplier", ("text", "S9"),
                ("rel", [("S9", "Neuf", 9.0, "Paris")]))
    got = served.call("find_supplier", ("text", "S9"))
    assert got[0][2] == "Neuf" and got[0][4] == "Paris"
    served.call("delete_supplier", ("text", "S9"))
    assert len(served.call("findall_supplier")) == 5
    assert served.call("find_supplier", ("text", "S9")) == []


def test_relation_query_param(served):
    """findsome_part(query: Tquery) — the relation-typed query-pair
    parameter (Tquery Key/Value structs) reaches the regex scan."""
    rows = served.call("findsome_part",
                       ("rel", [("PNAME", "S.*")]))
    names = {r[2] for r in rows}
    assert names == {"Screw"} and len(rows) == 2  # P3 + P4


def test_unknown_method_and_app_error(served):
    with pytest.raises(RuntimeError, match="Invalid method name"):
        served.call("no_such_op", ("text", "x"))
    # an in-call failure comes back as an EXCEPTION message, and the
    # connection stays usable for the next call
    with pytest.raises(RuntimeError):
        served.call("find_supplier", ("number", Decimal(3)))  # wrong type
    assert len(served.call("findall_supplier")) == 5


def test_findall_supplies_shorthand(served):
    """`findall_supplies => Supplies` (the name => expr shorthand) is
    served like any def."""
    rows = served.call("findall_supplies")
    assert len(rows) == 12


def test_mid_read_failure_closes_connection(served, spark):
    """A list arg for a scalar-typed parameter fails while the request
    bytes are still on the wire: the server must reply AND close (a
    kept connection would parse leftover bytes as the next header —
    review r4). A fresh connection then works."""
    port = served._sock.getpeername()[1]
    poisoned = _Client(port)
    with pytest.raises(RuntimeError, match="not a catalog relation"):
        poisoned.call("find_supplier", ("rel", [("S1", "x", 1.0, "y")]))
    # the connection is then CLOSED by the server: a follow-up call on
    # it fails loudly instead of desyncing on leftover bytes
    with pytest.raises((EOFError, ConnectionError, OSError, ValueError)):
        poisoned.call("findall_supplier")
    poisoned.close()
    # the server itself is healthy: a fresh connection works
    fresh = _Client(port)
    assert len(fresh.call("findall_supplier")) == 5
    fresh.close()


def test_ticks_integer_precision():
    """ADVICE r4: float tick division shifted current-era timestamps by
    microseconds (tick counts ~6.4e17 >> 2^53). Integer arithmetic must
    round-trip exactly."""
    from datetime import datetime

    from andl_spark.thrift_server import _from_ticks, _to_ticks

    for dt in (datetime(2026, 8, 14, 12, 34, 56, 789123),
               datetime(1999, 12, 31, 23, 59, 59, 999999),
               datetime(1, 1, 1, 0, 0, 0, 1)):
        assert _from_ticks(_to_ticks(dt)) == dt
    # and ticks themselves are exact multiples of 10 per microsecond
    assert _to_ticks(datetime(1, 1, 1, 0, 0, 0, 1)) == 10


def test_relation_param_bigint_heading_coerced(served, spark):
    """ADVICE r4: the IDL maps Andl numbers to Thrift DOUBLE, so a
    decoded relation param arrives as floats; a catalog relation whose
    heading has bigint columns (parquet-backed relvar) must not abort
    Spark schema verification."""
    from andl_spark.thrift_server import AndlThriftServer

    class _Sess:
        pass

    sess = _Sess()
    sess.spark = spark
    srv = AndlThriftServer.__new__(AndlThriftServer)
    srv.sess = sess
    schema = spark.createDataFrame(
        [(1, 2.0, "x")], "k bigint, v double, s string").schema
    relv = srv._rows_to_relv([(1.0, 2.5, "a"), (7.0, None, None)], schema)
    rows = sorted(relv.df.collect(), key=lambda r: r.k)
    assert rows[0].k == 1 and isinstance(rows[0].k, int)
    assert rows[1].k == 7 and rows[1].v is None

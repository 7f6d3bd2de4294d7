"""Thrift binary-protocol RPC server over the interpreter catalog —
Andl.Thrift parity (ThriftServer.cs:1, Processor.cs:1).

The reference serves its catalog-stored operators over real Thrift:
a generic TProcessor maps each incoming message name to a stored
operator, converts Thrift fields positionally into typed arguments
(field ID - 1 = argument index), calls it through the gateway, and
writes the result struct back (Processor.cs ReadFields/WriteFields).
The IDL the clients compile against is generated from the same
catalog (ThriftGen.cs — our lang/idl.py twin).

This module re-expresses that wire surface with nothing but the
standard library: a hand-written TBinaryProtocol (the framing is a
public, stable spec: strict header 0x8001 | message type, big-endian
primitives) over a threading TCP server, dispatching to the SAME
interpreter session the CLI/REST paths use. A client generated from
`andl -t`'s IDL by the stock Thrift compiler speaks exactly this
format, so the reference's create/read/update/delete supplier
workflow (ThriftSupplierPart/Client.cs) round-trips over a socket.

Type mapping (Processor.cs _typedict):
    text → STRING      number → DOUBLE      bool → BOOL
    time → I64 (.NET DateTime ticks, 100 ns since 0001-01-01)
    relation → LIST of STRUCT (fields positional, IDs from 1)
    void → empty result struct
The result value is field ID 0 ("Success"), per standard Thrift
generated code and Processor.cs WriteResult.

Scale note: the RPC layer is a control-plane veneer exactly like
server.py — each call compiles to a Spark plan; results are
interpreter relations (catalog-scale, not fact-table-scale). One
lock serializes calls into the shared interpreter session.
"""

from __future__ import annotations

import socketserver
import struct
import threading
from datetime import date, datetime, timedelta
from decimal import Decimal

from .util import local_frame

# ---------------------------------------------------------------------
# TBinaryProtocol constants (public Thrift spec)
# ---------------------------------------------------------------------
T_STOP, T_VOID, T_BOOL, T_BYTE, T_DOUBLE = 0, 1, 2, 3, 4
T_I16, T_I32, T_I64, T_STRING, T_STRUCT = 6, 8, 10, 11, 12
T_MAP, T_SET, T_LIST = 13, 14, 15

MSG_CALL, MSG_REPLY, MSG_EXCEPTION, MSG_ONEWAY = 1, 2, 3, 4
VERSION_1 = 0x80010000
# TApplicationException codes
EX_UNKNOWN, EX_UNKNOWN_METHOD, EX_INTERNAL = 0, 1, 6

_TICKS_EPOCH = datetime(1, 1, 1)


def _to_ticks(dt: datetime) -> int:
    # integer arithmetic throughout: current-era tick counts (~6.4e17)
    # are far past float's exact-integer range (2^53), so a float
    # round-trip would shift timestamps by whole microseconds
    delta = dt - _TICKS_EPOCH
    us = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
    return us * 10


def _from_ticks(ticks: int) -> datetime:
    return _TICKS_EPOCH + timedelta(
        seconds=ticks // 10_000_000,
        microseconds=(ticks % 10_000_000) // 10,
    )


class TBinaryProtocol:
    """Minimal strict-write / lenient-read binary protocol over a
    file-like binary stream (the C# server's default pairing)."""

    def __init__(self, rfile, wfile):
        self._r, self._w = rfile, wfile

    # -- primitives ----------------------------------------------------
    def _read(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self._r.read(n - len(buf))
            if not chunk:
                raise EOFError("connection closed")
            buf += chunk
        return buf

    def read_byte(self):
        return struct.unpack("!b", self._read(1))[0]

    def read_i16(self):
        return struct.unpack("!h", self._read(2))[0]

    def read_i32(self):
        return struct.unpack("!i", self._read(4))[0]

    def read_i64(self):
        return struct.unpack("!q", self._read(8))[0]

    def read_double(self):
        return struct.unpack("!d", self._read(8))[0]

    def read_bool(self):
        return self.read_byte() != 0

    def read_string(self):
        return self._read(self.read_i32()).decode("utf-8")

    def write_byte(self, v):
        self._w.write(struct.pack("!b", v))

    def write_i16(self, v):
        self._w.write(struct.pack("!h", v))

    def write_i32(self, v):
        self._w.write(struct.pack("!i", v))

    def write_i64(self, v):
        self._w.write(struct.pack("!q", v))

    def write_double(self, v):
        self._w.write(struct.pack("!d", v))

    def write_bool(self, v):
        self.write_byte(1 if v else 0)

    def write_string(self, s):
        b = s.encode("utf-8")
        self.write_i32(len(b))
        self._w.write(b)

    # -- message layer -------------------------------------------------
    def read_message_begin(self):
        first = self.read_i32()
        if first < 0:  # strict: 0x8001..tt (Python & yields the
            # unsigned view of the negative i32)
            if (first & 0xFFFF0000) != VERSION_1:
                raise ValueError(f"bad thrift version 0x{first & 0xFFFFFFFF:x}")
            mtype = first & 0xFF
            name = self.read_string()
        else:  # old (non-strict) encoding: name length came first
            name = self._read(first).decode("utf-8")
            mtype = self.read_byte()
        seqid = self.read_i32()
        return name, mtype, seqid

    def write_message_begin(self, name, mtype, seqid):
        self.write_i32(-(((1 << 32) - (VERSION_1 | mtype))))
        self.write_string(name)
        self.write_i32(seqid)

    def read_field_begin(self):
        ftype = self.read_byte()
        if ftype == T_STOP:
            return ftype, 0
        return ftype, self.read_i16()

    def write_field_begin(self, ftype, fid):
        self.write_byte(ftype)
        self.write_i16(fid)

    def write_field_stop(self):
        self.write_byte(T_STOP)

    def read_list_begin(self):
        return self.read_byte(), self.read_i32()

    def write_list_begin(self, etype, count):
        self.write_byte(etype)
        self.write_i32(count)

    def flush(self):
        self._w.flush()

    # -- skip (unknown fields / unknown methods) -----------------------
    def skip(self, ftype):
        if ftype in (T_BOOL, T_BYTE):
            self._read(1)
        elif ftype == T_I16:
            self._read(2)
        elif ftype == T_I32:
            self._read(4)
        elif ftype in (T_I64, T_DOUBLE):
            self._read(8)
        elif ftype == T_STRING:
            self._read(self.read_i32())
        elif ftype == T_STRUCT:
            while True:
                t, _ = self.read_field_begin()
                if t == T_STOP:
                    return
                self.skip(t)
        elif ftype in (T_LIST, T_SET):
            et, n = self.read_list_begin()
            for _ in range(n):
                self.skip(et)
        elif ftype == T_MAP:
            kt = self.read_byte()
            vt = self.read_byte()
            n = self.read_i32()
            for _ in range(n):
                self.skip(kt)
                self.skip(vt)
        else:
            raise ValueError(f"cannot skip thrift type {ftype}")


#: Spark dtype → Thrift wire type for result struct fields
def _wire_type(spark_type: str) -> int:
    base = spark_type.split("(")[0]
    if base in ("double", "float", "int", "bigint", "decimal", "smallint"):
        return T_DOUBLE
    if base == "boolean":
        return T_BOOL
    if base in ("timestamp", "timestamp_ntz", "date"):
        return T_I64
    return T_STRING


def _wire_value(proto: TBinaryProtocol, wtype: int, v) -> None:
    if wtype == T_DOUBLE:
        proto.write_double(float(v) if v is not None else 0.0)
    elif wtype == T_BOOL:
        proto.write_bool(bool(v))
    elif wtype == T_I64:
        if isinstance(v, date) and not isinstance(v, datetime):
            v = datetime(v.year, v.month, v.day)  # DateType rows
        proto.write_i64(_to_ticks(v) if isinstance(v, datetime) else int(v or 0))
    else:
        proto.write_string("" if v is None else str(v))


class _DirtyStream(Exception):
    """The request stream position is unknown (mid-read failure): the
    reply has been written; the connection must end cleanly."""


class _Handler(socketserver.StreamRequestHandler):
    """One connection = a stream of call messages (Processor.Process
    loop); EOF ends the session."""

    def handle(self):
        import socket as _socket

        proto = TBinaryProtocol(self.rfile, self.wfile)
        while True:
            try:
                name, mtype, seqid = proto.read_message_begin()
            except (EOFError, ConnectionError):
                return
            try:
                self.server.dispatch(proto, name, seqid)  # type: ignore[attr-defined]
            except _DirtyStream:
                # deliver the already-flushed reply RELIABLY: a close
                # with unread bytes in the receive buffer RSTs the
                # connection and can destroy the in-flight reply. FIN
                # our side first, then drain whatever the client had
                # already sent until it closes (bounded by timeout).
                try:
                    self.connection.shutdown(_socket.SHUT_WR)
                    self.connection.settimeout(5)
                    while self.connection.recv(65536):
                        pass
                except OSError:
                    pass
                return
            except (EOFError, ConnectionError):
                return
            except Exception as e:  # noqa: BLE001 — wire-level fallback
                _write_exception(proto, name, seqid, EX_INTERNAL, str(e))


def _write_exception(proto, name, seqid, code, msg):
    proto.write_message_begin(name, MSG_EXCEPTION, seqid)
    proto.write_field_begin(T_STRING, 1)
    proto.write_string(msg)
    proto.write_field_begin(T_I32, 2)
    proto.write_i32(code)
    proto.write_field_stop()
    proto.flush()


class AndlThriftServer:
    """Serve a lang interpreter session's stored operators over Thrift
    binary protocol — the Andl.Thrift server loop. Port 0 (default)
    picks an ephemeral port; read ``.port`` after ``start()``."""

    def __init__(self, lang_session, host: str = "127.0.0.1", port: int = 0):
        self.sess = lang_session
        self._lock = threading.RLock()
        outer = self

        class _Srv(socketserver.ThreadingTCPServer):
            daemon_threads = True
            allow_reuse_address = True

            def dispatch(self, proto, name, seqid):
                outer._dispatch(proto, name, seqid)

        self._tcp = _Srv((host, port), _Handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._tcp.server_address[1]

    def start(self) -> "AndlThriftServer":
        self._thread = threading.Thread(
            target=self._tcp.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._tcp.shutdown()
        self._tcp.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    # -- the generic processor (Processor.cs parity) -------------------
    def _dispatch(self, proto: TBinaryProtocol, name: str, seqid: int) -> None:
        from .lang.interp import RelV, TupV  # local import avoids cycle

        overloads = self.sess.defs.get(name)
        if not overloads:
            # Processor.Process: skip args, answer UNKNOWN_METHOD
            proto.skip(T_STRUCT)
            _write_exception(proto, name, seqid, EX_UNKNOWN_METHOD,
                             f"Invalid method name: '{name}'")
            return
        fd = overloads[0]
        try:
            args = self._read_args(proto, fd)
        except (EOFError, ConnectionError):
            raise
        except Exception as e:  # noqa: BLE001 — mid-read failure: the
            # request's remaining bytes are unconsumed, so the stream
            # position is unknown — reply, then END the connection
            # cleanly (the handler FINs and drains; continuing would
            # parse leftover arg bytes as a header)
            _write_exception(proto, name, seqid, EX_INTERNAL, str(e))
            raise _DirtyStream from e
        try:
            with self._lock:
                result = self.sess._call_user(fd, args)
                # materialize relation results NOW: a lazy plan failing
                # during the reply write would corrupt the stream
                # mid-message — errors must surface BEFORE the header
                if isinstance(result, RelV):
                    fields = [(f.name, _wire_type(f.dataType.simpleString()))
                              for f in result.df.schema.fields]
                    rows = result.df.collect()
        except Exception as e:  # noqa: BLE001 — app error → EXCEPTION msg
            _write_exception(proto, name, seqid, EX_UNKNOWN, str(e))
            return
        proto.write_message_begin(name, MSG_REPLY, seqid)
        # result struct: Success = field ID 0 (WriteResult isspecial)
        if isinstance(result, RelV):
            proto.write_field_begin(T_LIST, 0)
            proto.write_list_begin(T_STRUCT, len(rows))
            for r in rows:
                for i, (fname, wtype) in enumerate(fields):
                    proto.write_field_begin(wtype, i + 1)
                    _wire_value(proto, wtype, r[fname])
                proto.write_field_stop()
        elif isinstance(result, TupV):
            # tuple result: Success (field 0) is a STRUCT whose fields
            # are the tuple attributes — the shape a client generated
            # from the emitted IDL unpacks (a bare field-1..n spill
            # would be skipped as unknown fields)
            proto.write_field_begin(T_STRUCT, 0)
            for i, (k, v) in enumerate(result.items()):
                # isinstance, not exact type: bool precedes int (bool
                # IS int), and datetime.date covers DateType row values
                if isinstance(v, bool):
                    wtype = T_BOOL
                elif isinstance(v, (Decimal, float, int)):
                    wtype = T_DOUBLE
                elif isinstance(v, date):  # datetime included
                    wtype = T_I64
                else:
                    wtype = T_STRING
                proto.write_field_begin(wtype, i + 1)
                _wire_value(proto, wtype, v)
            proto.write_field_stop()
        elif isinstance(result, bool):
            proto.write_field_begin(T_BOOL, 0)
            proto.write_bool(result)
        elif isinstance(result, (Decimal, int, float)):
            proto.write_field_begin(T_DOUBLE, 0)
            proto.write_double(float(result))
        elif isinstance(result, datetime):
            proto.write_field_begin(T_I64, 0)
            proto.write_i64(_to_ticks(result))
        elif isinstance(result, str):
            proto.write_field_begin(T_STRING, 0)
            proto.write_string(result)
        # None → void: empty result struct
        proto.write_field_stop()
        proto.flush()

    def _read_args(self, proto: TBinaryProtocol, fd) -> list:
        """ReadFields parity: field ID - 1 = parameter index; LIST of
        STRUCT fields become interpreter relations typed by the
        parameter's declared relation (its struct heading)."""
        vals: list = [None] * len(fd.params)
        while True:
            ftype, fid = proto.read_field_begin()
            if ftype == T_STOP:
                break
            idx = fid - 1
            if idx < 0 or idx >= len(fd.params):
                proto.skip(ftype)
                continue
            pname, ptype = fd.params[idx]
            if ftype == T_STRING:
                vals[idx] = proto.read_string()
            elif ftype == T_DOUBLE:
                vals[idx] = Decimal(repr(proto.read_double()))
            elif ftype == T_BOOL:
                vals[idx] = proto.read_bool()
            elif ftype in (T_BYTE, T_I16, T_I32):
                vals[idx] = Decimal(
                    {T_BYTE: proto.read_byte, T_I16: proto.read_i16,
                     T_I32: proto.read_i32}[ftype]())
            elif ftype == T_I64:
                vals[idx] = _from_ticks(proto.read_i64())
            elif ftype == T_LIST:
                _etype, count = proto.read_list_begin()
                template = self._param_template(ptype)
                rows = [self._read_struct_row(proto, template)
                        for _ in range(count)]
                vals[idx] = self._rows_to_relv(rows, template)
            elif ftype == T_STRUCT:
                template = self._param_template(ptype)
                row = self._read_struct_row(proto, template)
                vals[idx] = self._rows_to_relv([row], template)
            else:
                proto.skip(ftype)
        return vals

    def _param_template(self, ptype: str):
        """The schema a relation-typed parameter's structs bind to:
        the like-named catalog relation (`s:Supplier` → Supplier's
        heading, exactly how idl.py renders `list<Supplier> s`)."""
        from .lang.interp import RelV

        v = self.sess.globals.get(ptype) or self.sess.globals.get(f"^{ptype}")
        if isinstance(v, RelV):
            return v.df.schema
        raise ValueError(
            f"parameter type {ptype!r} is not a catalog relation")

    def _read_struct_row(self, proto: TBinaryProtocol, schema) -> tuple:
        out = [None] * len(schema.fields)
        while True:
            ftype, fid = proto.read_field_begin()
            if ftype == T_STOP:
                return tuple(out)
            i = fid - 1
            if i < 0 or i >= len(schema.fields):
                proto.skip(ftype)
                continue
            if ftype == T_STRING:
                out[i] = proto.read_string()
            elif ftype == T_DOUBLE:
                out[i] = proto.read_double()
            elif ftype == T_BOOL:
                out[i] = proto.read_bool()
            elif ftype == T_I64:
                out[i] = _from_ticks(proto.read_i64())
            elif ftype in (T_BYTE, T_I16, T_I32):
                out[i] = float({T_BYTE: proto.read_byte,
                                T_I16: proto.read_i16,
                                T_I32: proto.read_i32}[ftype]())
            else:
                proto.skip(ftype)

    def _rows_to_relv(self, rows, schema):
        from .lang.interp import RelV
        from .relation import Relation

        # The IDL maps every Andl number to Thrift DOUBLE, so decoded
        # structs carry floats even when the catalog relation's heading
        # has bigint/int columns (parquet-backed relvars). Coerce each
        # value to its schema field's type up front — Spark's schema
        # verification rejects float-for-long otherwise, aborting the
        # call and tearing down the connection.
        casts = []
        for f in schema.fields:
            t = f.dataType.typeName()
            if t in ("long", "integer", "short", "byte"):
                casts.append(lambda v: None if v is None else int(v))
            elif t in ("double", "float"):
                casts.append(lambda v: None if v is None else float(v))
            else:
                casts.append(lambda v: v)
        rows = [tuple(c(v) for c, v in zip(casts, row)) for row in rows]
        df = local_frame(self.sess.spark, rows, schema)
        return RelV(Relation(df))

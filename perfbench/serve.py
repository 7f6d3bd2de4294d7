"""The ``serve`` workload: two closed-loop clients against an in-process
``AndlRestServer`` over a catalog holding ``customer`` and ``orders``.

Each pass plays two request scripts drawn from the run's seed, one per
client thread; a client sends its next request when the previous reply
has arrived. The reader client sends ``GET /rest/<t>/<id>``, filtered
``GET /rest/customer?...``, small ``POST /api/sql`` aggregates and
small self-contained ``POST /api/andl`` programs. The writer client
sends ``PUT /rest/customer/<id>`` and ``POST /rest/customer`` inserts,
each followed by a ``GET`` that must read the written value back. Only
the writer changes data, and only columns and rows the reader's checks
do not depend on, so every reply has one right answer.

A write re-registers its relvar as a checkpointed frame, so after the
first write ``customer`` is read from memory. The writer never touches
``orders``: its reads keep going through the catalog's parquet files,
so both read paths are in every pass.

The request counts per pass (``READERS``, ``PUTS``, ``INSERTS``) are an
assumption, not recorded traffic: chosen so that one pass takes 5-10 s
on a 4-core host and every request kind appears at least twice.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import statistics
import threading
import time

import pyarrow.parquet as pq

import datagen
from common import metric, tail, warm_setups
from tracing import (EXEC_KEYS, CatalogPuts, JobCounters, Py4jCounter, Spans, TimedLock,
                     dir_bytes, interval_union_ms, overhead_pct, patched, per_layer)

READERS = {"get_customer": 5, "get_order": 5, "filter": 3, "andl": 3}
PUTS, INSERTS = 3, 2
#: The catalog's relvars; each pass sends one ``/api/sql`` aggregate
#: over each.
RELVARS = ("customer", "orders")
#: Inserted customers get a nation no generated customer has, so the
#: reader's per-nation filters and aggregates never see them.
INSERT_NATION = 25


class Request:
    def __init__(self, kind: str, method: str, path: str, body=None, check=None,
                 table: str | None = None):
        self.kind = kind  # read | write | andl
        self.table = table  # the relvar a read reads
        self.method = method
        self.path = path
        self.body = None if body is None else json.dumps(body).encode()
        self.check = check  # reply JSON -> error text or None


def _rows_as_dicts(reply) -> list[dict]:
    return [dict(zip(reply["columns"], r)) for r in reply["rows"]]


class ServeWorkload:
    def __init__(self, ctx, name: str):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.spans = Spans()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.server = None
        self.sess = None
        self.next_customer = datagen.N_CUSTOMER  # first key free for inserts
        cust = pq.read_table(os.path.join(ctx.data_dir, "customer.parquet")).to_pandas()
        self.segment_counts = cust.groupby(["c_nationkey", "c_mktsegment"]).size().to_dict()

    # -- set-up ----------------------------------------------------------
    def setup(self, i: int) -> tuple[float, float]:
        """Session start, table handles, catalog build and a listening
        server. Returns the whole set-up time and the table-handle part."""
        from andl_spark.api import AndlSession
        from andl_spark.server import AndlRestServer
        from andl_spark.session import load_tables

        t0 = time.perf_counter()
        self.close()
        self.ctx.start_session()
        group = f"pb:setup:{i}"
        if self.ctx.trace:
            self.ctx.set_job_group(group)
        t1 = time.perf_counter()
        tables = load_tables(self.ctx.spark, self.ctx.data_dir, register_views=False)
        t2 = time.perf_counter()
        if self.ctx.trace:
            self.ctx.set_job_group(None)
        self.sess = AndlSession(self.ctx.spark, os.path.join(self.ctx.run_dir, f"catalog{i}"))
        for name in RELVARS:
            self.sess.catalog.put(name, tables[name])
        self.sess.catalog.register_views()
        self.server = AndlRestServer(self.sess).start()
        t3 = time.perf_counter()
        self.spans.add("session.setup", t0, t3, op=group)
        self.spans.add("session.load_tables", t1, t2, op=group, parent="session.setup")
        self.spans.add("catalog.build", t2, t3, op=group, parent="session.setup")
        return t3 - t0, t2 - t1

    def close(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None

    # -- request scripts -------------------------------------------------
    def _reader_script(self, counts: dict) -> list[Request]:
        rng, out = self.rng, []
        for _ in range(counts["get_customer"]):
            k = rng.randrange(datagen.N_CUSTOMER)
            out.append(Request("read", "GET", f"/rest/customer/{k}",
                               check=_one_row("c_custkey", k), table="customer"))
        for _ in range(counts["get_order"]):
            k = rng.randrange(datagen.N_ORDERS)
            out.append(Request("read", "GET", f"/rest/orders/{k}",
                               check=_one_row("o_orderkey", k), table="orders"))
        for _ in range(counts["filter"]):
            n = rng.randrange(25)
            seg = rng.choice(datagen.SEGMENTS)
            out.append(Request(
                "read", "GET", f"/rest/customer?c_nationkey={n}&c_mktsegment={seg}",
                check=_filtered(n, seg, self.segment_counts.get((n, seg), 0)),
                table="customer"))
        for table in RELVARS:
            sql = self._sql(table)
            out.append(Request("read", "POST", "/api/sql", {"sql": sql},
                               check=_same_as(self.ctx.oracle, sql), table=table))
        for _ in range(counts["andl"]):
            vals = rng.sample(range(1, 100), rng.randrange(3, 7))
            t = rng.choice(vals) - 1
            src = ("v := {" + ", ".join(f"{{ a:={x} }}" for x in vals) + "}\n"
                   f"write('n=' & v.where(a > {t}).count)\n"
                   f"write('s=' & v.where(a > {t}).select{{ fold(+,a) }})")
            want = [f"n={sum(x > t for x in vals)}", f"s={sum(x for x in vals if x > t)}"]
            out.append(Request("andl", "POST", "/api/andl", {"src": src},
                               check=_andl_output(want)))
        rng.shuffle(out)
        return out

    def _sql(self, table: str) -> str:
        """A small seeded aggregate over one relvar, on columns and rows
        the writer never changes."""
        rng = self.rng
        if table == "orders":
            lo = rng.randrange(datagen.N_CUSTOMER - 500)
            return (f"SELECT o_orderpriority, COUNT(*) AS n, "
                    f"ROUND(SUM(o_totalprice) + 1e-6, 2) AS total FROM orders "
                    f"WHERE o_custkey BETWEEN {lo} AND {lo + 499} GROUP BY o_orderpriority")
        return (f"SELECT c_mktsegment, COUNT(*) AS n FROM customer "
                f"WHERE c_nationkey = {rng.randrange(25)} GROUP BY c_mktsegment")

    def _writer_script(self, puts: int, inserts: int) -> list[Request]:
        rng, pairs = self.rng, []
        for _ in range(puts):
            k = rng.randrange(datagen.N_CUSTOMER)
            bal = round(rng.uniform(-999.0, 9999.0), 2)
            pairs.append([
                Request("write", "PUT", f"/rest/customer/{k}", {"c_acctbal": bal},
                        check=_ok),
                Request("read", "GET", f"/rest/customer/{k}",
                        check=_one_row("c_custkey", k, c_acctbal=bal), table="customer"),
            ])
        for _ in range(inserts):
            k = self.next_customer
            self.next_customer += 1
            row = {"c_custkey": k, "c_name": f"Customer#{k:09d}",
                   "c_nationkey": INSERT_NATION,
                   "c_acctbal": round(rng.uniform(-999.0, 9999.0), 2),
                   "c_mktsegment": rng.choice(datagen.SEGMENTS)}
            pairs.append([
                Request("write", "POST", "/rest/customer", [row], check=_ok),
                Request("read", "GET", f"/rest/customer/{k}",
                        check=_one_row("c_custkey", k, c_acctbal=row["c_acctbal"],
                                       c_mktsegment=row["c_mktsegment"]), table="customer"),
            ])
        rng.shuffle(pairs)
        return [r for p in pairs for r in p]

    # -- one pass ----------------------------------------------------------
    def _send(self, conn_port: int, req: Request, rid: str):
        conn = http.client.HTTPConnection("127.0.0.1", conn_port, timeout=60)
        try:
            headers = {"X-Perfbench-Req": rid}
            if req.body is not None:
                headers["Content-Type"] = "application/json"
            conn.request(req.method, req.path, body=req.body, headers=headers)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def _client(self, script: list[Request], results: list, port: int, label: str,
                client: int) -> None:
        for j, req in enumerate(script):
            rid = f"{label}.c{client}.{j}"
            t0 = time.perf_counter()
            try:
                status, raw = self._send(port, req, rid)
                t1 = time.perf_counter()
                reply = json.loads(raw)
                err = None if status == 200 else f"HTTP {status}: {reply.get('error')}"
                if err is None and req.check is not None:
                    err = req.check(reply)
            except Exception as e:  # noqa: BLE001
                t1, reply, err = time.perf_counter(), {}, f"raised {e!r}"
            rows = len(reply.get("rows", [])) if isinstance(reply, dict) else 0
            results.append((req, rid, t0, t1, err, rows))

    def run_pass(self, label: str) -> dict:
        scripts = [self._reader_script(READERS), self._writer_script(PUTS, INSERTS)]
        results: list[list] = [[], []]
        port = self.server.port
        threads = [threading.Thread(target=self._client,
                                    args=(scripts[c], results[c], port, label, c))
                   for c in range(2)]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall = time.perf_counter() - t0
        flat = results[0] + results[1]
        for req, rid, s, e, err, _ in flat:
            self.attempted += 1
            self.spans.add("client.request", s, e, op=rid, kind=req.kind,
                           route=f"{req.method} {req.path}", ok=err is None)
            if err:
                self.failed += 1
                self.failures.append(f"{req.method} {req.path}: {err}"[:300])
        lat = {k: [(e - s) * 1e3 for r, _, s, e, _, _ in flat if r.kind == k]
               for k in ("read", "write", "andl")}
        by_table = {t: [(e - s) * 1e3 for r, _, s, e, _, _ in flat
                        if r.kind == "read" and r.table == t] for t in RELVARS}
        payload = sum(len(r.body) for r, *_ in flat if r.kind == "write")
        return {"label": label, "wall_s": wall, "lat_ms": lat, "read_ms": by_table,
                "requests": len(flat),
                "write_payload_bytes": payload,
                "result_rows": sum(rows for *_, rows in flat)}

    # -- the run -----------------------------------------------------------
    def run(self, seconds: float) -> dict:
        cold_s, _ = self.setup(0)
        # The untimed warm-up is a full pass: after a warm-up of one
        # request of each kind, the first timed pass was still warming
        # up (its wall time up to a third above the next one's). After a
        # full warm-up, timed passes within a run agree closely while
        # runs differ with the host's load, so one timed pass is
        # measured unless --seconds asks for more.
        self.run_pass("warmup")
        if self.ctx.trace:
            return self._traced(cold_s)
        catalog = self.sess.catalog.path
        bytes0 = dir_bytes(catalog)
        passes = []
        start = time.perf_counter()
        while not passes or time.perf_counter() - start < seconds:
            passes.append(self.run_pass(f"timed{len(passes)}"))
        written = dir_bytes(catalog) - bytes0
        setups = warm_setups(self.ctx, self.setup)
        walls = [p["wall_s"] for p in passes]
        e2e = {"setup_s": metric(setups["setup_s"], "s", len(setups["samples"])),
               "wall_s": metric(min(walls), "s", len(walls))}
        for kind in ("read", "write", "andl"):
            lat = [x for p in passes for x in p["lat_ms"][kind]]
            e2e[f"{kind}_p50_ms"] = _p50(lat)
            pct, value = tail(lat)
            e2e[f"{kind}_tail_ms"] = dict(metric(value, "ms", len(lat)), pct=pct)
        requests = sum(p["requests"] for p in passes)
        e2e["rps"] = metric(requests / sum(walls), "req/s", requests)
        payload = sum(p["write_payload_bytes"] for p in passes)
        e2e["write_amp"] = metric(written / payload, "bytes/byte")
        return {
            "attempted": self.attempted, "failed": self.failed,
            "end_to_end": e2e,
            "report": {
                "setup_cold_s": cold_s,
                "setup_s": setups["samples"],
                "wall_s": walls,
                # the writer never touches orders, so its reads stay on
                # the catalog's parquet files
                "read_p50_ms_by_table": {t: _p50([v for p in passes for v in p["read_ms"][t]])
                                         for t in RELVARS},
                "catalog_bytes_written": written,
                "write_payload_bytes": payload,
                "failures": self.failures,
            },
        }

    def _traced(self, cold_s: float) -> dict:
        counters = JobCounters(self.ctx.spark)
        before = self.run_pass("untraced0")
        with ServeTracer(self, counters) as tracer:
            traced = self.run_pass("traced")
        after = self.run_pass("untraced1")
        counters.drain()
        layer = tracer.layer()
        setups = warm_setups(self.ctx, self.setup)
        layer.update({
            "exec.result_rows": traced["result_rows"],
            "session.load_tables_ms": setups["load_tables_ms"],
            "session.footer_jobs": setups["footer_jobs"],
            "trace.overhead_pct": overhead_pct(
                traced["wall_s"], before["wall_s"], after["wall_s"]),
        })
        return {
            "attempted": self.attempted, "failed": self.failed,
            "per_layer": per_layer(layer),
            "spans": self.spans,
            "report": {
                "setup_cold_s": cold_s,
                "setup_s": setups["samples"],
                "untraced_wall_s": [before["wall_s"], after["wall_s"]],
                "traced_wall_s": traced["wall_s"],
                "read_p50_overhead_pct": overhead_pct(*(
                    statistics.median(p["lat_ms"]["read"]) for p in (traced, before, after))),
                "per_request": tracer.per_request,
                "failures": self.failures,
            },
        }


class ServeTracer:
    """Instruments the running server from the outside for one pass:

    * a handler subclass runs each request under its own job group and
      counts its py4j calls;
    * ``server._payload``, which collects a reply's rows, runs under an
      action group, so jobs outside it (interpreter, write path) are the
      request's eager jobs;
    * the Andl parser and interpreter, the server lock and
      ``Catalog.put`` (``tracing.CatalogPuts``) are wrapped with timers."""

    def __init__(self, wl: ServeWorkload, counters: JobCounters):
        self.wl = wl
        self.counters = counters
        self.sc = wl.ctx.spark.sparkContext
        self.py4j = Py4jCounter(wl.ctx.spark)
        self.local = threading.local()
        self._sum_lock = threading.Lock()
        self.requests: list[tuple[str, float, float]] = []
        self.sums = {"action_s": 0.0, "parse_s": 0.0, "run_s": 0.0}
        self.puts = CatalogPuts()
        self.per_request: dict[str, dict] = {}
        self._patches = []

    def _add(self, key: str, value) -> None:
        with self._sum_lock:
            self.sums[key] += value

    def _group(self, suffix: str) -> None:
        with self.py4j.scope(active=False):
            self.sc.setJobGroup(f"pb:traced:{self.local.rid}:{suffix}", self.local.rid)

    def __enter__(self):
        from andl_spark import server as server_mod
        from andl_spark.lang import interp

        tracer, http = self, self.wl.server._http

        def handler(verb, orig):
            def run(handler_self):
                tracer.local.rid = handler_self.headers.get("X-Perfbench-Req", "?")
                tracer._group("build")
                t0 = time.perf_counter()
                try:
                    with tracer.py4j.scope():
                        orig(handler_self)
                finally:
                    t1 = time.perf_counter()
                    with tracer.py4j.scope(active=False):
                        tracer.sc.setLocalProperty("spark.jobGroup.id", None)
                    with tracer._sum_lock:
                        tracer.requests.append((tracer.local.rid, t0, t1))
                    tracer.wl.spans.add("server.request", t0, t1, op=tracer.local.rid,
                                        parent="client.request", verb=verb)
            return run

        base = http.RequestHandlerClass
        traced_handler = type("TracedHandler", (base,), {
            v: handler(v, getattr(base, v)) for v in ("do_GET", "do_POST", "do_PUT")})

        orig_payload = server_mod._payload

        def payload(df, limit):
            self._group("action")
            t0 = time.perf_counter()
            try:
                return orig_payload(df, limit)
            finally:
                self._add("action_s", time.perf_counter() - t0)
                self._group("build")

        def timed(fn, key):
            def wrapper(*a, **k):
                t0 = time.perf_counter()
                try:
                    return fn(*a, **k)
                finally:
                    self._add(key, time.perf_counter() - t0)
            return wrapper

        self.lock = TimedLock(http.andl_lock)
        self._patches = [
            patched(http, "RequestHandlerClass", traced_handler),
            patched(server_mod, "_payload", payload),
            patched(interp, "parse", timed(interp.parse, "parse_s")),
            patched(interp.AndlSession, "run", timed(interp.AndlSession.run, "run_s")),
            patched(http, "andl_lock", self.lock),
            self.puts,
        ]
        for p in self._patches:
            p.__enter__()
        self.py4j.install()
        return self

    def __exit__(self, *exc):
        self.py4j.uninstall()
        for p in reversed(self._patches):
            p.__exit__(None, None, None)

    def layer(self) -> dict:
        total = dict.fromkeys(EXEC_KEYS, 0)
        eager_jobs, eager_ms, build_ms = 0, 0.0, 0.0
        for rid, t0, t1 in self.requests:
            b = self.counters.read(f"pb:traced:{rid}:build")
            a = self.counters.read(f"pb:traced:{rid}:action")
            rec = {k: b[k] + a[k] for k in EXEC_KEYS}
            for k in EXEC_KEYS:
                total[k] += rec[k]
            eager_jobs += b["jobs"]
            eager_ms += interval_union_ms(b["intervals"])
            jobs_ms = interval_union_ms(b["intervals"] + a["intervals"])
            build_ms += (t1 - t0) * 1e3 - jobs_ms
            rec["handler_ms"] = (t1 - t0) * 1e3
            self.per_request[rid] = rec
        s = self.sums
        return {
            "plan.build_ms": build_ms - self.lock.wait_s * 1e3,
            "plan.py4j_calls": self.py4j.calls,
            "driver.eager_jobs": eager_jobs,
            "driver.eager_ms": eager_ms,
            **{f"exec.{k}": v for k, v in total.items()},
            "exec.action_ms": s["action_s"] * 1e3,
            "lang.parse_ms": s["parse_s"] * 1e3,
            "lang.run_ms": s["run_s"] * 1e3,
            "server.lock_wait_ms": self.lock.wait_s * 1e3,
            "server.lock_hold_ms": self.lock.hold_s * 1e3,
            **self.puts.layer(),
        }


def _p50(lat_ms: list[float]) -> dict:
    return metric(statistics.median(lat_ms), "ms", len(lat_ms))


# -- reply checks ------------------------------------------------------------
def _ok(reply) -> str | None:
    return None if reply.get("ok") is True else f"not ok: {reply}"


def _one_row(key: str, value, **expect):
    def check(reply):
        rows = _rows_as_dicts(reply)
        if len(rows) != 1 or rows[0].get(key) != value:
            return f"want one row with {key}={value}, got {rows[:2]}"
        for col, want in expect.items():
            if rows[0].get(col) != want:
                return f"{col}={rows[0].get(col)!r}, want {want!r}"
        return None
    return check


def _filtered(nation: int, segment: str, count: int):
    def check(reply):
        rows = _rows_as_dicts(reply)
        if len(rows) != count:
            return f"want {count} rows, got {len(rows)}"
        bad = [r for r in rows if r["c_nationkey"] != nation or r["c_mktsegment"] != segment]
        return f"{len(bad)} rows fail the filter" if bad else None
    return check


def _same_as(oracle, sql: str):
    import pandas as pd

    want = oracle.sql(sql)

    def check(reply):
        got = pd.DataFrame(reply["rows"], columns=reply["columns"])
        return oracle.compare(got, want)
    return check


def _andl_output(want: list[str]):
    def check(reply):
        if reply.get("failures") or reply.get("output") != want:
            return f"output {reply.get('output')}, want {want}"
        return None
    return check

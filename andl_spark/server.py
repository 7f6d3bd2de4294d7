"""REST/JSON server over AndlSession — the Andl.Server parity surface.

The reference serves its catalog over REST: GET/POST/PUT/DELETE on
`rest/<database>/<name>[/<id>]`, each routed through Gateway.JsonCall
(Andl.Server/Controllers/RestController.cs:23-58), plus ad-hoc
evaluation endpoints. This module re-expresses that on the Spark
session with nothing but the standard library — `http.server` — so a
remote client on any platform can read relvars, page them, filter
them, mutate them (CRUD as relational assignment), and POST ad-hoc
SQL, all as JSON over a socket.

Routes (database == the Spark session; one server per session):
    GET    /rest/<name>?col=val&limit=n   rows of a relvar/view,
                                          equality-filtered by query
                                          params (RestController.cs:23)
    GET    /rest/<name>/<id>              rows whose FIRST column = id
                                          (RestController.cs:29)
    POST   /rest/<name>                   body = JSON list of row
                                          objects -> insert (Andl
                                          `update r union rel`)
    PUT    /rest/<name>/<id>              body = {col: value} ->
                                          update matching rows
    DELETE /rest/<name>/<id>              delete matching rows
    POST   /api/sql                       {"sql": "...", "limit": n}
                                          -> ad-hoc query rows
    GET    /api/variables                 visible relvars/views
                                          (Builtin.cs Variables())
    GET    /api/operators                 defined operators
    POST   /api/call/<op>                 {"args": [...]} -> call a
                                          stored operator
    POST   /api/andl                      {"src": "..."} -> execute
                                          Andl-language source in a
                                          server-held session; returns
                                          display output + failures
                                          (the Gateway/Workbench loop)
    GET    /                              Workbench-lite: a single-file
                                          HTML editor/run/output page
                                          over POST /api/andl (the
                                          Andl.Workbench core loop)

Result shape: {"columns": [...], "rows": [[...], ...]} — column order
preserved, values JSON-scalarized. Every read is bounded by `limit`
(default 1000): a serving endpoint must never materialize an unbounded
relation onto one process.

Scale note: the server is a thin control-plane veneer — every request
compiles to a Spark plan and the LIMIT is pushed into it (CollectLimit
over the scan), so a GET against a 100 TB table reads only what it
returns. Mutations write a NEW catalog version (immutable snapshot
semantics, sources/catalog.py) rather than rewriting in place. Inserted
rows (POST /rest/<name>) pass the relvar schema's type verifier, then
enter the plan as a LocalRelation (util.local_frame), so the
union-and-dedup write starts no Python worker; a wrong-typed row is an
HTTP 400 before any version is written.
"""

from __future__ import annotations

import json
import os
import re
import tempfile
import threading
from datetime import date, datetime
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import local_frame

DEFAULT_LIMIT = 1000

# Workbench-lite: the reference ships a GUI (Andl.Workbench/) whose
# core loop is "edit Andl source → run → read the output". GET /
# serves that loop as one dependency-free page over POST /api/andl.
_WORKBENCH_HTML = """<!doctype html>
<html><head><meta charset="utf-8"><title>Andl Workbench</title><style>
 body{font-family:monospace;margin:1.5em;max-width:72em;display:flex;gap:1.5em}
 #main{flex:1}
 #cat{width:16em;border-left:1px solid #ccc;padding-left:1em}
 #cat h3{margin:.4em 0 .2em}
 #cat li{cursor:pointer;list-style:none;margin:.1em 0}
 #cat li:hover{text-decoration:underline}
 #cat ul{padding-left:.5em;margin:.2em 0}
 textarea{width:100%;height:12em;font:inherit}
 pre{background:#f4f4f4;padding:.8em;white-space:pre-wrap}
 .fail{color:#b00}
</style></head><body>
<div id="main">
<h2>Andl Workbench</h2>
<p>State persists between runs (one server-held session).</p>
<textarea id="src" spellcheck="false">S .where(STATUS &gt; 15)</textarea><br>
<button onclick="run()">Run (Ctrl-Enter)</button>
<input id="scriptname" placeholder="script name" size="14">
<button onclick="saveScript()">Save</button>
<pre id="out"></pre>
</div>
<div id="cat">
<h3>Scripts</h3><ul id="scripts"></ul>
<h3>Relations</h3><ul id="vars"></ul>
<h3>Operators</h3><ul id="ops"></ul>
</div>
<script>
async function run(){
  const r = await fetch('/api/andl', {method:'POST',
    headers:{'Content-Type':'application/json'},
    body: JSON.stringify({src: document.getElementById('src').value})});
  const j = await r.json();
  const out = document.getElementById('out');
  if (!r.ok || 'error' in j){ out.innerHTML = '<span class=fail></span>';
    out.firstChild.textContent = j.error || '(error)';
    if (j.output && j.output.length)
      out.textContent += '\\n(partial) ' + j.output.join('\\n');
    return; }
  out.textContent = j.output.join('\\n');
  if (j.failures.length)
    out.textContent += '\\nFAILED lines: ' + j.failures.join(', ');
  loadCatalog();
}
// the Andl.Workbench catalog tree: click a name to insert it
async function loadCatalog(){
  try {
    const v = await (await fetch('/api/variables')).json();
    const o = await (await fetch('/api/operators')).json();
    const fill = (id, names) => {
      const ul = document.getElementById(id); ul.innerHTML = '';
      (names || []).forEach(n => {
        const li = document.createElement('li');
        li.textContent = n;
        li.onclick = () => { const t = document.getElementById('src');
          t.value += (t.value && !t.value.endsWith('\\n') ? '\\n' : '') + n;
          t.focus(); };
        ul.appendChild(li);
      });
    };
    fill('vars', v.variables); fill('ops', o.operators);
    // script tree (Andl.Workbench save/load): click loads into editor
    const s = await (await fetch('/api/scripts')).json();
    const ul = document.getElementById('scripts'); ul.innerHTML = '';
    (s.scripts || []).forEach(n => {
      const li = document.createElement('li');
      li.textContent = n;
      li.onclick = async () => {
        const j = await (await fetch('/api/scripts/' +
          encodeURIComponent(n))).json();
        document.getElementById('src').value = j.src;
        document.getElementById('scriptname').value = n;
      };
      ul.appendChild(li);
    });
  } catch (e) { /* catalog pane is best-effort */ }
}
async function saveScript(){
  const n = document.getElementById('scriptname').value.trim();
  if (!n) return;
  await fetch('/api/scripts/' + encodeURIComponent(n), {method:'PUT',
    headers:{'Content-Type':'application/json'},
    body: JSON.stringify({src: document.getElementById('src').value})});
  loadCatalog();
}
document.getElementById('src').addEventListener('keydown',
  e => { if (e.ctrlKey && e.key === 'Enter') run(); });
loadCatalog();
</script></body></html>"""


def _jsonable(v):
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    if hasattr(v, "asDict"):  # nested Row
        return {k: _jsonable(x) for k, x in v.asDict().items()}
    return v


def _typed_eq(df: DataFrame, col: str, val: str):
    """Equality against a URL/query string in the COLUMN's own type:
    a double key must match id '1' as 1.0 — comparing cast-to-string
    would test '1.0' == '1' and silently miss every row."""
    return F.col(col) == F.lit(val).cast(df.schema[col].dataType)


def _payload(df: DataFrame, limit: int) -> dict:
    rows = df.limit(limit).collect()
    return {
        "columns": list(df.columns),
        "rows": [[_jsonable(v) for v in row] for row in rows],
    }


_SCRIPT_NAME = re.compile(r"^[A-Za-z0-9_][A-Za-z0-9_.-]{0,63}$")


class _Handler(BaseHTTPRequestHandler):
    # the session rides on the server object (see AndlRestServer)
    def _session(self):
        return self.server.andl_session  # type: ignore[attr-defined]

    def _scripts_dir(self) -> str:
        """Named-script storage (Andl.Workbench's script tree —
        MainWindow.xaml.cs save/load): a _scripts dir next to the
        catalog's relvar versions when a catalog is attached, else a
        server-lifetime temp dir. Names are allowlist-validated — the
        path never concatenates raw client input."""
        sess = self._session()
        if sess.catalog is not None:
            d = os.path.join(sess.catalog.path, "_scripts")
        else:
            d = getattr(self.server, "_tmp_scripts", None)
            if d is None:
                d = tempfile.mkdtemp(prefix="andl_scripts_")
                self.server._tmp_scripts = d  # type: ignore[attr-defined]
        os.makedirs(d, exist_ok=True)
        return d

    def _script_path(self, name: str) -> str:
        if not _SCRIPT_NAME.match(name):
            raise ValueError(f"invalid script name {name!r}")
        return os.path.join(self._scripts_dir(), f"{name}.andl")

    # ---- plumbing -----------------------------------------------------
    def log_message(self, fmt, *args):  # quiet test output
        pass

    def _host_ok(self) -> bool:
        """DNS-rebinding guard: a browser-driven request against
        127.0.0.1 carries the attacker's hostname in Host; only the
        bound address (with or without the port) may execute anything.
        This stops rebinding ONLY — a classic cross-site fetch/form
        POST straight at http://127.0.0.1:port carries the target's
        own Host header and passes; _csrf_ok covers that case.
        Direct socket clients (tests, curl) send the right Host for
        free because they dial the bound address. IPv6 literals arrive
        bracketed ('[::1]:port'). The allow-set is loopback spellings
        plus, for network binds, this machine's own hostname/addresses
        (see AndlRestServer.__init__); allowed_hosts='*' disables."""
        allowed = self.server.allowed_hosts  # type: ignore[attr-defined]
        if allowed is None:  # explicit '*': guard disabled by caller
            return True
        host = (self.headers.get("Host") or "").strip()
        if host.startswith("["):  # bracketed IPv6, maybe with :port
            name = host[1:].split("]", 1)[0]
        else:
            name = host.rsplit(":", 1)[0]
        return name in allowed

    def _csrf_ok(self) -> bool:
        """Cross-site guard for state-changing verbs. A malicious page
        can fire a no-preflight "simple" request (text/plain fetch or
        an HTML form) at 127.0.0.1 with the victim's own Host header,
        so _host_ok alone does not stop CSRF. Two independent brakes:
        (1) a request that names a foreign Origin is rejected; (2) the
        body must declare Content-Type: application/json — a non-simple
        type that forces a CORS preflight the browser refuses for a
        cross-origin page (forms and simple fetches cannot send it).
        Disabled together with the Host guard (allowed_hosts='*')."""
        allowed = self.server.allowed_hosts  # type: ignore[attr-defined]
        if allowed is None:  # explicit '*': guard disabled by caller
            return True
        origin = (self.headers.get("Origin") or "").strip()
        if origin:
            oname = (urlparse(origin).hostname or "").lower()
            # 'Origin: null' (sandboxed/opaque page) parses to '' — reject
            if oname not in allowed:
                return False
        if self.command in ("POST", "PUT"):
            ctype = (self.headers.get("Content-Type") or "").split(";")[0]
            if ctype.strip().lower() != "application/json":
                return False
        return True

    def parse_request(self):
        # one choke point covering every verb, before any routing
        ok = super().parse_request()
        if ok and not self._host_ok():
            self._send(403, {"error": "forbidden Host header"})
            self.close_connection = True
            return False
        if ok and self.command in ("POST", "PUT", "DELETE") and not self._csrf_ok():
            self._send(403, {"error": "cross-site request refused "
                                      "(need Content-Type: application/json "
                                      "from an allowed origin)"})
            self.close_connection = True
            return False
        return ok

    def _send(self, code: int, obj) -> None:
        # interpreter values (Decimal line numbers, timestamps) must
        # never turn a valid result into a 400; str() is the last resort
        def _default(v):
            out = _jsonable(v)
            return out if out is not v else str(v)

        body = json.dumps(obj, default=_default).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self):
        n = int(self.headers.get("Content-Length") or 0)
        raw = self.rfile.read(n) if n else b""
        return json.loads(raw) if raw else None

    def _route(self):
        u = urlparse(self.path)
        parts = [p for p in u.path.split("/") if p]
        return parts, dict(parse_qsl(u.query))

    # ---- reads --------------------------------------------------------
    def do_GET(self):
        try:
            parts, q = self._route()
            sess = self._session()
            if not parts:  # GET / — the Workbench-lite page
                body = _WORKBENCH_HTML.encode()
                self.send_response(200)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return
            if parts[:1] == ["api"]:
                if parts[1:] == ["variables"]:
                    # include the lang session's relvars: the Workbench
                    # editor executes there, so the catalog pane must
                    # list what a SCRIPT can actually reference
                    names = list(sess.variables())
                    lang = getattr(self.server, "lang_session", None)
                    if lang is not None:
                        from .lang.interp import RelV

                        names += [n for n, v in lang.globals.items()
                                  if isinstance(v, RelV) and n not in names]
                    return self._send(200, {"variables": names})
                if parts[1:] == ["operators"]:
                    ops = list(sess.operators())
                    lang = getattr(self.server, "lang_session", None)
                    if lang is not None:
                        ops += [n for n in lang.defs if n not in ops]
                    return self._send(200, {"operators": ops})
                if parts[1:2] == ["scripts"]:
                    if len(parts) == 2:  # list
                        names = sorted(
                            f[:-5] for f in os.listdir(self._scripts_dir())
                            if f.endswith(".andl"))
                        return self._send(200, {"scripts": names})
                    if len(parts) == 3:  # load one
                        p = self._script_path(parts[2])
                        if not os.path.exists(p):
                            return self._send(
                                404, {"error": f"no script {parts[2]!r}"})
                        with open(p, encoding="utf-8") as f:
                            return self._send(
                                200, {"name": parts[2], "src": f.read()})
                return self._send(404, {"error": f"unknown api route {parts}"})
            if parts[:1] != ["rest"] or len(parts) not in (2, 3):
                return self._send(404, {"error": f"unknown route {self.path}"})
            name = parts[1]
            limit = int(q.pop("limit", DEFAULT_LIMIT))
            df = sess.table(name).df
            if len(parts) == 3:  # GET rest/<name>/<id>: key = first column
                df = df.filter(_typed_eq(df, df.columns[0], parts[2]))
            for col, val in q.items():  # RestController query-pair filters
                df = df.filter(_typed_eq(df, col, val))
            return self._send(200, _payload(df, limit))
        except Exception as e:  # noqa: BLE001 — surface as HTTP 400
            return self._send(400, {"error": str(e)})

    # ---- mutations / ad-hoc -------------------------------------------
    def do_POST(self):
        try:
            parts, q = self._route()
            sess = self._session()
            body = self._body()
            if parts[:2] == ["api", "sql"]:
                limit = int(body.get("limit", DEFAULT_LIMIT))
                return self._send(200, _payload(sess.sql(body["sql"]).df, limit))
            if parts[:2] == ["api", "andl"]:
                # execute Andl-language source server-side — the
                # reference Gateway's code path (the Workbench posts
                # Andl programs to the server and renders the output).
                # One interpreter state shared by all clients: the lock
                # makes create+run+slice atomic so concurrent posts
                # can't double-create the session or interleave output.
                with self.server.andl_lock:  # type: ignore[attr-defined]
                    lang = getattr(self.server, "lang_session", None)
                    if lang is None:
                        from .lang.interp import AndlSession as _Lang

                        lang = _Lang(sess.spark)
                        self.server.lang_session = lang  # type: ignore[attr-defined]
                    shown, failed = len(lang.output), len(lang.failures)
                    # capture the output/failure DELTAS even when the
                    # script dies mid-run: lines displayed before the
                    # error belong to THIS request's response, and the
                    # next request's len() snapshot would skip past
                    # them otherwise.
                    try:
                        lang.run(body["src"])
                    except Exception as e:  # noqa: BLE001
                        payload = {
                            "error": str(e),
                            "output": lang.output[shown:],
                            "failures": lang.failures[failed:],
                        }
                        code = 400
                    else:
                        payload = {
                            "output": lang.output[shown:],
                            # THIS request's failures, not session-lifetime
                            "failures": lang.failures[failed:],
                        }
                        code = 200
                # socket write happens OUTSIDE the lock: a slow-reading
                # client must not stall every other stateful request
                return self._send(code, payload)
            if parts[:2] == ["api", "call"] and len(parts) == 3:
                args = (body or {}).get("args", [])
                rel = sess.call(parts[2], *args)
                limit = int((body or {}).get("limit", DEFAULT_LIMIT))
                return self._send(200, _payload(rel.df, limit))
            if parts[:1] == ["rest"] and len(parts) == 2:
                name = parts[1]
                with self.server.andl_lock:  # type: ignore[attr-defined]
                    base = sess.table(name).df
                    new = local_frame(
                        sess.spark,
                        [tuple(r[c] for c in base.columns) for r in body],
                        base.schema,
                    )
                    self._replace(name, base.unionByName(new).dropDuplicates())
                return self._send(200, {"ok": True, "inserted": len(body)})
            return self._send(404, {"error": f"unknown route {self.path}"})
        except Exception as e:  # noqa: BLE001
            return self._send(400, {"error": str(e)})

    def do_PUT(self):
        try:
            parts, _ = self._route()
            if parts[:2] == ["api", "scripts"] and len(parts) == 3:
                src = (self._body() or {}).get("src")
                if not isinstance(src, str):
                    return self._send(400, {"error": "body needs 'src' string"})
                # atomic replace: a concurrent GET never sees a half-write
                p = self._script_path(parts[2])
                tmp = f"{p}.tmp.{os.getpid()}"
                with open(tmp, "w", encoding="utf-8") as f:
                    f.write(src)
                os.replace(tmp, p)
                return self._send(200, {"ok": True, "name": parts[2]})
            if parts[:1] != ["rest"] or len(parts) != 3:
                return self._send(404, {"error": f"unknown route {self.path}"})
            sess = self._session()
            name, rid = parts[1], parts[2]
            body = self._body() or {}
            with self.server.andl_lock:  # type: ignore[attr-defined]
                df = sess.table(name).df
                pred = _typed_eq(df, df.columns[0], rid)
                assigns = {
                    c: F.when(pred, F.lit(v)).otherwise(F.col(c))
                    for c, v in body.items()
                }
                self._replace(name, df.withColumns(assigns))
            return self._send(200, {"ok": True})
        except Exception as e:  # noqa: BLE001
            return self._send(400, {"error": str(e)})

    def do_DELETE(self):
        try:
            parts, _ = self._route()
            if parts[:2] == ["api", "scripts"] and len(parts) == 3:
                p = self._script_path(parts[2])
                if not os.path.exists(p):
                    return self._send(404, {"error": f"no script {parts[2]!r}"})
                os.remove(p)
                return self._send(200, {"ok": True})
            if parts[:1] != ["rest"] or len(parts) != 3:
                return self._send(404, {"error": f"unknown route {self.path}"})
            sess = self._session()
            name, rid = parts[1], parts[2]
            with self.server.andl_lock:  # type: ignore[attr-defined]
                df = sess.table(name).df
                # keep NULL-key rows: deleting by id must not sweep them
                self._replace(name, df.filter(F.coalesce(
                    ~_typed_eq(df, df.columns[0], rid), F.lit(True))))
            return self._send(200, {"ok": True})
        except Exception as e:  # noqa: BLE001
            return self._send(400, {"error": str(e)})

    def _replace(self, name: str, df: DataFrame) -> None:
        """Relational assignment: the relvar becomes the new relation.
        Materialize BEFORE re-registering (a lazy plan reading
        spark.table(name) would self-reference the view it replaces);
        with a catalog attached the new state lands as a new immutable
        version (time-travel preserved). Callers hold the server RLock
        across their read-modify-write; re-acquiring here keeps direct
        calls safe too."""
        sess = self._session()
        with self.server.andl_lock:  # type: ignore[attr-defined]
            out = df.localCheckpoint(eager=True)
            sess.register(name, out)
            if sess.catalog is not None and name in sess.catalog.names():
                sess.catalog.put(name, out)


class AndlRestServer:
    """Threaded REST server bound to an AndlSession. Port 0 (default)
    picks a free ephemeral port — read `.port` after start()."""

    def __init__(self, session, host: str = "127.0.0.1", port: int = 0,
                 allowed_hosts=None):
        self._http = ThreadingHTTPServer((host, port), _Handler)
        self._http.andl_session = session  # type: ignore[attr-defined]
        # Host values that may execute requests (DNS-rebinding guard).
        # Loopback binds allow only loopback spellings. A 0.0.0.0/::
        # bind (the container pattern: port-mapped from the host, so a
        # loopback bind inside would be unreachable) KEEPS the guard —
        # loopback spellings plus this machine's own hostname/addresses
        # — because rebinding attacks target exactly that setup. Pass
        # ``allowed_hosts`` explicitly to serve other names, or "*" to
        # disable (behind a proxy that enforces origin)."""
        if allowed_hosts == "*":
            self._http.allowed_hosts = None  # type: ignore[attr-defined]
        elif allowed_hosts is not None:
            self._http.allowed_hosts = set(allowed_hosts)  # type: ignore[attr-defined]
        else:
            allowed = {"127.0.0.1", "::1", "localhost"}
            if host not in ("127.0.0.1", "::1", "localhost"):
                import socket as _socket

                allowed.add(host)
                try:
                    name = _socket.gethostname()
                    allowed.add(name)
                    for info in _socket.getaddrinfo(name, None):
                        allowed.add(info[4][0])
                except OSError:
                    pass
            self._http.allowed_hosts = allowed  # type: ignore[attr-defined]
        # serializes stateful surfaces across handler threads: the
        # shared language session and relvar read-modify-write updates
        self._http.andl_lock = threading.RLock()  # type: ignore[attr-defined]
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._http.server_address[1]

    def start(self) -> "AndlRestServer":
        self._thread = threading.Thread(target=self._http.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._http.shutdown()
        self._http.server_close()
        if self._thread:
            self._thread.join(timeout=5)

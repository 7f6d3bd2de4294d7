"""Remote-client round-trip against the REST/JSON serving surface
(andl_spark/server.py — Andl.Server/Controllers/RestController.cs
parity). A real HTTP client (urllib over a socket) drives every verb:
read, keyed read, query-pair filter, paging, insert, update, delete,
ad-hoc SQL, operator call, introspection — closing the r2 gap where
the served API bound a port but no client ever executed a query over
the wire."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from andl_spark.api import AndlSession
from andl_spark.server import AndlRestServer


def _req(port, path, method="GET", body=None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=data, method=method,
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=30) as resp:
        return json.loads(resp.read())


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    cat = tmp_path_factory.mktemp("srvcat")
    sess = AndlSession(spark, catalog_path=str(cat))
    s_rows = [(1, "Smith", 20, "London"), (2, "Jones", 10, "Paris"),
              (3, "Blake", 30, "Paris")]
    df = spark.createDataFrame(s_rows, "sno int, sname string, status int, city string")
    sess.catalog.put("S", df)
    sess.register("S", sess.catalog.get("S"))
    sess.define("by_city", lambda city: sess.sql(
        f"SELECT sno, sname FROM S WHERE city = '{city}'").df)
    server = AndlRestServer(sess).start()
    yield sess, server.port
    server.stop()


def test_get_rows_and_paging(served):
    _, port = served
    out = _req(port, "/rest/S")
    assert out["columns"] == ["sno", "sname", "status", "city"]
    assert len(out["rows"]) == 3
    assert len(_req(port, "/rest/S?limit=2")["rows"]) == 2


def test_get_by_id_and_query_filter(served):
    _, port = served
    by_id = _req(port, "/rest/S/2")
    assert by_id["rows"] == [[2, "Jones", 10, "Paris"]]
    paris = _req(port, "/rest/S?city=Paris")
    assert sorted(r[1] for r in paris["rows"]) == ["Blake", "Jones"]


def test_adhoc_sql_over_the_wire(served):
    _, port = served
    out = _req(port, "/api/sql", "POST",
               {"sql": "SELECT city, COUNT(*) AS n FROM S GROUP BY city"})
    assert dict((r[0], r[1]) for r in out["rows"]) == {"London": 1, "Paris": 2}


def test_operator_call_and_introspection(served):
    _, port = served
    assert "by_city" in _req(port, "/api/operators")["operators"]
    assert "s" in [v.lower() for v in _req(port, "/api/variables")["variables"]]
    out = _req(port, "/api/call/by_city", "POST", {"args": ["Paris"]})
    assert sorted(r[1] for r in out["rows"]) == ["Blake", "Jones"]


def test_crud_round_trip_with_catalog_versions(served):
    sess, port = served
    v0 = sess.catalog.current_version("S")
    # POST: insert (update r union rel)
    assert _req(port, "/rest/S", "POST",
                [{"sno": 4, "sname": "Clark", "status": 20, "city": "London"}])["ok"]
    assert len(_req(port, "/rest/S")["rows"]) == 4
    # PUT: update by key
    assert _req(port, "/rest/S/4", "PUT", {"status": 25})["ok"]
    assert _req(port, "/rest/S/4")["rows"][0][2] == 25
    # DELETE by key
    assert _req(port, "/rest/S/4", "DELETE")["ok"]
    assert len(_req(port, "/rest/S")["rows"]) == 3
    # every mutation wrote a NEW immutable catalog version (time travel)
    assert sess.catalog.current_version("S") == v0 + 3
    assert sess.catalog.get("S", version=v0).count() == 3


def test_andl_source_over_the_wire(served):
    """POST /api/andl: a remote client sends Andl-language programs and
    reads the rendered output — the reference Gateway/Workbench loop
    (Andl.Server's execute path) over plain JSON. State persists
    between posts within the server-held session."""
    _, port = served
    out = _req(port, "/api/andl", "POST",
               {"src": "v := {{ a:=1 }, { a:=2 }, { a:=3 }}\n"
                       "v .select{ fold(+,a) }"})
    assert out["failures"] == []
    assert any("6" in line for line in out["output"])
    # session state survives into the next request
    out2 = _req(port, "/api/andl", "POST", {"src": "write('n=' & v.count)"})
    assert out2["output"] == ["n=3"]
    # test_true failures surface in the response
    out3 = _req(port, "/api/andl", "POST", {"src": "test_true(9, 1 = 2)"})
    assert out3["failures"] == [9]
    # failures are per-REQUEST: a later passing program must not
    # re-report the earlier client's failure
    out4 = _req(port, "/api/andl", "POST", {"src": "test_true(5, 1 = 1)"})
    assert out4["failures"] == []


def test_concurrent_andl_clients(served):
    """Parallel POST /api/andl: the server lock serializes the shared
    interpreter session, so each client gets exactly its own display
    lines (never an interleaved slice of another client's output) and
    all definitions land in the shared state."""
    import concurrent.futures

    _, port = served

    def hit(i):
        return _req(port, "/api/andl", "POST",
                    {"src": f"ac{i} := {i} * 10\nwrite('ac{i}=' & ac{i})"})

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(hit, range(8)))
    for i, out in enumerate(results):
        assert out["output"] == [f"ac{i}={i * 10}"], out
        assert out["failures"] == []
    # every client's definition persists in the one shared session
    tail = _req(port, "/api/andl", "POST",
                {"src": "write('sum=' & (" +
                        " + ".join(f"ac{i}" for i in range(8)) + "))"})
    assert tail["output"] == [f"sum={sum(i * 10 for i in range(8))}"]


def test_concurrent_clients(served):
    """The threaded server handles parallel clients against one Spark
    session (SparkSession actions are thread-safe): 12 simultaneous
    mixed GET/SQL requests all succeed with correct results."""
    import concurrent.futures

    _, port = served

    def hit(i):
        if i % 2:
            return _req(port, "/rest/S?limit=3")["rows"]
        return _req(port, "/api/sql", "POST",
                    {"sql": f"SELECT {i} AS i, COUNT(*) AS n FROM S"})["rows"]

    with concurrent.futures.ThreadPoolExecutor(max_workers=12) as ex:
        results = list(ex.map(hit, range(12)))
    for i, rows in enumerate(results):
        if i % 2:
            assert len(rows) == 3
        else:
            assert rows[0][0] == i and rows[0][1] >= 3


def test_keyed_routes_match_in_column_type(served):
    """Keyed/filtered routes compare the URL id in the COLUMN's own
    type: a double-typed key (every Andl-front-end number is a double)
    must match /rest/D/1 — a string compare would test '1.0' == '1'
    and silently hit nothing while still returning 200 ok."""
    sess, port = served
    df = sess.spark.createDataFrame(
        [(1.0, "a"), (2.0, "b"), (None, "z")], "k double, v string")
    sess.register("D", df)
    assert _req(port, "/rest/D/1")["rows"] == [[1.0, "a"]]
    assert _req(port, "/rest/D?k=2")["rows"] == [[2.0, "b"]]
    _req(port, "/rest/D/2", "PUT", {"v": "B"})
    got = {r[0]: r[1] for r in _req(port, "/rest/D")["rows"]}
    assert got[2.0] == "B"
    out = _req(port, "/rest/D/1", "DELETE")
    assert out["ok"] is True
    rows = _req(port, "/rest/D")["rows"]
    # row 1 gone; the NULL-key row survives a keyed delete
    assert sorted(r[1] for r in rows) == ["B", "z"]


def test_webspapi_crud_over_the_wire(reference_tree, served):
    """The reference's Andl.Client workflow end-to-end over HTTP
    (Andl.Client/Program.cs drives the WebSpApiSetup.andl CRUD
    operators via the Web API): load the setup script through
    POST /api/andl, then create/read/update/delete suppliers by
    calling the ANDL-DEFINED operators over the wire."""
    _, port = served
    src = __import__("pathlib").Path(
        "/root/reference/Andl.Client/WebSpApiSetup.andl").read_text()
    # run from the client dir so the CSV loads resolve
    out = _req(port, "/api/andl", "POST",
               {"src": "#source '/root/reference/Andl.Client'\n" + src})
    assert out["failures"] == []
    calls = [
        "write('n0=' & findall_supplier().count)",
        "create_supplier({{ Sid:='S9', SNAME:='Nine', STATUS:=99,"
        " CITY:='Oslo' }})",
        "write('n1=' & findall_supplier().count)",
        "write('got=' & find_supplier('S9').select{ (SNAME) })",
        "update_supplier('S9', {{ Sid:='S9', SNAME:='Neuf', STATUS:=9,"
        " CITY:='Paris' }})",
        "write('upd=' & find_supplier('S9').select{ (CITY) })",
        "delete_supplier('S9')",
        "write('n2=' & findall_supplier().count)",
    ]
    outs = [_req(port, "/api/andl", "POST", {"src": c})["output"]
            for c in calls]
    flat = [line for o in outs for line in o]
    assert flat == ["n0=5", "n1=6", "got=Nine", "upd=Paris", "n2=5"]


def test_concurrent_mutations_lose_no_updates(served):
    """Parallel POST /rest inserts are read-modify-write on the same
    relvar; the server lock serializes them so every insert lands
    (without it, last-writer-wins drops rows)."""
    import concurrent.futures

    sess, port = served
    df = sess.spark.createDataFrame([(0, "base")], "k int, v string")
    sess.register("MUT", df)

    def ins(i):
        return _req(port, "/rest/MUT", "POST",
                    [{"k": 100 + i, "v": f"w{i}"}])

    with concurrent.futures.ThreadPoolExecutor(max_workers=6) as ex:
        results = list(ex.map(ins, range(6)))
    assert all(r["ok"] for r in results)
    rows = _req(port, "/rest/MUT?limit=50")["rows"]
    assert sorted(r[0] for r in rows) == [0, 100, 101, 102, 103, 104, 105]


def test_workbench_page_served(served):
    """GET / serves the Workbench-lite HTML page (the Andl.Workbench
    edit→run→output loop over POST /api/andl)."""
    _, port = served
    with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/", timeout=30) as resp:
        assert resp.headers["Content-Type"].startswith("text/html")
        html = resp.read().decode()
    assert "Andl Workbench" in html and "/api/andl" in html


def test_errors_are_http_400(served):
    _, port = served
    req = urllib.request.Request(f"http://127.0.0.1:{port}/rest/no_such_table")
    try:
        urllib.request.urlopen(req, timeout=30)
        raise AssertionError("expected HTTP 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        assert "no_such_table" in json.loads(e.read())["error"].lower()


def test_insert_keeps_its_type_check(served):
    """POST /rest/<name> rows pass the relvar schema's type verifier: a
    string in a numeric column is HTTP 400 and writes nothing."""
    sess, port = served
    before = sorted(map(tuple, _req(port, "/rest/S")["rows"]))
    v0 = sess.catalog.current_version("S")
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(port, "/rest/S", "POST",
             [{"sno": 9, "sname": "Bad", "status": "twenty", "city": "Rome"}])
    assert e.value.code == 400
    assert "status" in json.loads(e.value.read())["error"]
    assert sorted(map(tuple, _req(port, "/rest/S")["rows"])) == before
    assert sess.catalog.current_version("S") == v0


def test_forged_host_header_is_rejected(served):
    """DNS-rebinding / CSRF guard: a request whose Host header names a
    foreign origin must not execute (ADVICE r3) — only the bound
    address (any port spelling) may drive the API."""
    _, port = served
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/api/variables",
        headers={"Host": "evil.example.com"})
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req, timeout=30)
    assert ei.value.code == 403
    # POSTs (the executing surface) are covered by the same choke point
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/api/andl",
        data=json.dumps({"src": "1 + 1"}).encode(), method="POST",
        headers={"Content-Type": "application/json",
                 "Host": "evil.example.com:80"})
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req, timeout=30)
    assert ei.value.code == 403
    # and the legitimate localhost spelling still works
    assert "variables" in _req(port, "/api/variables")


def test_failed_script_returns_partial_output(served):
    """A script that displays lines then dies returns those lines in
    the 400 body, and the next request's output slice is not skewed
    by them (ADVICE r3)."""
    _, port = served
    body = json.dumps({"src": "write('before-crash')\nnosuchvar"}).encode()
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/api/andl", data=body, method="POST",
        headers={"Content-Type": "application/json"})
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req, timeout=60)
    err = json.loads(ei.value.read())
    assert ei.value.code == 400 and "error" in err
    assert any("before-crash" in line for line in err.get("output", []))
    # the failed request consumed its own delta: a follow-up sees ONLY
    # its own output
    out = _req(port, "/api/andl", method="POST", body={"src": "write('next')"})
    assert out["output"] == ["next"]


def test_workbench_catalog_pane(served):
    """The catalog tree (Andl.Workbench's browser pane): the page
    fetches /api/variables + /api/operators and both endpoints serve
    the session's names."""
    _, port = served
    with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/", timeout=30) as resp:
        html = resp.read().decode()
    assert "/api/variables" in html and "/api/operators" in html
    assert 'id="vars"' in html and 'id="ops"' in html
    v = _req(port, "/api/variables")
    assert "s" in [n.lower() for n in v["variables"]]
    o = _req(port, "/api/operators")
    assert "by_city" in o["operators"]


def test_catalog_pane_reflects_lang_session(served):
    """Names defined by POSTed Andl scripts (the session the editor
    actually runs in) appear in the catalog pane's endpoints."""
    _, port = served
    _req(port, "/api/andl", "POST",
         {"src": "PaneRel := {{ a := 1 }}\ndef pane_op(x) => x + 1"})
    assert "PaneRel" in _req(port, "/api/variables")["variables"]
    assert "pane_op" in _req(port, "/api/operators")["operators"]


def test_cross_site_simple_request_is_rejected(served):
    """ADVICE r4 (medium): _host_ok only stops DNS rebinding — a
    cross-site fetch/form POST straight at 127.0.0.1 carries the
    target's own Host header. The executing POST routes must therefore
    refuse (a) no-preflight "simple" content types and (b) requests
    naming a foreign Origin, which is exactly what a malicious page
    can send without a CORS preflight."""
    _, port = served
    # (a) text/plain body — an HTML-form/simple-fetch shape
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/api/sql",
        data=json.dumps({"sql": "SELECT 1 AS x"}).encode(),
        method="POST", headers={"Content-Type": "text/plain"},
    )
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req, timeout=30)
    assert e.value.code == 403
    # (b) JSON content type but a foreign Origin (preflighted in a real
    # browser, but the server must not rely on the browser honoring it)
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/api/sql",
        data=json.dumps({"sql": "SELECT 1 AS x"}).encode(),
        method="POST",
        headers={"Content-Type": "application/json",
                 "Origin": "https://evil.example"},
    )
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req, timeout=30)
    assert e.value.code == 403
    # same-origin requests (loopback Origin) still execute
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/api/sql",
        data=json.dumps({"sql": "SELECT 1 AS x"}).encode(),
        method="POST",
        headers={"Content-Type": "application/json",
                 "Origin": f"http://127.0.0.1:{port}"},
    )
    with urllib.request.urlopen(req, timeout=30) as resp:
        assert json.loads(resp.read())["rows"] == [[1]]


def test_script_save_list_reload_run(reference_tree, served):
    """VERDICT r4 item 7: Andl.Workbench script management — save a
    named script, list it, reload its source, run it, delete it. The
    store rides the catalog dir so scripts survive server restarts."""
    _, port = served
    src = "wb1 := S .where(STATUS > 15)\nwb1\n"
    out = _req(port, "/api/scripts/demo_filter", method="PUT", body={"src": src})
    assert out == {"ok": True, "name": "demo_filter"}
    assert "demo_filter" in _req(port, "/api/scripts")["scripts"]
    loaded = _req(port, "/api/scripts/demo_filter")
    assert loaded["src"] == src
    ran = _req(port, "/api/andl", method="POST", body={"src": loaded["src"]})
    assert any("Smith" in line or "wb1" in line for line in ran["output"])
    # overwrite is atomic and reflected on reload
    _req(port, "/api/scripts/demo_filter", method="PUT", body={"src": "S\n"})
    assert _req(port, "/api/scripts/demo_filter")["src"] == "S\n"
    # invalid names are rejected, not path-joined
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/api/scripts/..%2Fetc",
        data=json.dumps({"src": "x"}).encode(), method="PUT",
        headers={"Content-Type": "application/json"})
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req, timeout=30)
    assert e.value.code == 400
    _req(port, "/api/scripts/demo_filter", method="DELETE")
    assert "demo_filter" not in _req(port, "/api/scripts")["scripts"]

"""The command-line runner (python -m andl_spark — Andl.Main parity):
a reference user's `Andl script.andl database` workflow end-to-end in a
subprocess, including catalog persistence across invocations and the
non-zero exit on failing test_true lines."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)


def _run(*argv, stdin=None):
    return subprocess.run(
        [sys.executable, "-m", "andl_spark", *argv],
        capture_output=True, text=True, timeout=300, cwd=REPO, input=stdin,
    )


def test_cli_runs_script_and_prints_output(tmp_path):
    script = tmp_path / "hello.andl"
    script.write_text(
        "x := 6 * 7\n"
        "write('answer=' & x)\n"
        "r := {{ a:=1 }} .while( {{ a:=a+1 }} .where(a <= 3) )\n"
        "r.count\n"
    )
    proc = _run(str(script))
    assert proc.returncode == 0, proc.stderr[-800:]
    assert "answer=42" in proc.stdout
    assert "3" in proc.stdout.splitlines()[-1]


def test_cli_catalog_persists_across_invocations(tmp_path):
    cat = tmp_path / "catdir"
    cat.mkdir()
    s1 = tmp_path / "def.andl"
    s1.write_text(
        "#catalog update\n"
        "def triple(n:0) => n * 3\n"
        # ^name := catalog-scope persistence (SuiteUpdateCat1.andl:11)
        "^stored := {{ k:=1, v:='one' }} union {{ k:=2, v:='two' }}\n"
    )
    s2 = tmp_path / "use.andl"
    s2.write_text(
        "#catalog\n"
        "write('t=' & triple(14))\n"
        "write('n=' & ^stored.count)\n"
    )
    p1 = _run("-u", str(s1), str(cat))
    assert p1.returncode == 0, p1.stderr[-800:]
    p2 = _run(str(s2), str(cat))
    assert p2.returncode == 0, p2.stderr[-800:]
    assert "t=42" in p2.stdout and "n=2" in p2.stdout


def test_cli_session_is_get_spark_session(tmp_path):
    """The CLI runs on session.get_spark's session — UTC session time
    zone and Arrow on, the config the server and the tests run on —
    even where the host's own time zone is not UTC."""
    script = tmp_path / "t.andl"
    script.write_text("x := 1\nx\n")
    probe = (
        "import sys\n"
        "from pyspark.sql import SparkSession\n"
        "stop = SparkSession.stop\n"
        "def shown(self):\n"
        "    for k in ('spark.sql.session.timeZone',\n"
        "              'spark.sql.execution.arrow.pyspark.enabled'):\n"
        "        print(k + '=' + self.conf.get(k))\n"
        "    stop(self)\n"
        "SparkSession.stop = shown\n"
        "from andl_spark.__main__ import main\n"
        "sys.exit(main(sys.argv[1:]))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", probe, str(script)],
        capture_output=True, text=True, timeout=300, cwd=REPO,
        env={**os.environ, "TZ": "America/New_York"},
    )
    assert proc.returncode == 0, proc.stderr[-800:]
    assert "spark.sql.session.timeZone=UTC" in proc.stdout
    assert "spark.sql.execution.arrow.pyspark.enabled=true" in proc.stdout


def test_cli_default_input_is_test_andl(tmp_path):
    """With no input path the reference runs ./test.andl
    (Andl/Main.cs:32,108; Sample/test.andl is that default script)."""
    (tmp_path / "test.andl").write_text(
        "v1 := 'Hello world!'\nv1\nv1.length\n"
    )
    proc = subprocess.run(
        [sys.executable, "-m", "andl_spark"],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert proc.returncode == 0, proc.stderr[-800:]
    assert "Hello world!" in proc.stdout and "12" in proc.stdout


def test_cli_db_and_catalog_together(reference_tree, tmp_path):
    """The reference workflow `Andl setup-Chinook.andl <db>` then
    `Andl Chinook.andl <db>` (setup-chinook.andl:3-4): with --db the
    CLI attaches the SQL database AND a catalog directory at once, so
    the import step really persists and the query step reads it back."""
    cat = tmp_path / "cat"
    cat.mkdir()
    s1 = tmp_path / "imp.andl"
    s1.write_text("#catalog new update\nvar Album(db), Artist(db)\nandl_catalog\n")
    s2 = tmp_path / "use.andl"
    s2.write_text("#catalog\nwrite('n=' & Album.count)\n")
    db = "/root/reference/Sample/Chinook.sqlite"
    p1 = _run("-u", str(s1), str(cat), "--db", db)
    assert p1.returncode == 0, p1.stderr[-800:]
    p2 = _run(str(s2), str(cat))
    assert p2.returncode == 0, p2.stderr[-800:]
    assert "n=347" in p2.stdout


def test_cli_update_without_catalog_warns(tmp_path):
    script = tmp_path / "s.andl"
    script.write_text("x := 1\nx\n")
    proc = _run("-u", str(script))
    assert proc.returncode == 0
    assert "no catalog directory" in proc.stderr


def test_cli_failing_suite_sets_exit_code(tmp_path):
    script = tmp_path / "bad.andl"
    script.write_text("test_true(7, 1 = 2)\n")
    proc = _run(str(script))
    assert proc.returncode == 1
    assert "7" in proc.stderr  # the failing line number


def test_cli_thrift_idl_output(tmp_path):
    """The /t switch (Andl/Main.cs:44,151): after the run, write a
    <script>.thrift IDL with the Andl typedefs, a struct per relation/
    type, and a service entry per operator (ThriftGen.cs layout)."""
    script = tmp_path / "svc.andl"
    script.write_text(
        "S := {{ nm:text, bal:number }} union {{ nm:='x', bal:=1 }}\n"
        "type pt(x:number, y:number)\n"
        "def scale(n:number) => n * 10\n"
        "def scale(s:text) => s & '0'\n"           # Andl overload set
        "def scale_2(z:number) => z\n"  # collides with naive mangling
        "tv := {flag := true, when := t'31/12/2015'}\n"
    )
    proc = _run("-t", str(script))
    assert proc.returncode == 0, proc.stderr[-800:]
    idl = (tmp_path / "svc.thrift").read_text()
    assert "typedef string text" in idl and "typedef double number" in idl
    assert "struct S {" in idl and "1: text nm;" in idl and "2: number bal;" in idl
    assert "struct pt {" in idl
    assert "service svcService {" in idl
    assert "number scale(" in idl and "1: number n;" in idl
    # Thrift has no overloading: the second signature is name-mangled,
    # so the file survives `thrift --gen` (no duplicate identifiers) —
    # and the mangling skips suffixes taken by REAL operators, so the
    # genuine scale_2 keeps its name and the overload becomes scale_3
    assert "number scale_2(" in idl and "1: number z;" in idl
    assert "text scale_3(" in idl and "1: text s;" in idl
    assert idl.count(" scale_2(") == 1
    # tuple fields carry their real wire types, not a text fallback
    assert "1: bool flag;" in idl and "2: time when;" in idl


def test_cli_interactive_repl():
    proc = _run("-i", stdin="x := 2 + 21\nx * 2\nexit\n")
    assert proc.returncode == 0, proc.stderr[-500:]
    assert "46" in proc.stdout

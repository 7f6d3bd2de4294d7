"""Catalog persistence parity — Test/SuiteUpdateCat1.andl writes
scalars, tuples, relations, a user type and OPERATORS under `#catalog
update`; SuiteUpdateCat2.andl opens the same catalog in a brand-new
session and asserts everything (including `def f(x) => ...` operators)
still evaluates. Reference: Catalog.cs stored operators.
"""

import re
from pathlib import Path

import pytest

from andl_spark.lang import AndlSession

REF = Path("/root/reference/Test")


def _asserts(path: Path) -> int:
    return len(re.findall(r"^\s*test_true\(", path.read_text(), re.MULTILINE))


def test_suite_update_cat_roundtrip(reference_tree, spark, tmp_path):
    cat = tmp_path / "andl_catalog"

    s1 = AndlSession(spark, REF, catalog_path=cat)
    s1.run_path(REF / "SuiteUpdateCat1.andl")
    assert s1.failures == []
    assert len(s1.tests) == _asserts(REF / "SuiteUpdateCat1.andl") == 14

    # BRAND-NEW session over the same catalog: everything recompiles
    s2 = AndlSession(spark, REF, catalog_path=cat)
    assert "def3" in s2.defs and "^detus" in s2.types
    s2.run_path(REF / "SuiteUpdateCat2.andl")
    assert s2.failures == []
    assert len(s2.tests) == _asserts(REF / "SuiteUpdateCat2.andl") == 13


def test_workbench_roundtrip(reference_tree, spark, tmp_path):
    """Sample/setup-workbench.andl → Sample/workbench.andl verbatim:
    the Workbench pair (run.bat F7-reload workflow). setup-workbench
    persists S/P/SP csv relvars, three operators (incl. the
    statement-bodied `def addsuppliers(adds:S) => update S union adds`
    and recursive fib), a UDT with a relation-typed component
    (type utx ... r:{{a,b}}) and a tuple value; workbench.andl reads it
    all back in a brand-new session (setup-workbench.andl:6-19,
    workbench.andl:11-20)."""
    sample = Path("/root/reference/Sample")
    cat = tmp_path / "wbcat"

    s1 = AndlSession(spark, sample, catalog_path=cat)
    s1.catalog_update = True  # the CLI's -u (/cu) switch
    s1.run_path(sample / "setup-workbench.andl")
    assert s1.failures == []

    s2 = AndlSession(spark, sample, catalog_path=cat)
    assert {"suppliersbyname", "addsuppliers", "fib"} <= set(s2.defs)
    s2.run_path(sample / "workbench.andl")
    out = "\n".join(s2.output)
    assert "Hello world!" in out and "Yes!" in out
    assert "610" in out                      # fib(15), stored recursive def
    # suppliersbyname('a') — dynamic regex param: exactly Blake/Clark/Adams
    m = next(o for o in s2.output if "Sid" in o)
    assert m.count("(") == 3 and "Blake" in m and "Smith" not in m
    assert "91" in s2.output[-1]             # fold(+,WEIGHT) total


def test_operator_roundtrip_minimal(spark, tmp_path):
    """An operator defined under #catalog update survives a new session
    and still drives Spark plans (not just scalar evaluation)."""
    cat = tmp_path / "cat"
    s1 = AndlSession(spark, catalog_path=cat)
    s1.run(
        "#catalog update\n"
        "def double_it(n:0) => n*2\n"
        "^saved := {{ A:=1 }, { A:=2 }, { A:=3 }}\n"
    )
    s2 = AndlSession(spark, catalog_path=cat)
    s2.run("r := ^saved .select{ B := double_it(A) }")
    got = sorted(r["B"] for r in s2.globals["r"].df.collect())
    assert got == [2.0, 4.0, 6.0]


def test_lang_manifest_survives_a_torn_commit(spark, tmp_path):
    """The typed manifest commits through the versioned pointer
    protocol: a torn newest commit falls back to the previous one, and
    no in-place ``_lang_catalog.json`` is ever written."""
    cat = tmp_path / "cat"
    s1 = AndlSession(spark, catalog_path=cat)
    s1.run("#catalog update\ndef first_def(n:0) => n + 1\n")
    s1.run("#catalog update\ndef second_def(n:0) => n + 2\n")
    newest = max(cat.glob("_lang_catalog.v*.json"),
                 key=lambda f: int(f.name[len("_lang_catalog.v"):-5]))
    newest.write_text('{"defs": {"second_')  # a crash mid-commit
    s2 = AndlSession(spark, catalog_path=cat)
    assert "first_def" in s2.defs and "second_def" not in s2.defs
    assert not (cat / "_lang_catalog.json").exists()


def test_catalog_operators_reachable_from_spark_sql(reference_tree, spark, tmp_path):
    """plandl/AndlPg analog (VERDICT r5 item 6; reference
    plandl/plandl.c, AndlPg/MainPg.cs — Andl hosted inside PostgreSQL
    so SQL can call Andl operators): catalog-stored operators register
    as Spark SQL UDFs and catalog relvars as temp views, so
    spark.sql("SELECT andl_op(...)") reaches them — including the
    RECURSIVE stored fib from the workbench catalog."""
    from pyspark.sql import functions as F

    from andl_spark.lang.sqlbridge import register_catalog_sql

    cat = tmp_path / "plcat"
    s1 = AndlSession(spark, REF, catalog_path=cat)
    s1.run_path(REF / "SuiteUpdateCat1.andl")
    assert s1.failures == []

    s2 = AndlSession(spark, REF, catalog_path=cat)  # fresh, defs from disk
    names = register_catalog_sql(s2, spark)
    assert "andl_def3" in names
    assert spark.sql("SELECT andl_def3(17.0) AS v").first()["v"] == 44.0 * 17

    sample = Path("/root/reference/Sample")
    wb = tmp_path / "wbcat"
    s3 = AndlSession(spark, sample, catalog_path=wb)
    s3.catalog_update = True
    s3.run_path(sample / "setup-workbench.andl")
    assert s3.failures == []
    s4 = AndlSession(spark, sample, catalog_path=wb)
    names = register_catalog_sql(s4, spark)
    assert "andl_fib" in names
    assert spark.sql("SELECT andl_fib(15.0) AS v").first()["v"] == 610.0

    # catalog relvars are views: SQL joins them and applies bridged UDFs
    got = spark.sql(
        "SELECT SNAME, andl_fib(CAST(STATUS AS DOUBLE) / 10.0) AS f "
        "FROM S ORDER BY SNAME"
    ).collect()
    assert len(got) >= 5 and all(r["f"] >= 1.0 for r in got)
    # relation-typed operators do NOT bridge (the PL boundary):
    # suppliersbyname stays interpreter-side, with a logged skip
    assert "andl_suppliersbyname" not in names


def test_bridged_builtins_match_native_semantics(spark):
    """ADVICE r6 (medium): bridged left/right must PAD to width n when
    the string is shorter — identical results via spark.sql and via the
    native interpreter (Builtin.cs:917-930 PadRight/PadLeft;
    interp.py:922-930). Also: forward references between defs bridge
    regardless of insertion order (late lookup), and a def depending on
    an unbridgeable def is dropped instead of failing at call time."""
    from andl_spark.lang.sqlbridge import register_catalog_sql

    s = AndlSession(spark, Path("."))
    s.run(
        "def padl(s:'', n:0) => left(s, n)\n"
        "def padr(s:'', n:0) => right(s, n)\n"
        # 'fwd' calls 'later', defined AFTER it — insertion-order test
        "def fwd(x:0) => later(x) + 1\n"
        "def later(x:0) => x * 2\n"
        # 'bad' uses a relational construct (doesn't bridge); 'dep'
        # calls it, so dep must be dropped too, not explode at runtime
        "def bad(x:0) => fold(+, x)\n"
        "def dep(x:0) => bad(x) + 1\n"
    )
    assert s.failures == []
    names = register_catalog_sql(s, spark)
    assert "andl_fwd" in names and "andl_later" in names
    assert "andl_bad" not in names and "andl_dep" not in names

    row = spark.sql(
        "SELECT andl_padl('abc', 5) AS l_pad, andl_padl('abcdef', 3) AS l_cut,"
        " andl_padr('abc', 5) AS r_pad, andl_padr('abcdef', 3) AS r_cut,"
        " andl_padr('abc', 0) AS r_zero, andl_fwd(10.0) AS f"
    ).first()
    assert row["l_pad"] == "abc  "      # padded, not truncated-only
    assert row["l_cut"] == "abc"
    assert row["r_pad"] == "  abc"      # padded LEFT, not 'bc'
    assert row["r_cut"] == "def"
    assert row["r_zero"] == ""
    assert row["f"] == 21.0

    # native interpreter gives the same strings (no spark.sql/native split)
    s2 = AndlSession(spark, Path("."))
    s2.run("check := left('abc', 5) & '|' & right('abc', 5)")
    assert s2.globals["check"] == "abc  |  abc"


def test_bridged_mutual_recursion(spark):
    """ADVICE r6 (cross-def ordering): mutual recursion bridges — the
    pre-seeded late-lookup table lets is_even/is_odd call each other
    regardless of definition order."""
    from andl_spark.lang.sqlbridge import register_catalog_sql

    s = AndlSession(spark, Path("."))
    s.run(
        "def is_even(n:0) => if(n = 0, 1, is_odd(n - 1))\n"
        "def is_odd(n:0) => if(n = 0, 0, is_even(n - 1))\n"
    )
    assert s.failures == []
    names = register_catalog_sql(s, spark)
    assert "andl_is_even" in names and "andl_is_odd" in names
    row = spark.sql(
        "SELECT andl_is_even(10.0) AS e, andl_is_odd(7.0) AS o").first()
    assert row["e"] == 1.0 and row["o"] == 1.0

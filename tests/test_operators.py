"""Unit tests for update relvars, while fixpoint, nest/unnest, fold map,
and the Relation fluent API — mirroring reference suites
(SuiteUpdateCat*, SuiteRelWhile, SuiteRelNest, SuiteRelFold)."""

import pytest
from pyspark.sql import functions as F

from andl_spark import Relation
from andl_spark.functions.fold import fold
from andl_spark.operators.nest import nest, unnest
from andl_spark.operators.update import Relvar
from andl_spark.operators.whileop import fixpoint


def test_update_insert_delete_update(spdb):
    """sample3.andl §Updates: insert S9, delete S3, update S4."""
    spark = spdb["S"].sparkSession
    rv = Relvar(spdb["S"], "S")
    assert rv.df.count() == 5

    new = spark.createDataFrame(
        [("S9", "Moriarty", 99.0, "Timbuktu")],
        "`S#` string, SNAME string, STATUS double, CITY string",
    )
    rv.insert(new)
    assert rv.df.count() == 6
    rv.insert(new)  # set semantics: duplicate insert is a no-op
    assert rv.df.count() == 6

    rv.delete(F.col("S#") == "S3")
    assert rv.df.count() == 5
    assert rv.df.filter(F.col("S#") == "S3").count() == 0

    rv.update(F.col("S#") == "S4", {"STATUS": F.lit(-10.0)})
    assert rv.df.filter(F.col("S#") == "S4").first()["STATUS"] == -10.0
    assert rv.df.count() == 5


def test_update_transact_rollback(spdb):
    rv = Relvar(spdb["S"], "S")
    try:
        rv.transact(
            lambda r: r.delete(F.lit(True)),
            lambda r: (_ for _ in ()).throw(RuntimeError("boom")),
        )
    except RuntimeError:
        pass
    assert rv.df.count() == 5  # rolled back


def test_while_generates_integers(spark):
    """recursive.andl:11 — {{z:=0}}.while({{z:=z+1}}.where(z<10))."""
    seed = spark.createDataFrame([(0,)], "z long")
    out = fixpoint(
        seed,
        lambda fr: fr.select((F.col("z") + 1).alias("z")).filter(F.col("z") < 10),
    )
    assert sorted(r[0] for r in out.collect()) == list(range(10))


def test_while_squares(spark):
    """recursive.andl:14 — {{x:=1}}.while({{x:=x*2}}.where(x<=1000))."""
    seed = spark.createDataFrame([(1,)], "x long")
    out = fixpoint(
        seed,
        lambda fr: fr.select((F.col("x") * 2).alias("x")).filter(F.col("x") <= 1000),
    )
    assert sorted(r[0] for r in out.collect()) == [2**i for i in range(10)]


@pytest.mark.parametrize("n", [4, 5])
def test_while_budget_counts_step_applications(spark, n):
    """The fixpoint budget counts STEP APPLICATIONS, including the one
    that finds the frontier empty (_run's stride-2 contract). A chain
    closure needing n productive steps (0 → 1 → … → n) returns the
    full closure at a budget of n + 1 and raises at n — for an odd and
    an even n, so both arms of the stride-2 loop are pinned."""
    seed = spark.createDataFrame([(0,)], "z long")
    calls = []

    def step(fr):
        calls.append(1)
        return fr.select((F.col("z") + 1).alias("z")).filter(F.col("z") <= n)

    out = fixpoint(seed, step, max_iterations=n + 1)
    assert sorted(r[0] for r in out.collect()) == list(range(n + 1))
    assert len(calls) == n + 1
    calls.clear()
    with pytest.raises(RuntimeError, match="did not converge"):
        fixpoint(seed, step, max_iterations=n)
    assert len(calls) == n


def test_while_null_tuples_terminate(spark):
    """r11 pin for the anti-join delta (_anti_new_only): the fixpoint's
    new-tuple test must treat NULL = NULL like subtract (EXCEPT
    DISTINCT) does, or a step that keeps emitting a NULL-bearing tuple
    never converges. The step re-emits every tuple it is given
    (including one with a NULL column) plus a bounded generator — the
    loop terminates only if NULL-bearing tuples are recognized as
    already-seen."""
    seed = spark.createDataFrame([(0, None), (0, 5)], "a long, b long")

    def step(fr):
        return fr.unionByName(
            fr.select((F.col("a") + 1).alias("a"), "b").filter(F.col("a") < 3)
        )

    out = fixpoint(seed, step, max_iterations=10)
    rows = {(r["a"], r["b"]) for r in out.collect()}
    # the filter resolves against the renamed column, so it bounds
    # a+1 < 3: generated rows stop at a=2 (matches subtract semantics)
    assert rows == {(0, None), (1, None), (2, None),
                    (0, 5), (1, 5), (2, 5)}


def test_while_delta_lineage_truncated(spark):
    """r11 pin for the lazy-checkpoint loop: the result of a fixpoint
    must be backed by materialized (checkpointed) deltas — a flat
    union whose plan holds no recursive step lineage — so deep
    recursions cannot blow the analyzer or recompute earlier rounds.
    'Scan ExistingRDD' nodes and the absence of any Join in the final
    plan prove every delta was cut at its checkpoint."""
    seed = spark.createDataFrame([(1,)], "x long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 9)], "src long, dst long")
    out = fixpoint(
        seed,
        lambda fr: fr.join(edges, fr["x"] == edges["src"]).select(
            F.col("dst").alias("x")),
    )
    assert sorted(r[0] for r in out.collect()) == list(range(1, 10))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # step lineage truncated at each delta


def test_nest_unnest_roundtrip(spdb):
    SP = spdb["SP"]
    nested = nest(SP, ["S#"], rva="items")
    assert nested.count() == 4  # S1..S4 supply parts
    flat = unnest(nested, "items")
    assert sorted(map(tuple, flat.collect())) == sorted(map(tuple, SP.collect()))


def test_fold_ops(spdb):
    SP = spdb["SP"]
    row = SP.agg(
        fold("+", "QTY").alias("s"),
        fold("max", "QTY").alias("mx"),
        fold("min", "QTY").alias("mn"),
        fold("count", "QTY").alias("n"),
    ).first()
    assert (row["s"], row["mx"], row["mn"], row["n"]) == (3100.0, 400.0, 100.0, 12)


def test_relation_fluent(spdb):
    """sample2.andl basics through the fluent API."""
    S = Relation(spdb["S"])
    assert S.count() == 5 and S.degree() == 4
    paris = S.where(F.col("CITY") == "Paris")
    assert paris.count() == 2
    assert S.where(F.col("SNAME").rlike("a.*k")).count() == 2  # Blake, Clark
    assert S.project("CITY").count() == 3  # set semantics
    ext = S.extend(Initial=F.substring("SNAME", 1, 1))
    assert ext.degree() == 5
    # aggregated projection per CITY (sample2.andl:97)
    agg = S.aggregate(["CITY"], total=fold("+", "STATUS"))
    rows = {r["CITY"]: r["total"] for r in agg.df.collect()}
    assert rows == {"London": 40.0, "Paris": 40.0, "Athens": 30.0}


def test_relation_seq_schema_lift(spark, spdb):
    assert Relation.seq(spark, 5).count() == 5
    sch = Relation(spdb["S"]).schema_rel().df.collect()
    assert ("STATUS", "number") in [tuple(r) for r in sch]
    total = Relation(spdb["SP"]).fold_all(t=fold("+", "QTY")).scalar()
    assert total == 3100.0


def test_fold_bool_ops(spdb):
    """SuiteRelFold.andl:14-17 — fold(and)/fold(or) over predicates."""
    S = spdb["S"]
    row = S.agg(
        fold("and", F.col("STATUS") == 10).alias("all10"),
        fold("and", F.col("STATUS") >= 10).alias("all_ge10"),
        fold("or", F.col("STATUS") == 10).alias("any10"),
        fold("or", F.col("STATUS") < 10).alias("any_lt10"),
        fold("*", "STATUS").alias("prod"),
    ).first()
    assert (row["all10"], row["all_ge10"], row["any10"], row["any_lt10"]) == (
        False, True, True, False,
    )
    assert row["prod"] == 20 * 10 * 30 * 20 * 30


def test_ordered_fold_noncommutative(spdb):
    """SuiteRelFold.andl:34-36 — fold(/), fold(-), ordered fold(&)."""
    from andl_spark.functions.fold import ordered_fold

    S = spdb["S"]
    row = S.agg(
        ordered_fold("/", "STATUS", "S#").alias("div"),
        ordered_fold("-", "STATUS", "S#").alias("sub"),
        ordered_fold(
            "&", F.col("STATUS").cast("int").cast("string"), "S#"
        ).alias("cat"),
    ).first()
    assert abs(row["div"] - 1 / 20 / 10 / 30 / 20 / 30) < 1e-12
    assert row["sub"] == 0 - 20 - 10 - 30 - 20 - 30
    assert row["cat"] == "2010302030"


def test_relation_equality(spdb, spark):
    """SuiteRelNest.andl — relation value equality is set equality."""
    S = Relation(spdb["S"])
    reordered = Relation(spdb["S"].orderBy(F.desc("S#")).select("CITY", "S#", "SNAME", "STATUS"))
    assert S.equals(reordered)
    assert not S.equals(Relation(spdb["S"].limit(4)))
    assert not S.equals(Relation(spdb["P"]))


def test_sub_sup_sep(spdb):
    """sample2.andl:131-133 — subset / superset / separate predicates."""
    S = Relation(spdb["S"])
    S3 = Relation(spdb["S"].filter(F.col("CITY") == "Paris"))
    SX = Relation(spdb["S"].filter(F.col("CITY") == "London"))
    assert S3.sub(S) and S.sup(S3)
    assert not S.sub(S3)
    assert S3.sep(SX)          # Paris and London suppliers are disjoint
    assert not S3.sep(S)
    assert S.sub(S) and S.sup(S) and not S.sep(S)


def test_skip_take(spdb):
    """Builtin.cs Take/Skip — first-n / after-first-n in order."""
    S = Relation(spdb["S"]).order_display("S#")
    taken = [r["S#"] for r in S.take(2).df.collect()]
    skipped = [r["S#"] for r in S.skip(3).df.collect()]
    allk = sorted(r["S#"] for r in spdb["S"].collect())
    assert sorted(taken) == allk[:2]
    assert sorted(skipped) == allk[3:]
    assert S.skip(2).take(2).count() == 2


def test_transitive_closure_matches_fixpoint_in_log_rounds(spark):
    """Path doubling (operators/closure.py): same reachability as the
    semi-naive `.while()` fixpoint, in O(log diameter) rounds — the
    256-deep chain that costs the general fixpoint 256 sequential
    rounds converges in 8 (2^8 = 256)."""
    import math

    from pyspark.sql import functions as F

    from andl_spark.operators import whileop as W
    from andl_spark.operators.closure import transitive_closure

    n = 256
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long")
    stats = {}
    tc = transitive_closure(edges, stats=stats)
    assert stats["rounds"] <= math.ceil(math.log2(n)) + 1
    got = {r["dst"] for r in tc.filter(F.col("src") == 0).collect()}
    assert got == set(range(1, n + 1))  # full chain reachable, 8 rounds
    # equivalence vs the general fixpoint on a chain it can afford
    # (semi-naive needs one round PER LEVEL — the very cost this
    # operator exists to avoid, so the cross-check uses depth 48)
    m = 48
    short = spark.createDataFrame(
        [(i, i + 1) for i in range(m)], "src long, dst long")
    seed = spark.createDataFrame([(0,)], "node long")
    step = lambda fr: fr.join(
        short, fr["node"] == short["src"]).select(
        F.col("dst").alias("node"))
    want = {r["node"] for r in W.fixpoint(seed, step).collect()}
    got = {r["dst"] for r in transitive_closure(short)
           .filter(F.col("src") == 0).collect()} | {0}
    assert got == want and len(want) == m + 1
    # branching graph: full pair set, NULL edges ignored
    g = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (None, 9), (9, None)],
        "src long, dst long")
    pairs = {(r["src"], r["dst"]) for r in transitive_closure(g).collect()}
    assert pairs == {(1, 2), (1, 3), (1, 4), (1, 5), (2, 4), (2, 5),
                     (3, 4), (3, 5), (4, 5)}

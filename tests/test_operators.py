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


def _reach(edges, seed, at):
    """Python BFS oracle for a Hop fixpoint: every seed tuple, plus each
    tuple with column ``at`` replaced by a node reachable from it, with
    its fewest hops (``None`` is a sink node, NULL sources never match,
    as in the equi-join)."""
    adj = {}
    for s, d in edges:
        if s is not None:
            adj.setdefault(s, set()).add(d)
    best = {}
    for row in seed:
        depth, frontier = 0, [row[at]]
        seen = {row[at]}
        while frontier:
            for x in frontier:
                t = row[:at] + (x,) + row[at + 1:]
                best[t] = min(best.get(t, depth), depth)
            depth += 1
            frontier = [y for x in frontier for y in adj.get(x, ()) if y not in seen]
            seen.update(frontier)
    return best


def _hop_closure(spark, edges, seed, schema, at="node", with_level=False, semi=True):
    """(rows, stats) of the Hop fixpoint and (when ``semi``) the rows of
    the same step as a plain semi-naive lambda."""
    from andl_spark.operators.whileop import Hop, fixpoint_with_level

    e = spark.createDataFrame(edges, "src long, dst long")
    s = spark.createDataFrame(seed, schema)
    if with_level:
        s = s.withColumn("level", F.lit(0).cast("long"))
    run = fixpoint_with_level if with_level else fixpoint

    hop = e.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))

    def plain(fr):
        out = fr.join(hop, F.col(at) == F.col("e_src")).withColumn(at, F.col("e_dst"))
        if with_level:
            out = out.withColumn("level", F.col("level") + 1)
        return out.select(*s.columns)

    stats = {}
    got = {tuple(r) for r in run(s, Hop(e, at=at), stats=stats).select(*s.columns).collect()}
    if not semi:
        return got, stats
    want = {tuple(r) for r in run(s, plain).select(*s.columns).collect()}
    return got, want, stats


def test_hop_chain_doubles_in_log_rounds(spark):
    """A 256-deep chain (255 hops from the seed) closes by doubling in
    at most ⌈log₂ 256⌉ + 1 rounds, with every node reached."""
    import math

    from andl_spark.operators.whileop import Hop

    n = 256
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    seed = spark.createDataFrame([(0,)], "node long")
    stats = {}
    got = {r["node"] for r in fixpoint(seed, Hop(edges, at="node"), stats=stats).collect()}
    assert stats["evaluator"] == "doubling"
    assert stats["rounds"] <= math.ceil(math.log2(n)) + 1
    assert got == set(range(n))


@pytest.mark.parametrize("with_level", [False, True])
def test_hop_functional_cycle_with_tail(spark, with_level):
    """Out-degree 1 with in-degree 2: a tail 0→1→2→3 into the cycle
    3→4→5→6→3, and a second tail 20→3. The doubled fixpoint terminates
    and equals semi-naive; with levels, node 3 keeps the fewest-hops
    level (1, from seed 20) although seed 0 reaches it by a longer
    path — and the walks' duplicate arrivals collapse. The BFS oracle
    assigns semi-naive's first-reach levels."""
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 3), (20, 3)]
    got, *want, stats = _hop_closure(
        spark, edges, [(0,), (20,)], "node long", with_level=with_level,
        semi=not with_level)
    assert stats["evaluator"] == "doubling"
    assert want in ([], [got])
    oracle = _reach(edges, [(0,), (20,)], 0)
    if with_level:
        assert got == {k + (v,) for k, v in oracle.items()}
    else:
        assert got == set(oracle)


def test_hop_null_edges_match_semi_naive(spark):
    """A NULL src never joins; a NULL dst is a sink that is reached
    (at = NULL) and never left — exactly the semi-naive equi-join."""
    edges = [(1, 2), (2, None), (None, 9), (9, None), (None, None)]
    got, want, stats = _hop_closure(spark, edges, [(1,), (9,), (None,)], "node long")
    assert stats["evaluator"] == "doubling"
    assert got == want == {(1,), (2,), (9,), (None,)}


def test_hop_empty_seed_and_depth_one(spark):
    """An empty seed closes in one round; a depth-1 fan-out (in-degree
    1, out-degree 2) in two."""
    got, stats = _hop_closure(spark, [(1, 2), (1, 3)], [], "node long", semi=False)
    assert got == set() and stats == {"evaluator": "doubling", "rounds": 1}
    got, stats = _hop_closure(spark, [(1, 2), (1, 3)], [(1,)], "node long", semi=False)
    assert got == {(1,), (2,), (3,)}
    assert stats == {"evaluator": "doubling", "rounds": 2}


@pytest.mark.parametrize("shape,evaluator", [
    ("branching", "semi-naive"), ("out_tree", "doubling")])
def test_hop_all_pairs_closure_carries_columns(spark, shape, evaluator):
    """The all-pairs closure is ``fixpoint(edges, Hop(edges, at=dst))``:
    ``src`` is carried. The diamond's branching graph (a node with two
    parents and one with two children) stays semi-naive; an out-tree
    (in-degree 1) doubles. NULL edges are seed rows and follow the
    NULL sink rule."""
    edges = {
        "branching": [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (None, 9), (9, None)],
        "out_tree": [(1, 2), (1, 3), (2, 4), (3, 5), (5, 6), (5, 7), (None, 9), (9, None)],
    }[shape]
    got, stats = _hop_closure(
        spark, edges, edges, "src long, dst long", at="dst", semi=False)
    assert stats["evaluator"] == evaluator
    assert got == set(_reach(edges, edges, 1))
    if shape == "branching":  # the pairs the old path-doubling closure returned
        assert {p for p in got if None not in p} == {
            (1, 2), (1, 3), (1, 4), (1, 5), (2, 4), (2, 5), (3, 4), (3, 5), (4, 5)}


@pytest.mark.parametrize("with_level", [False, True])
def test_hop_dense_graph_stays_semi_naive(spark, with_level):
    """The degree guard keeps dense graphs, where the walk relation can
    grow quadratically, on the semi-naive loop: the diamond then a
    30×30 complete bipartite layer, rows identical to the BFS (with
    levels, each semi-naive hop adds 1)."""
    layer_a, layer_b = range(100, 130), range(200, 230)
    edges = ([(1, 2), (1, 3), (2, 4), (3, 4)] + [(4, a) for a in layer_a]
             + [(a, b) for a in layer_a for b in layer_b])
    got, stats = _hop_closure(
        spark, edges, [(1,)], "node long", with_level=with_level, semi=False)
    assert stats["evaluator"] == "semi-naive"
    oracle = _reach(edges, [(1,)], 0)
    assert got == ({k + (v,) for k, v in oracle.items()} if with_level else set(oracle))
    assert len(got) == 4 + 30 + 30

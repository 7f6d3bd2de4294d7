"""Unit tests for update relvars, while fixpoint, nest/unnest, fold map,
and the Relation fluent API — mirroring reference suites
(SuiteUpdateCat*, SuiteRelWhile, SuiteRelNest, SuiteRelFold)."""

import datetime as dt
from decimal import Decimal as D

import pytest
from pyspark.sql import functions as F

from andl_spark import Relation, trace
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


def _evaluators(monkeypatch):
    """Run a Hop test under both evaluator families: first at the
    default ``_BROADCAST_ROWS``, where the broadcast BFS closes the step
    (yields True), then with the bound at 0, so every non-empty edge set
    exceeds it and the degree guard picks doubling or semi-naive
    (yields False). The monkeypatch fixture restores the bound."""
    from andl_spark.operators import whileop

    yield True
    monkeypatch.setattr(whileop, "_BROADCAST_ROWS", 0)
    yield False


def _frames(spark, edges, seed, schema, with_level, key):
    e = spark.createDataFrame(edges, f"src {key}, dst {key}")
    s = spark.createDataFrame(seed, schema)
    if with_level:
        s = s.withColumn("level", F.lit(0).cast("long"))
    return e, s


def _hop_closure(spark, edges, seed, schema, at="node", with_level=False, key="long"):
    """(rows, decision) of the Hop fixpoint, the decision as
    :func:`_fixpoint_decision` reads it; the edges' ``src`` and ``dst``
    have type ``key``."""
    from andl_spark.operators.whileop import Hop, fixpoint_with_level

    e, s = _frames(spark, edges, seed, schema, with_level, key)
    run = fixpoint_with_level if with_level else fixpoint
    with trace.recording() as rec:
        got = {tuple(r) for r in run(s, Hop(e, at=at)).select(*s.columns).collect()}
    return got, _fixpoint_decision(rec)


def _fixpoint_decision(rec):
    """The one fixpoint decision in the trace record ``rec``, without
    its op label: ``{"evaluator": ..., "rounds": ...}``."""
    (decision,) = rec
    assert decision.pop("op") == "fixpoint"
    return decision


def _plain_closure(spark, edges, seed, schema, at="node", with_level=False, key="long"):
    """The rows of the same step as a plain semi-naive lambda."""
    from andl_spark.operators.whileop import fixpoint_with_level

    e, s = _frames(spark, edges, seed, schema, with_level, key)
    hop = e.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))

    def plain(fr):
        out = fr.join(hop, F.col(at) == F.col("e_src")).withColumn(at, F.col("e_dst"))
        if with_level:
            out = out.withColumn("level", F.col("level") + 1)
        return out.select(*s.columns)

    run = fixpoint_with_level if with_level else fixpoint
    return {tuple(r) for r in run(s, plain).select(*s.columns).collect()}


def test_hop_chain_doubles_in_log_rounds(spark, monkeypatch):
    """A 256-deep chain (255 hops from the seed) closes by doubling in
    at most ⌈log₂ 256⌉ + 1 rounds, with every node reached; under the
    broadcast BFS in at most 4 Spark jobs, the collect included (the
    edge fetch, the BFS stage, its settling, the checkpoint read; counted
    through a job group), at depth 255 although that exceeds the default
    budget of 100."""
    import math

    from andl_spark.operators.whileop import Hop

    from conftest import jobs_run

    n = 256
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    seed = spark.createDataFrame([(0,)], "node long")
    for bfs in _evaluators(monkeypatch):
        with trace.recording() as rec:
            got, jobs = jobs_run(spark, f"hop-chain-{bfs}", lambda: {
                r["node"] for r in fixpoint(seed, Hop(edges, at="node")).collect()})
        decision = _fixpoint_decision(rec)
        if bfs:
            assert decision == {"evaluator": "broadcast-bfs", "rounds": n - 1}
            assert jobs <= 4
        else:
            assert decision["evaluator"] == "doubling"
            assert decision["rounds"] <= math.ceil(math.log2(n)) + 1
        assert got == set(range(n))


@pytest.mark.parametrize("with_level", [False, True])
def test_hop_functional_cycle_with_tail(spark, monkeypatch, with_level):
    """Out-degree 1 with in-degree 2: a tail 0→1→2→3 into the cycle
    3→4→5→6→3, and a second tail 20→3. The BFS and the doubled fixpoint
    terminate and equal semi-naive; with levels, node 3 keeps the
    fewest-hops level (1, from seed 20) although seed 0 reaches it by a
    longer path — and the walks' duplicate arrivals collapse. The BFS
    oracle assigns semi-naive's first-reach levels."""
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 3), (20, 3)]
    oracle = _reach(edges, [(0,), (20,)], 0)
    want = [] if with_level else [_plain_closure(spark, edges, [(0,), (20,)], "node long")]
    for bfs in _evaluators(monkeypatch):
        got, decision = _hop_closure(
            spark, edges, [(0,), (20,)], "node long", with_level=with_level)
        assert decision["evaluator"] == ("broadcast-bfs" if bfs else "doubling")
        assert want in ([], [got])
        if with_level:
            assert got == {k + (v,) for k, v in oracle.items()}
        else:
            assert got == set(oracle)


def test_hop_null_edges_match_semi_naive(spark, monkeypatch):
    """A NULL src never joins; a NULL dst is a sink that is reached
    (at = NULL) and never left — exactly the semi-naive equi-join."""
    edges = [(1, 2), (2, None), (None, 9), (9, None), (None, None)]
    want = _plain_closure(spark, edges, [(1,), (9,), (None,)], "node long")
    for bfs in _evaluators(monkeypatch):
        got, decision = _hop_closure(spark, edges, [(1,), (9,), (None,)], "node long")
        assert decision["evaluator"] == ("broadcast-bfs" if bfs else "doubling")
        assert got == want == {(1,), (2,), (9,), (None,)}


def test_hop_empty_seed_and_depth_one(spark, monkeypatch):
    """An empty seed closes in one round (the BFS: depth 0); a depth-1
    fan-out (in-degree 1, out-degree 2) in two (the BFS: depth 1)."""
    for bfs in _evaluators(monkeypatch):
        name, empty, one = ("broadcast-bfs", 0, 1) if bfs else ("doubling", 1, 2)
        got, decision = _hop_closure(spark, [(1, 2), (1, 3)], [], "node long")
        assert got == set() and decision == {"evaluator": name, "rounds": empty}
        got, decision = _hop_closure(spark, [(1, 2), (1, 3)], [(1,)], "node long")
        assert got == {(1,), (2,), (3,)}
        assert decision == {"evaluator": name, "rounds": one}


@pytest.mark.parametrize("shape,evaluator", [
    ("branching", "semi-naive"), ("out_tree", "doubling")])
def test_hop_all_pairs_closure_carries_columns(spark, monkeypatch, shape, evaluator):
    """The all-pairs closure is ``fixpoint(edges, Hop(edges, at=dst))``:
    ``src`` is carried. Over the bound, the diamond's branching graph (a
    node with two parents and one with two children) stays semi-naive;
    an out-tree (in-degree 1) doubles. NULL edges are seed rows and
    follow the NULL sink rule."""
    edges = {
        "branching": [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (None, 9), (9, None)],
        "out_tree": [(1, 2), (1, 3), (2, 4), (3, 5), (5, 6), (5, 7), (None, 9), (9, None)],
    }[shape]
    for bfs in _evaluators(monkeypatch):
        got, decision = _hop_closure(
            spark, edges, edges, "src long, dst long", at="dst")
        assert decision["evaluator"] == ("broadcast-bfs" if bfs else evaluator)
        assert got == set(_reach(edges, edges, 1))
        if shape == "branching":  # the pairs the old path-doubling closure returned
            assert {p for p in got if None not in p} == {
                (1, 2), (1, 3), (1, 4), (1, 5), (2, 4), (2, 5), (3, 4), (3, 5), (4, 5)}


@pytest.mark.parametrize("with_level", [False, True])
def test_hop_dense_graph_stays_semi_naive(spark, monkeypatch, with_level):
    """Over the bound, the degree guard keeps dense graphs, where the
    walk relation can grow quadratically, on the semi-naive loop: the
    diamond then a 30×30 complete bipartite layer, rows identical to
    the BFS (with levels, each semi-naive hop adds 1). Under the bound
    the broadcast BFS closes the same graph to the same rows."""
    layer_a, layer_b = range(100, 130), range(200, 230)
    edges = ([(1, 2), (1, 3), (2, 4), (3, 4)] + [(4, a) for a in layer_a]
             + [(a, b) for a in layer_a for b in layer_b])
    oracle = _reach(edges, [(1,)], 0)
    for bfs in _evaluators(monkeypatch):
        got, decision = _hop_closure(
            spark, edges, [(1,)], "node long", with_level=with_level)
        assert decision["evaluator"] == ("broadcast-bfs" if bfs else "semi-naive")
        assert got == ({k + (v,) for k, v in oracle.items()} if with_level else set(oracle))
        assert len(got) == 4 + 30 + 30


def _nan_free(rows):
    """Rows with every float NaN replaced by a marker, so set equality
    can match them (−0.0 and 0.0 already hash and compare equal)."""
    return {tuple("NaN" if isinstance(x, float) and x != x else x for x in r) for r in rows}


_NAN = float("nan")


@pytest.mark.parametrize("key,edges,seed", [
    # NaN = NaN and −0.0 = 0.0 join, as in Spark's normalized equi-join
    ("double", [(1.0, _NAN), (_NAN, -0.0), (0.0, None), (-0.0, 3.0), (None, 1.0)],
     [(1.0,), (-0.0,), (None,)]),
    ("decimal(6,2)", [(D("1.10"), D("2.00")), (D("2"), D("3.25")), (D("3.25"), D("1.1")),
                      (D("4"), D("5"))], [(D("1.1"),)]),
    ("date", [(dt.date(2024, 2, 29), dt.date(2024, 3, 1)), (dt.date(2024, 3, 1), None),
              (dt.date(1, 1, 1), dt.date(2024, 2, 29))], [(dt.date(1, 1, 1),)]),
    # UTF8_BINARY: case and composed/decomposed forms are distinct keys
    ("string", [("a", "b"), ("b", "\u00e9"), ("\u00e9", "c"), ("e\u0301", "x"), ("A", "y"),
                ("", "a")], [("",), ("A",)]),
], ids=["double", "decimal", "date", "string"])
def test_bfs_key_equality_matches_the_equi_join(spark, key, edges, seed):
    """The broadcast BFS compares keys as Spark's equi-join does: its
    rows equal the plain semi-naive step's for floats (the Python
    oracle's NaN ≠ NaN), and the BFS oracle's for the key types whose
    Python equality is Spark's."""
    got, decision = _hop_closure(spark, edges, seed, f"node {key}", key=key)
    assert decision["evaluator"] == "broadcast-bfs"
    if key == "double":
        assert _nan_free(got) == _nan_free(_plain_closure(spark, edges, seed, f"node {key}", key=key))
        assert _nan_free(got) == {(1.0,), ("NaN",), (0.0,), (3.0,), (None,)}
    else:
        assert got == set(_reach(edges, seed, 0))


def test_bfs_carries_columns_with_the_semi_naive_schema(spark):
    """Carried columns are copied and the output schema, nullability
    included, is the one the semi-naive step returns; duplicate seed rows
    collapse."""
    from andl_spark.operators.whileop import Hop

    e = spark.createDataFrame([("a", "b"), ("b", None), ("b", "c")],
                              "src string not null, dst string")
    seed = spark.createDataFrame(
        [("x", "a", 1.5), ("y", "c", None), ("x", "a", 1.5), ("z", "q", 2.0)],
        "tag string not null, node string not null, w double")
    hop = e.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))
    with trace.recording() as rec:
        got = fixpoint(seed, Hop(e, at="node"))
    decision = _fixpoint_decision(rec)
    want = fixpoint(seed, lambda fr: fr.join(hop, F.col("node") == F.col("e_src"))
                    .withColumn("node", F.col("e_dst")).select(*seed.columns))
    assert decision["evaluator"] == "broadcast-bfs"
    assert got.schema == want.schema
    rows = {tuple(r) for r in got.collect()}
    assert rows == {tuple(r) for r in want.collect()}
    assert rows == {("x", n, 1.5) for n in ("a", "b", "c", None)} | {
        ("y", "c", None), ("z", "q", 2.0)}


def test_bfs_chunks_a_reach_larger_than_one_batch(spark, monkeypatch):
    """One seed that reaches more nodes than an output chunk holds is
    split across batches of at most ``_CHUNK_ROWS`` rows, and the rows
    (with levels: seed level + BFS distance) still equal the oracle."""
    import pyarrow as pa

    from andl_spark.operators import whileop

    chain = [(i, i + 1) for i in range(30)]
    pairs = pa.table({whileop._SRC: [s for s, _ in chain], whileop._DST: [d for _, d in chain]})
    schema = pa.schema([("node", pa.int64()), ("level", pa.int64()), (whileop._HOPS, pa.int32())])
    depths = []
    run = whileop._bfs_batches(pairs, lambda v: v, "node", "level", schema, 4, depths.append)
    seed = pa.record_batch({"node": [0, 25], "level": [10, 0]})
    out = list(run(iter([seed])))
    assert max(b.num_rows for b in out) <= 4
    rows = [r for b in out for r in zip(*(c.to_pylist() for c in b.columns))]
    assert sorted(rows) == sorted([(n, 10 + n, n) for n in range(31)]
                                  + [(n, n - 25, n - 25) for n in range(25, 31)])
    assert max(depths) == 30

    monkeypatch.setattr(whileop, "_CHUNK_ROWS", 4)
    got, decision = _hop_closure(spark, chain, [(0,)], "node long", with_level=True)
    assert decision == {"evaluator": "broadcast-bfs", "rounds": 30}
    assert got == {k + (v,) for k, v in _reach(chain, [(0,)], 0).items()}

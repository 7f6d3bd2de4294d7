"""Fixed-point iteration — Andl's `.while()` (recursive queries).

Reference: Sample/recursive.andl and Test/SuiteRelWhile.andl — seed
relation, apply an expression to produce new tuples, accumulate until
no new tuples appear (SQL `WITH RECURSIVE` equivalent; engine loop in
Andl.Runtime/DataTableLocal.cs Recurse).

Spark-first design (semi-naive evaluation):
  * Each iteration applies ``step`` only to the *frontier* (tuples
    discovered last round), not the accumulated set — the Datalog
    optimization that keeps per-iteration join input small even when
    the closure is huge.
  * Every delta is a lazy localCheckpoint that the emptiness count
    materializes, and two step applications share one count job
    (stride-2, see _run) — about half a scheduled job per iteration.
    The accumulated total is a flat union of those materialized deltas,
    so lineage depth stays O(1) however deep the recursion runs.
  * The only driver-side value is the per-iteration frontier count
    (computed distributed); tuple data never hits the driver.

Reachability steps (:class:`Hop`) pick one of three evaluators:
  * A ``Hop(edges, at, src, dst)`` step joins ``frontier[at] =
    edges[src]``, replaces ``at`` with ``edges[dst]`` and carries every
    other column. Semi-naive pays one round per hop of the longest
    shortest path; Spark's fixed per-round cost (planning plus a few
    scheduled jobs) then dominates deep, thin graphs.
  * :func:`fixpoint` and :func:`fixpoint_with_level` decide once, in
    this order, and no parameter or setting selects the evaluator:
      1. bound — when ``at``, ``src`` and ``dst`` share one key type
         whose equality Python can reproduce (:func:`_join_key`), ONE
         job fetches the non-NULL-``src`` edges, at most
         ``_BROADCAST_ROWS + 1`` of them, as Arrow. If they fit the
         bound, the broadcast BFS closes the step in one stage.
      2. degree guard — otherwise ONE aggregate over the distinct edges
         (NULL ``src`` dropped — it never joins): if the maximum
         out-degree or the maximum in-degree is ≤ 1 they double;
      3. otherwise they run the semi-naive loop unchanged.

    The decision (``evaluator``) and its ``rounds`` (for the BFS: the
    deepest BFS distance reached) are noted in the trace record
    (``trace.note("fixpoint", ...)``, read through ``trace.recording``).
  * Broadcast BFS: the driver builds the adjacency from the fetched
    edges and ships it inside the ``mapInArrow`` function; no broadcast
    variable is made, so none needs releasing (PySpark itself ships a
    pickled function over 1 MB as a broadcast). Each task runs a BFS per seed row, memoized
    per start node, and emits the seed row plus one row per reached
    node (``at`` := that node, level + BFS distance) in Arrow batches
    of at most ``_CHUNK_ROWS`` rows; a ``distinct`` (with levels: the
    fewest-hops row per tuple) settles the rows across seeds. A
    broadcast join collects its small side on the driver the same way,
    so the fetch moves no more data than doubling's broadcasts do. The
    result is checkpointed eagerly, so the noted ``rounds`` is the BFS
    depth.
  * Doubling: R₀ = seed, P₀ = edges; round k computes
    δ = (R ⋈ P_k)[at := dst] anti R, R += δ, P_{k+1} = P_k ∘ P_k, so
    P_k holds the walks of exactly 2^k hops and R_k every tuple whose
    shortest distance D from the seed is < 2^k.
  * Stopping rule: the first empty δ ends the loop, and R is then
    complete — a tuple with D ≥ 2^k has, on its shortest path, a node
    at distance exactly 2^k; that node is (R_k ⋈ P_k) and not in R_k,
    so it would be in δ. A graph of depth d (nodes on the longest
    shortest path from the seed, seed included) closes in
    ⌈log₂ d⌉ + 1 rounds.
  * The degree guard bounds the work: with out-degree ≤ 1 (in-degree
    ≤ 1) every node starts (ends) at most one walk of each length, so
    |P_k| ≤ |edges| and P_k ∘ P_k has no duplicate pairs — P is never
    deduplicated. R is, once, at the end (and δ each round only when
    in-degree > 1, where two seed paths can meet). Dense graphs, where
    the walk relation can grow quadratically, stay semi-naive.
  * A NULL ``dst`` is a sink node under every evaluator, exactly as in
    the semi-naive join: it is reached (the tuple gets ``at`` = NULL)
    and never left.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, BooleanType, ByteType, DataType, DateType, DecimalType, DoubleType,
    FloatType, IntegerType, LongType, ShortType, StringType, StructType,
)

from ..trace import note

# Internal column names of the edge/walk relation and the doubling hop
# counter; fresh names keep joins against the frontier unambiguous.
_SRC, _DST, _MID, _END, _HOPS = (
    "__hop_src", "__hop_dst", "__hop_mid", "__hop_end", "__hop_n")

#: The broadcast BFS ships edge sets of at most this many rows, and
#: doubling broadcasts a join side (R, or the walks) while it holds at
#: most this many — a few MB for reachability headings.
_BROADCAST_ROWS = 200_000

#: The broadcast BFS emits Arrow batches of at most this many rows, so a
#: seed that reaches many nodes does not make one giant batch.
_CHUNK_ROWS = 10_000


class Hop:
    """Declarative linear `.while` step: join ``frontier[at] =
    edges[src]``, replace ``at`` with ``edges[dst]``, carry every other
    frontier column.

    A Hop is an ordinary step (``hop(frontier)``), so every fixpoint
    accepts it; :func:`fixpoint` and :func:`fixpoint_with_level` also
    recognise it and close it by a broadcast BFS when the edges fit
    ``_BROADCAST_ROWS``, else by seeded path doubling when the degree
    guard allows, else semi-naive (module docstring). Under
    ``fixpoint_with_level`` one hop adds 1 to the level."""

    def __init__(self, edges: DataFrame, at: str, src: str = "src", dst: str = "dst"):
        self.edges, self.at, self.src, self.dst = edges, at, src, dst

    def __call__(self, frontier: DataFrame) -> DataFrame:
        return _advance(frontier, self._pairs(), self.at)

    def _pairs(self) -> DataFrame:
        return self.edges.select(F.col(self.src).alias(_SRC), F.col(self.dst).alias(_DST))


def _advance(frontier: DataFrame, pairs: DataFrame, at: str, bump: dict | None = None) -> DataFrame:
    """``frontier ⋈ pairs`` on ``at = src``, ``at := dst``; columns in
    ``bump`` grow by the given amount (level and hop counters)."""
    bump = bump or {}
    out = [
        F.col(_DST).alias(c) if c == at
        else (F.col(c) + bump[c]).alias(c) if c in bump
        else F.col(c)
        for c in frontier.columns
    ]
    return frontier.join(pairs, F.col(at) == F.col(_SRC)).select(*out)


def _run(
    seed: DataFrame,
    produce: Callable[[DataFrame], DataFrame],
    new_only: Callable[[DataFrame, DataFrame], DataFrame],
    max_iterations: int,
) -> DataFrame:
    """Semi-naive fixpoint: apply ``produce`` to the frontier, keep
    ``new_only(produced, total)``, and stop on the first empty delta.

    Contract: ``produce(∅) = ∅`` — an empty frontier produces nothing.
    The stride-2 emptiness check relies on it: a non-empty second delta
    then certifies the first was non-empty too, so one count per two
    step applications is enough.

    ``max_iterations`` budgets STEP APPLICATIONS, including the one
    that finds the frontier closed: a closure needing n productive
    steps returns at a budget of n + 1 and raises RuntimeError at n.
    Notes ``evaluator`` and ``rounds`` (step applications).
    """
    # Invariant: every delta is a materialized localCheckpoint, so
    # `total` is always a FLAT union of materialized roots — lineage
    # depth stays O(1) regardless of recursion depth, and nothing is
    # ever recomputed. ONE job per iteration (r11): the checkpoint is
    # declared lazily and the emptiness probe's count() is the action
    # that materializes it — the old eager-checkpoint + isEmpty pair
    # paid two scheduled jobs per round, pure fixed latency on deep
    # recursions (guide §1.2: per-round driver overhead dominates when
    # deltas are small; measured 11.7s -> 9s on the 13-round closure
    # before the anti-join change below). AQE's partition coalescing
    # keeps each delta to a handful of partitions, so the union stays
    # narrow even after many rounds.
    #
    # STRIDE-2 emptiness checks (r12): two step applications share one
    # count job — delta1 stays a lazy checkpoint that delta2's count
    # materializes through its lineage, so the scheduled count jobs per
    # iteration drop from 1 to ~0.5 (guide §1.2 fixed per-round
    # latency). Semantics are unchanged: delta2 non-empty ⟹ delta1
    # non-empty (the produce(∅) = ∅ contract above), so
    # a positive count certifies both rounds really advanced, and on
    # count==0 the fixpoint is already closed — `total` holds every
    # tuple whether convergence happened at the odd or the even round
    # (unioning an empty delta adds nothing).
    total = seed.localCheckpoint(eager=True)
    frontier = total
    steps = 0
    while steps < max_iterations:
        delta = new_only(produce(frontier), total).localCheckpoint(eager=False)
        steps += 1
        if steps < max_iterations:  # fuse the next round into this count
            mid_total = total.unionByName(delta)
            delta2 = new_only(produce(delta), mid_total).localCheckpoint(eager=False)
            steps += 1
            if delta2.count() == 0:
                # closed at the odd or the even round; empty union legs
                # are free and keep `total` a flat union of checkpoints
                note("fixpoint", evaluator="semi-naive", rounds=steps)
                return mid_total.unionByName(delta2)
            total = mid_total.unionByName(delta2)
            frontier = delta2
        else:
            if delta.count() == 0:
                note("fixpoint", evaluator="semi-naive", rounds=steps)
                return total
            total = total.unionByName(delta)
            frontier = delta
    raise RuntimeError(f"fixpoint did not converge in {max_iterations} iterations")


def _anti_new_only(produced: DataFrame, total: DataFrame, cols: list[str],
                   broadcast: bool = False) -> DataFrame:
    """Tuples of ``produced`` not yet in ``total`` as a null-safe
    ANTI-JOIN — plan-for-plan cheaper than EXCEPT DISTINCT (subtract
    aggregates BOTH sides before the set-difference join; the anti form
    streams total's keys — measured 3.9s -> 3.3s over the 13-round
    closure at sf0.1). ``produced`` is NOT deduplicated here: the
    semi-naive callers dedup it first, doubling dedups once at the end.
    ``eqNullSafe`` keeps subtract's NULL semantics exactly: a produced
    tuple with NULLs is dropped when total holds the same tuple.

    The probe side is renamed to fresh names before the join: when
    ``step`` passes frontier columns through unchanged, every delta
    inherits the seed's attribute IDs, so both join inputs carry the
    SAME expression IDs and Spark's self-join disambiguation can bind
    both sides of the condition to one attribute — silently turning the
    anti-join into drop-everything (premature convergence). Unique
    names on the probe side make resolution unambiguous by name."""
    probe_names = [f"__fix_seen_{i}" for i in range(len(cols))]
    t = total.select(*[F.col(c).alias(n) for c, n in zip(cols, probe_names)])
    cond = functools.reduce(
        operator.and_,
        [produced[c].eqNullSafe(F.col(n)) for c, n in zip(cols, probe_names)],
    )
    return produced.join(F.broadcast(t) if broadcast else t, on=cond, how="leftanti")


def _join_key(dt: DataType) -> Callable | None:
    """A function mapping a value of Spark type ``dt`` (as Arrow's
    ``to_pylist`` gives it) to a dict key that two values share exactly
    when Spark's equi-join finds them equal; None where that is not
    guaranteed (timestamps, intervals, collated strings, complex types),
    which keeps the step on the Spark evaluators.

    Spark's join normalizes floats so that NaN = NaN and −0.0 = 0.0:
    Python already has −0.0 == 0.0 with one hash, and every NaN maps to
    one sentinel (a float column holds no strings). Integers, booleans,
    decimals (one type, so one scale), dates, binary and UTF8_BINARY
    strings compare in Python as Spark compares them."""
    if isinstance(dt, (FloatType, DoubleType)):
        nan = "NaN"
        return lambda v: nan if v != v else v
    exact = (BinaryType, BooleanType, ByteType, DateType, DecimalType, IntegerType,
             LongType, ShortType)
    if isinstance(dt, exact) or dt == StringType():
        return lambda v: v
    return None


def _bfs_batches(pairs, key: Callable, at: str, level: str | None, schema,
                 chunk: int, note_depth: Callable[[int], None]) -> Callable:
    """The ``mapInArrow`` function of the broadcast BFS over the
    ``pairs`` Arrow table (``_SRC``/``_DST``, no NULL ``src``): for each
    seed row, the row itself (hop count 0) and one row per node its BFS
    reaches, with ``at`` := that node's ``dst`` value and ``level`` (when
    given) grown by the BFS distance. With a level, a trailing ``_HOPS``
    column holds the distance. Batches have the Arrow ``schema`` and at
    most ``chunk`` rows; ``note_depth`` receives each BFS's depth.

    The adjacency is built here, on the driver, over node ids from
    ``key``. Reach sets are memoized per start node within a task, so
    the all-pairs closure (seed = edges) runs one BFS per distinct start
    per task. Self-contained: executors of a driver-owned session may
    not import andl_spark, so the returned closure names nothing from
    this package."""
    src = [key(v) for v in pairs.column(_SRC).to_pylist()]
    dst = [key(v) for v in pairs.column(_DST).to_pylist()]
    first: dict = {}  # each dst node's first row
    for i, k in enumerate(dst):
        first.setdefault(k, i)
    # dst nodes get the ids below len(first): the only nodes a hop reaches
    values = pairs.column(_DST).take(list(first.values())).combine_chunks()
    ids = {k: n for n, k in enumerate(first)}
    for k in src:
        ids.setdefault(k, len(ids))
    adj = [set() for _ in ids]
    for s, d in zip(src, dst):
        adj[ids[s]].add(ids[d])
    adj = [tuple(a) for a in adj]

    def run(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        memo: dict = {}

        def reach(s):
            got = memo.get(s)
            if got is None:
                seen, frontier, nodes, dists, d = {s}, [s], [], [], 0
                while frontier:
                    d += 1
                    nxt = []
                    for x in frontier:
                        for y in adj[x]:
                            if y not in seen:
                                seen.add(y)
                                nxt.append(y)
                    nodes += nxt
                    dists += [d] * len(nxt)
                    frontier = nxt
                got = memo[s] = (np.array(nodes, np.int64), np.array(dists, np.int32))
                note_depth(d - 1)
            return got

        def emit(cols):
            out = pa.RecordBatch.from_arrays(
                [c.cast(f.type) for c, f in zip(cols, schema)], schema=schema)
            for lo in range(0, out.num_rows, chunk):
                yield out.slice(lo, chunk)

        def reached(batch, rows, nodes, dists):
            rows = pa.array(rows)
            cols = [
                values.take(nodes) if name == at
                else pc.add_checked(batch.column(name).take(rows), pa.array(dists)) if name == level
                else batch.column(name).take(rows)
                for name in batch.schema.names
            ]
            return emit(cols + ([pa.array(dists)] if level else []))

        for batch in batches:
            n = batch.num_rows
            yield from emit(batch.columns + ([pa.array(np.zeros(n, np.int32))] if level else []))
            pend, size = [], 0
            for i, v in enumerate(batch.column(at).to_pylist()):
                s = ids.get(key(v))
                if s is None:
                    continue
                nodes, dists = reach(s)
                if len(nodes):
                    pend.append((np.full(len(nodes), i, np.int64), nodes, dists))
                    size += len(nodes)
                if size >= chunk:
                    yield from reached(batch, *(np.concatenate(p) for p in zip(*pend)))
                    pend, size = [], 0
            if size:
                yield from reached(batch, *(np.concatenate(p) for p in zip(*pend)))

    return run


def _bfs_closure(seed: DataFrame, hop: Hop, schema: StructType, level: str | None,
                 settle: Callable[[DataFrame], DataFrame]) -> DataFrame | None:
    """The broadcast-BFS closure of ``seed`` under ``hop`` (module
    docstring): ``settle`` of the BFS rows, which have ``schema``,
    checkpointed; None, after at most one fetch job, when the key type
    is not :func:`_join_key`-safe or the edges exceed
    ``_BROADCAST_ROWS``. Notes ``rounds`` = the deepest BFS distance
    reached. No ``max_iterations`` budget applies: each BFS
    visits each node of the finite adjacency at most once, so it ends by
    construction, however deep the graph."""
    types = {seed.schema[hop.at].dataType, hop.edges.schema[hop.src].dataType,
             hop.edges.schema[hop.dst].dataType}
    key = _join_key(types.pop()) if len(types) == 1 else None
    if key is None:
        return None
    pairs = (hop._pairs().filter(F.col(_SRC).isNotNull())
             .limit(_BROADCAST_ROWS + 1).toArrow())
    if pairs.num_rows > _BROADCAST_ROWS:
        return None
    from pyspark.accumulators import AccumulatorParam
    from pyspark.sql.pandas.types import to_arrow_schema

    class Deepest(AccumulatorParam):  # local, so it pickles by value
        def zero(self, value):
            return 0

        def addInPlace(self, a, b):
            return max(a, b)

    depth = seed.sparkSession.sparkContext.accumulator(0, Deepest())
    run = _bfs_batches(pairs, key, hop.at, level, to_arrow_schema(schema),
                       _CHUNK_ROWS, depth.add)
    out = settle(seed.mapInArrow(run, schema)).localCheckpoint(eager=True)
    note("fixpoint", evaluator="broadcast-bfs", rounds=depth.value)
    return out


def _doubling_walks(hop: Hop) -> tuple[DataFrame, int, bool] | None:
    """The distinct one-hop walks, their count, and whether two walks
    can arrive at one node (max in-degree > 1), when the degree guard
    admits doubling (max out-degree ≤ 1 or max in-degree ≤ 1); else
    None. One aggregate: over distinct pairs, out-degree ≤ 1 ⟺
    |pairs| = |distinct src| and in-degree ≤ 1 ⟺ |pairs| = |distinct
    dst| (a NULL dst counted as one node through the struct)."""
    walks = (
        hop._pairs().filter(F.col(_SRC).isNotNull()).distinct()
        .localCheckpoint(eager=False)
    )
    n, n_src, n_dst = walks.agg(
        F.count(F.lit(1)), F.countDistinct(_SRC), F.countDistinct(F.struct(_DST))
    ).first()
    return (walks, n, n != n_dst) if n in (n_src, n_dst) else None


def _double(
    seed: DataFrame,
    walks: DataFrame,
    n_walks: int,
    merging: bool,
    at: str,
    keys: list[str],
    counters: tuple[str, ...],
    settle: Callable[[DataFrame], DataFrame],
    max_iterations: int,
) -> DataFrame:
    """Seeded path doubling (module docstring). ``seed`` is duplicate-
    free on ``keys``; ``counters`` (level, hop count) grow by 2^k with
    the round-k walks; ``settle`` keeps one row per key. Returns
    ``settle(R)``. ``max_iterations`` budgets doubling rounds,
    including the one that finds δ empty; round k covers 2^k hops.

    With in-degree ≤ 1 no two R rows reach one tuple in a round, so δ
    is duplicate-free. With only out-degree ≤ 1 (``merging``), two
    seed paths can meet, and each round settles δ so the duplicates
    cannot compound through later rounds.

    Every round is one count plus the broadcasts: R is broadcast to
    both of its joins while small, and the walks to their self-join
    while the guard's edge count (which bounds every |P_k|) is small.
    Unhinted, the checkpointed inputs carry no size statistics and the
    planner would shuffle both sides of each join."""
    total = seed.localCheckpoint(eager=False)
    size = total.count()
    rounds, hops = 0, 1
    while rounds < max_iterations:
        rounds += 1
        small = size <= _BROADCAST_ROWS
        probe = F.broadcast(total) if small else total
        produced = _advance(probe, walks, at, {c: hops for c in counters})
        delta = _anti_new_only(produced, total, keys, broadcast=small)
        delta = (settle(delta) if merging else delta).localCheckpoint(eager=False)
        n = delta.count()
        if n == 0:
            note("fixpoint", evaluator="doubling", rounds=rounds)
            return settle(total)
        total, size = total.unionByName(delta), size + n
        second = walks.select(F.col(_SRC).alias(_MID), F.col(_DST).alias(_END))
        if n_walks <= _BROADCAST_ROWS:
            second = F.broadcast(second)
        walks = (
            walks.join(second, F.col(_DST) == F.col(_MID))
            .select(_SRC, F.col(_END).alias(_DST))
            .localCheckpoint(eager=False)
        )
        hops *= 2
    raise RuntimeError(f"fixpoint did not converge in {max_iterations} doubling rounds")


def fixpoint(
    seed: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_iterations: int = 100,
) -> DataFrame:
    """Smallest superset of ``seed`` closed under ``step`` (set
    semantics). ``step`` takes the current frontier and returns
    candidate tuples with the same heading (column order normalized).
    A :class:`Hop` step is closed by the broadcast BFS when its edges
    fit ``_BROADCAST_ROWS`` (no budget applies: it ends by
    construction), else by path doubling when its degree guard allows
    (``max_iterations`` then budgets doubling rounds). The ``evaluator``
    and its ``rounds`` are noted in the trace record."""
    cols = seed.columns
    unique = seed.dropDuplicates()
    if isinstance(step, Hop):
        # the BFS rows are deduplicated once, at the end, so the seed is not
        schema = seed.unionByName(step(seed).select(*cols)).schema  # semi-naive's
        closed = _bfs_closure(seed, step, schema, None, DataFrame.distinct)
        if closed is not None:
            return closed
        guarded = _doubling_walks(step)
        if guarded is not None:
            return _double(unique, *guarded, step.at, cols, (), DataFrame.dropDuplicates,
                           max_iterations)
    return _run(
        unique,
        lambda fr: step(fr).select(*cols),
        lambda produced, total: _anti_new_only(produced.dropDuplicates(), total, cols),
        max_iterations,
    )


def fixpoint_naive(
    seed: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_iterations: int = 100,
) -> DataFrame:
    """Fixpoint where ``step`` receives the ACCUMULATED relation, not
    the frontier — required for non-linear recursion (the step's logic
    re-examines all facts each pass, e.g. constraint propagation in
    Sample/sudoku.andl, where a new known digit prunes possibilities
    everywhere). Semi-naive doesn't apply: a step over just the delta
    would miss inferences that combine old and new facts.

    Cost model: each pass recomputes over the full set, so passes
    should shrink the *search space* monotonically even though the
    relation grows; the accumulated total is checkpointed every pass
    because it is re-joined wholly."""
    cols = seed.columns
    total = seed.dropDuplicates().localCheckpoint(eager=True)
    steps = 0

    def _delta(t: DataFrame) -> DataFrame:
        # lazy checkpoint materialized by the next emptiness count
        # (r11); the anti-join delta matches subtract's NULL semantics
        # via _anti_new_only
        return _anti_new_only(step(t).select(*cols).dropDuplicates(), t, cols
                              ).localCheckpoint(eager=False)

    while steps < max_iterations:
        # STRIDE-2 (r12, same argument as _run): two passes share one
        # count job, and the accumulated total's checkpoint goes LAZY —
        # it materializes through the next count's lineage instead of
        # paying its own scheduled job per pass (was: count + eager
        # union checkpoint = 2 jobs/pass; now ~0.5 count jobs/pass).
        # delta2 non-empty ⟹ delta1 non-empty (step(total1)=step(total0)
        # when delta1 was empty), so the budget semantics in PASSES are
        # unchanged.
        delta = _delta(total)
        steps += 1
        if steps < max_iterations:
            mid = total.unionByName(delta).localCheckpoint(eager=False)
            delta2 = _delta(mid)
            steps += 1
            if delta2.count() == 0:
                return mid.unionByName(delta2)
            total = mid.unionByName(delta2).localCheckpoint(eager=False)
        else:
            if delta.count() == 0:
                return total
            total = total.unionByName(delta).localCheckpoint(eager=False)
    raise RuntimeError(f"fixpoint did not converge in {max_iterations} iterations")


def fixpoint_with_level(
    seed: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    level_col: str = "level",
    max_iterations: int = 100,
) -> DataFrame:
    """Fixpoint keeping a 0-based iteration level (org-chart flattening,
    Sample/recursive.andl:23-27). Dedup ignores the level column — a
    tuple reached at level 2 is not re-added at level 5 (first-reach
    semantics). NB: this is intentionally STRONGER than SQL's
    WITH RECURSIVE ... UNION, which dedups whole rows including the
    level, so SQL emits a node once per distinct level it is reached
    at while this emits it once at its first level. The two agree only
    when every node has a unique reach level (shortest-path trees,
    acyclic org charts).

    A :class:`Hop` step adds 1 to the level per hop. Under the
    broadcast BFS each reached tuple gets its seed's level + its BFS
    distance; doubled, each round-k tuple gets its parent's level + 2^k.
    Both keep each tuple's fewest-hops row: the same first-reach
    (shortest-distance) level the semi-naive loop assigns. The
    ``evaluator`` and its ``rounds`` are noted as under :func:`fixpoint`."""
    data_cols = [c for c in seed.columns if c != level_col]
    if level_col not in seed.columns:
        seed = seed.withColumn(level_col, F.lit(0))
    cols = data_cols + [level_col]
    seed = seed.select(*cols)
    unique = seed.dropDuplicates(data_cols)
    if isinstance(step, Hop):
        hop = step
        step = lambda fr: hop(fr).withColumn(level_col, F.col(level_col) + 1)  # noqa: E731

        def fewest_hops(df: DataFrame) -> DataFrame:
            first = df.groupBy(*data_cols).agg(F.min(F.struct(_HOPS, level_col)).alias("__first"))
            return first.select(*data_cols, "__first.*").select(*cols, _HOPS)

        # fewest_hops also settles the seed: a tuple listed at several
        # levels keeps its lowest (the other evaluators keep any one)
        schema = seed.unionByName(step(seed).select(*cols)).schema.add(_HOPS, IntegerType(), False)
        closed = _bfs_closure(seed, hop, schema, level_col,
                              lambda df: fewest_hops(df).drop(_HOPS))
        if closed is not None:
            return closed
        guarded = _doubling_walks(hop)
        if guarded is not None:
            return _double(
                unique.withColumn(_HOPS, F.lit(0)), *guarded, hop.at, data_cols,
                (level_col, _HOPS), fewest_hops, max_iterations,
            ).drop(_HOPS)
    return _run(
        unique,
        lambda fr: step(fr).select(*cols),
        lambda produced, total: (
            produced.join(total.select(*data_cols), on=data_cols, how="leftanti")
            .dropDuplicates(data_cols)
        ),
        max_iterations,
    )

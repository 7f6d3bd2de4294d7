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
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


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
                return mid_total.unionByName(delta2)
            total = mid_total.unionByName(delta2)
            frontier = delta2
        else:
            if delta.count() == 0:
                return total
            total = total.unionByName(delta)
            frontier = delta
    raise RuntimeError(f"fixpoint did not converge in {max_iterations} iterations")


def _anti_new_only(produced: DataFrame, total: DataFrame, cols: list[str]) -> DataFrame:
    """Tuples of ``produced`` not yet in ``total`` (set semantics) as a
    null-safe ANTI-JOIN — plan-for-plan cheaper than EXCEPT DISTINCT
    (subtract aggregates BOTH sides before the set-difference join; the
    anti form dedups only the produced side and streams total's keys —
    measured 3.9s -> 3.3s over the 13-round closure at sf0.1).
    ``eqNullSafe`` keeps subtract's NULL semantics exactly: a produced
    tuple with NULLs is dropped when total holds the same tuple.

    The probe side is renamed to fresh names before the join: when
    ``step`` passes frontier columns through unchanged, every delta
    inherits the seed's attribute IDs, so both join inputs carry the
    SAME expression IDs and Spark's self-join disambiguation can bind
    both sides of the condition to one attribute — silently turning the
    anti-join into drop-everything (premature convergence). Unique
    names on the probe side make resolution unambiguous by name."""
    import functools
    import operator

    from pyspark.sql import functions as F

    p = produced.dropDuplicates()
    probe_names = [f"__fix_seen_{i}" for i in range(len(cols))]
    t = total.select(*[F.col(c).alias(n) for c, n in zip(cols, probe_names)])
    cond = functools.reduce(
        operator.and_,
        [p[c].eqNullSafe(F.col(n)) for c, n in zip(cols, probe_names)],
    )
    return p.join(t, on=cond, how="leftanti")


def fixpoint(
    seed: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_iterations: int = 100,
) -> DataFrame:
    """Smallest superset of ``seed`` closed under ``step`` (set
    semantics). ``step`` takes the current frontier and returns
    candidate tuples with the same heading (column order normalized)."""
    cols = seed.columns
    return _run(
        seed.dropDuplicates(),
        lambda fr: step(fr).select(*cols),
        lambda produced, total: _anti_new_only(produced, total, cols),
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
        return _anti_new_only(step(t).select(*cols), t, cols
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
    acyclic org charts)."""
    from pyspark.sql import functions as F

    data_cols = [c for c in seed.columns if c != level_col]
    if level_col not in seed.columns:
        seed = seed.withColumn(level_col, F.lit(0))
    cols = data_cols + [level_col]
    return _run(
        seed.select(*cols).dropDuplicates(data_cols),
        lambda fr: step(fr).select(*cols),
        lambda produced, total: (
            produced.join(total.select(*data_cols), on=data_cols, how="leftanti")
            .dropDuplicates(data_cols)
        ),
        max_iterations,
    )

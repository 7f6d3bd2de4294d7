"""Skew-robust running folds (ord/running-total family at scale).

Andl's ``.order(%group)`` running folds (Sample/sample5.andl:27-44;
Runtime/OrderedIndex.cs accumulators) compile naturally to
``Window.partitionBy(group).orderBy(keys)`` — one shuffle, one sort.
That plan has a hidden failure mode the r5 zipf rehearsal measured
directly: a window partition IS a task, so when one group owns 30% of
a fact table (one customer with 30% of all orders), the whole hot
group funnels through a single task — q_window_running degraded 3.1×
on the skewed sf1 variant while every join in the suite stayed flat
under AQE skew handling, because AQE can split a skewed JOIN partition
but can never split a WINDOW partition (the frame is sequential). An
un-grouped ``.order()`` is the extreme case: ``Window.orderBy(keys)``
has no partition spec at all, so every row funnels through ONE task.

This module is the one escape hatch for both: a two-pass
range-partition + offset-combine scheme that spreads the (group, order)
space across many tasks:

1. ``repartitionByRange(N, groups…, order…)`` — the total order of
   (group, order-key) is cut into N contiguous slices, so a hot group
   spans as many partitions as its row share demands instead of
   landing in one;
2. local running folds per (physical partition × group) via an
   ordinary window on ``(spark_partition_id(), groups…)`` — every
   window partition is bounded by the range-slice size, never by group
   size (the exchange this adds hashes on (pid, group), which is
   balanced for the same reason);
3. per-(partition, group) partials — row count plus each fold's last
   local prefix — prefix-combined by a window over the PARTIALS table
   partitioned by group and ordered by partition id. That table has at
   most (N + distinct-groups) rows and at most N rows per group, so
   this window is trivially balanced no matter how hot the data key is;
4. offsets equi-join back on (pid, groups) — again bounded per key —
   and global value = local prefix ⊕ group offset (⊕-identity when the
   group starts in this partition).

With ``groups=[]`` (un-grouped ``.order()``) steps 1, 2 and 4 are
unchanged, but step 3 runs on the driver: a window over the partials
would have no partition spec (a one-task window, which the plan pins in
plans/explain.global_windows reject), so the ≤ N partial rows are
collected, prefix-combined in partition order with each op's driver
combine, and broadcast back as per-partition offsets. That collect is
the one eager job of the un-grouped form.

Only combinable folds are supported (sum, count/ordinal, min, max,
product, ordered concat — the reference's fold(+ * max min &)
surface); sequential folds (user-defined, ``-``/``/``) have no
two-pass combine and must stay on the single-partition-per-group
window. lang/interp.py dispatches every running fold here whenever
all its folds are combinable — grouped or not — except grouped
lag/lead/nth/ord/ordg, which stay on the plain partitioned window.
lag/lead/nth across slice boundaries are derivable as equi-joins on
the emitted ordinal (``<ordinal> - k``), which is how lang/interp.py
compiles them for the un-grouped case.

pipeline/pack.chunk_sequences keeps its own prefix sum on purpose: it
has one unique id key, so it can cut data-derived buckets (a pure
function of the id) that a recomputation after executor loss
reproduces exactly — the ``localCheckpoint`` pin below does not
survive executor loss.

Result rows are identical to the plain window (partitioned by the
groups, or single-partition when there are none) whenever the order
keys are unique per group (tests/test_runfold.py pins this on the
zipf-head distribution itself); with duplicate order keys both plans
are frame-nondeterministic in the same way.
"""

from __future__ import annotations

import decimal
import operator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..util import local_frame

__all__ = ["grouped_running", "RUN_OPS"]

#: op → (local(col, frame) running prefix,
#:       combine(partial_col, prefix_window) over the tiny partials,
#:       merge(local, offset),
#:       driver combine(acc, partial) for ``groups=[]``)
#
# Merges must be NULL-SKIPPING to stay row-identical to the plain
# window: F.sum/F.product over a window skip NULL inputs, so a row
# whose local slice-prefix is all-NULL has loc=NULL and the plain
# window would return the prior-slice value — coalesce(loc⊕off, loc,
# off) reproduces that (⊕ of two non-nulls, else whichever side
# exists, else NULL). least/greatest already skip NULLs natively. The
# driver combines see only non-NULL operands (_driver_offsets skips
# NULL partials the way the partials window does).
RUN_OPS = {
    "sum": (
        lambda c, fr: F.sum(c).over(fr),
        lambda p, wq: F.sum(p).over(wq),
        lambda loc, off: F.coalesce(loc + off, loc, off),
        operator.add,
    ),
    "min": (
        lambda c, fr: F.min(c).over(fr),
        lambda p, wq: F.min(p).over(wq),
        # least/greatest skip NULLs, so a missing offset (group starts
        # in this slice) leaves the local prefix untouched
        lambda loc, off: F.least(loc, off),
        min,
    ),
    "max": (
        lambda c, fr: F.max(c).over(fr),
        lambda p, wq: F.max(p).over(wq),
        lambda loc, off: F.greatest(loc, off),
        max,
    ),
    "product": (
        lambda c, fr: F.product(c).over(fr),
        lambda p, wq: F.product(p).over(wq),
        lambda loc, off: F.coalesce(loc * off, loc, off),
        operator.mul,
    ),
    "count": (
        lambda c, fr: F.count(c).over(fr),
        lambda p, wq: F.sum(p).over(wq),
        # count is never NULL locally; offset NULL only for the first
        # slice of a group
        lambda loc, off: loc + F.coalesce(off, F.lit(0)),
        operator.add,
    ),
    # Andl fold(&, s) — ordered text concat. Associative, so it two-pass
    # combines: collect_list over an ordered frame preserves frame order;
    # partials concatenate in __pid order; earlier-slice offset prefixes
    # the local value. Null semantics match concat_ws (nulls skipped).
    "concat": (
        lambda c, fr: F.concat_ws("", F.collect_list(c).over(fr)),
        lambda p, wq: F.concat_ws("", F.collect_list(p).over(wq)),
        lambda loc, off: F.concat(F.coalesce(off, F.lit("")), loc),
        operator.add,
    ),
}

#: Andl fold(op, …) symbol → RUN_OPS key: the combinable folds. Every
#: other Andl fold op (def'd, '-', '/') is sequential.
_ANDL_OPS = {"+": "sum", "*": "product", "max": "max", "min": "min",
             "&": "concat"}


def grouped_running(
    df: DataFrame,
    groups: list[str],
    order: list[str | Column],
    folds: dict[str, tuple[str, str | Column]],
    *,
    ordinal: str | None = None,
    nparts: int | None = None,
) -> DataFrame:
    """Running folds per group, skew-robust.

    ``folds`` maps output column name → ``(op, value column)`` with op
    in ``RUN_OPS``. ``groups`` may be empty: the folds then run over
    the whole ordered input, and one eager job collects the per-slice
    partials (module docstring). ``ordinal`` optionally names an output
    column for the 1-based within-group row number (Andl ``ord()``
    under ``%group``). Order keys should be unique per group for
    deterministic frames (same contract as the plain window).
    """
    bad = [op for op, _ in folds.values() if op not in RUN_OPS]
    if bad:
        raise ValueError(f"unsupported running fold op(s) {bad}; "
                         f"supported: {sorted(RUN_OPS)}")
    spark = df.sparkSession
    if nparts is None:
        # shuffle.partitions can be the literal "auto" under
        # AQE-auto-optimized shuffle (e.g. Databricks) — fall back to
        # cluster default parallelism rather than raising
        try:
            nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            nparts = spark.sparkContext.defaultParallelism
    okeys = [F.col(o) if isinstance(o, str) else o for o in order]
    out_cols = list(df.columns)

    base = (
        df.repartitionByRange(nparts, *[F.col(g) for g in groups], *okeys)
        .withColumn("__pid", F.spark_partition_id())
        # PIN the partitioning (r8): __pid is read by TWO subtrees (the
        # per-slice partials and the offsets join-back). Range
        # partitioning samples its boundaries per evaluation, so if
        # Spark's exchange reuse fails to dedupe the two subtrees (AQE
        # re-planning does this on complex DAGs — observed on the span
        # monster-doc path), each subtree sees DIFFERENT boundaries and
        # the offset join silently combines mismatched slices. The lazy
        # localCheckpoint truncates both subtrees onto ONE materialized
        # RDD: boundaries are sampled exactly once, __pid is consistent
        # by construction, and (grouped) nothing runs until the caller
        # acts.
        #
        # Trade-off (reviewed r8): localCheckpoint blocks are pinned to
        # executors, so an executor loss mid-query fails the query
        # instead of recomputing (Spark's documented caveat; rerun the
        # query). persist() would recompute but its CacheManager entry
        # leaks per call (no unpersist point — the r2 lesson), and a
        # reliable checkpoint writes the whole shuffle to the
        # checkpoint dir. Runfold consumers materialize promptly, so
        # the pinned window is one query; a deployment needing executor
        # -loss tolerance mid-runfold should set a checkpoint dir and
        # swap this for df.checkpoint(eager=False).
        .localCheckpoint(eager=False)
    )
    wl = Window.partitionBy("__pid", *groups).orderBy(*okeys)
    frame = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cur = base.withColumn("__lrn", F.row_number().over(wl))
    for name, (op, val) in folds.items():
        col = F.col(val) if isinstance(val, str) else val
        cur = cur.withColumn(f"__lp_{name}", RUN_OPS[op][0](col, frame))

    # (pid, group) partials: tiny — ≤ nparts rows per group by
    # construction, so the prefix window below cannot be skewed
    partials = cur.groupBy("__pid", *groups).agg(
        F.max("__lrn").alias("__n"),
        *[
            F.max_by(f"__lp_{name}", "__lrn").alias(f"__t_{name}")
            for name in folds
        ],
    )
    if groups:
        wq = (
            Window.partitionBy(*groups)
            .orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offs = partials.select(
            "__pid",
            *groups,
            F.sum("__n").over(wq).alias("__rn_off"),
            *[
                RUN_OPS[op][1](f"__t_{name}", wq).alias(f"__off_{name}")
                for name, (op, _) in folds.items()
            ],
        )
    else:
        offs = F.broadcast(_driver_offsets(partials, folds))

    joined = cur.join(offs, on=["__pid", *groups], how="inner")
    sel = [F.col(c) for c in out_cols]
    if ordinal is not None:
        sel.append(
            (F.col("__lrn") + F.coalesce(F.col("__rn_off"), F.lit(0)))
            .cast("long")
            .alias(ordinal)
        )
    for name, (op, _) in folds.items():
        sel.append(
            RUN_OPS[op][2](F.col(f"__lp_{name}"), F.col(f"__off_{name}"))
            .alias(name)
        )
    return joined.select(*sel)


def _driver_offsets(
    partials: DataFrame, folds: dict[str, tuple[str, str | Column]]
) -> DataFrame:
    """``groups=[]`` step 3: collect the ≤ nparts per-slice partials,
    prefix-combine them on the driver in partition order and return the
    per-slice offsets (``__pid``, ``__rn_off``, ``__off_<name>``) as a
    local relation. NULL partials are skipped and the first slice's
    offsets are NULL, exactly as the grouped partials window yields."""
    schema = T.StructType(
        [partials.schema["__pid"], T.StructField("__rn_off", T.LongType())]
        + [
            T.StructField(f"__off_{name}", partials.schema[f"__t_{name}"].dataType)
            for name in folds
        ]
    )
    rows, n = [], 0
    acc: dict[str, object] = dict.fromkeys(folds)
    # decimal sums stay exact up to twice Spark's 38-digit precision
    with decimal.localcontext() as ctx:
        ctx.prec = 76
        for p in sorted(partials.collect(), key=lambda r: r["__pid"]):
            rows.append((p["__pid"], n, *acc.values()))
            n += p["__n"]
            for name, (op, _) in folds.items():
                t = p[f"__t_{name}"]
                if t is not None:
                    a = acc[name]
                    acc[name] = t if a is None else RUN_OPS[op][3](a, t)
    return local_frame(partials.sparkSession, rows, schema)

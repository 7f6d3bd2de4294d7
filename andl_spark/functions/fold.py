"""fold() — Andl's single aggregation primitive, mapped to Spark
aggregates.

Reference: Andl.Runtime/AccumulatorBlock.cs — ``fold(op, expr)`` folds
a dyadic operator over the group's values; it appears inside
``.select{}`` (grouped aggregation, sample2.andl:97-109) or under
``.order()`` (running aggregation, sample5.andl). Spark-side these
become hash-aggregate functions (map-side partial combine) or window
frames respectively — both whole-stage-codegen'd, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Andl fold operator → Spark aggregate builder.
FOLD_OPS: dict[str, object] = {
    "+": F.sum,
    "*": F.product,
    "max": F.max,
    "min": F.min,
    "and": F.bool_and,
    "or": F.bool_or,
    "count": F.count,
    "avg": F.avg,
    # text concatenation fold: fold(&, s)
    "&": lambda c: F.concat_ws("", F.collect_list(c)),
    # fold(union, rva) — union of relation-valued attrs → flatten arrays
    "union": lambda c: F.array_distinct(F.flatten(F.collect_list(c))),
}


def fold(op: str, col: Column | str) -> Column:
    """fold('+', QTY) → sum(QTY) etc. Aggregate context."""
    try:
        return FOLD_OPS[op](F.col(col) if isinstance(col, str) else col)
    except KeyError:
        raise ValueError(f"unknown fold op {op!r}; known: {sorted(FOLD_OPS)}") from None


#: non-commutative fold ops need ordered (sequential) evaluation
_ORDERED_OPS = {
    "-": lambda acc, v: acc - v,
    "/": lambda acc, v: acc / v,
    "&": lambda acc, v: F.concat(acc, v),
    "+": lambda acc, v: acc + v,
    "*": lambda acc, v: acc * v,
}


def ordered_fold(op: str, col: Column | str, order_by: Column | str, init=None) -> Column:
    """Sequential fold in a defined order — Andl's non-commutative folds
    (Test/SuiteRelFold.andl:34-36: `fold(/,...)`, `fold(-,...)`,
    ordered `fold(&, ...)` under `.order()`).

    Aggregate context: collect (order_key, value) pairs, sort the array,
    then left-fold with a JVM higher-order `aggregate` — exact
    sequential semantics, computed distributed with a single collect_list
    per group. Fine for group-sized sequences (folds over an entire
    100 TB table in one group are inherently sequential in ANY engine).

    ``init``: seed value; default Andl semantics seed with the op's
    identity-ish start (0 for -, 1 for /, '' for &).
    """
    c = F.col(col) if isinstance(col, str) else col
    o = F.col(order_by) if isinstance(order_by, str) else order_by
    step = _ORDERED_OPS.get(op)
    if step is None:
        raise ValueError(f"unknown ordered fold op {op!r}")
    if init is None:
        init = {"-": F.lit(0.0), "/": F.lit(1.0), "&": F.lit(""), "+": F.lit(0.0), "*": F.lit(1.0)}[op]
    pairs = F.array_sort(F.collect_list(F.struct(o.alias("k"), c.alias("v"))))
    values = F.transform(pairs, lambda s: s["v"])
    return F.aggregate(values, init, step)

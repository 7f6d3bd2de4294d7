"""Relation — the andl_spark public fluent API.

Mirrors Andl's pipeline style (``S .where(...) .select{...}``,
Sample/sample2.andl) as a thin immutable wrapper over a lazy Spark
DataFrame. Every method returns a new Relation wrapping a new lazy
plan, so chains fuse into one Catalyst plan — filters and projections
reach the parquet scan, aggregations get map-side combine, joins pick
broadcast/sort-merge physically.

Set semantics: Andl relations are sets of tuples. Operations that can
introduce duplicates under bag semantics (projection to fewer columns)
dedupe; operations that can't (filter, extend, rename) don't pay for
a distinct.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .operators import divide as _divide
from .operators import joins as _joins
from .operators import nest as _nest
from .operators import setops as _setops
from .operators import whileop as _whileop
from .functions.fold import fold as _fold
from .util import local_frame

#: Spark type → Andl type name (Builtin.cs: number/text/bool/time/binary)
_ANDL_TYPE = {
    "bigint": "number", "int": "number", "smallint": "number", "tinyint": "number",
    "double": "number", "float": "number", "decimal": "number",
    "string": "text", "boolean": "bool", "timestamp": "time",
    "timestamp_ntz": "time", "date": "time",
    "binary": "binary",
}


class Relation:
    """Immutable relation value over a Spark DataFrame."""

    def __init__(self, df: DataFrame):
        self.df = df

    # ---- construction -------------------------------------------------
    @staticmethod
    def from_df(df: DataFrame) -> "Relation":
        return Relation(df)

    @staticmethod
    def seq(spark, n: int, col: str = "N") -> "Relation":
        """Andl seq(n) → {{N:number}} with N in 0..n-1 (Builtin.cs
        Sequence). spark.range is generated distributed, no driver data."""
        return Relation(spark.range(n).select(F.col("id").alias(col)))

    # ---- monadic ------------------------------------------------------
    def where(self, predicate: Column | str) -> "Relation":
        """Andl .where(pred); string predicates go through Spark SQL."""
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        return Relation(self.df.filter(pred))

    def project(self, *cols: str, distinct: bool = True) -> "Relation":
        """Andl .select{a, b} — projection (set semantics)."""
        out = self.df.select(*cols)
        return Relation(out.dropDuplicates() if distinct else out)

    def rename(self, **mapping: str) -> "Relation":
        """Andl .select{* new := old} rename; mapping new=old."""
        df = self.df
        for new, old in mapping.items():
            df = df.withColumnRenamed(old, new)
        return Relation(df)

    def extend(self, **exprs: Column) -> "Relation":
        """Andl .select{* x := e} extension — add computed columns."""
        return Relation(self.df.withColumns(dict(exprs)))

    def select(
        self,
        keep: list[str] | None = None,
        distinct: bool = True,
        **exprs: Column,
    ) -> "Relation":
        """Full Andl .select{}: keep + computed columns in one pass."""
        cols = [F.col(c) for c in (keep or [])]
        cols += [e.alias(name) for name, e in exprs.items()]
        out = self.df.select(*cols)
        return Relation(out.dropDuplicates() if distinct else out)

    def aggregate(self, keys: list[str], **aggs: Column) -> "Relation":
        """Andl aggregated projection .select{k, x := fold(op, e)}."""
        return Relation(self.df.groupBy(*keys).agg(*[e.alias(n) for n, e in aggs.items()]))

    def fold_all(self, **aggs: Column) -> "Relation":
        """Aggregation with no keys → single-tuple relation."""
        return Relation(self.df.agg(*[e.alias(n) for n, e in aggs.items()]))

    def ordered(
        self,
        by: list[str | Column],
        group: list[str] | None = None,
        **exprs,
    ) -> "Relation":
        """Andl .order(%group, ±key) .select{* ...} — windowed extension.

        ``by`` entries: "col" or "-col" for descending. Each expr is
        either a callable taking the WindowSpec → Column (see
        window_funcs for lag/lead/nth — sequential forms that must stay
        on a per-group window), a DECLARATIVE running fold
        ``(op, col)`` with op in sum/+/product/*/max/min/count/&, or
        the string ``"ord"`` for the 1-based within-group ordinal.

        Auto-dispatch (r6; VERDICT r5 finding 1): with ALL exprs
        declarative, grouped or not, the plan routes through the
        skew-robust two-pass scheme (:meth:`running`) — a zipf-head
        group never funnels into one window task, and an un-grouped
        ordering runs over range slices instead of one partition.
        Callables (lag/lead/rank/custom frames) keep the plain window:
        their semantics are positional and can't be slice-combined.

        Scale note: a callable without ``group`` runs Spark's window in
        a single partition (inherent to a global ordering); supply
        group keys wherever the semantics allow.
        """
        # "-col" descending syntax resolves HERE, once, so both the
        # two-pass dispatch and the plain window see real Columns
        # (review r6: passing the raw "-col" string through to
        # grouped_running raised UNRESOLVED_COLUMN)
        order_cols = [
            F.col(c[1:]).desc() if isinstance(c, str) and c.startswith("-") else
            (F.col(c) if isinstance(c, str) else c)
            for c in by
        ]

        from .operators.runfold import _ANDL_OPS, RUN_OPS

        def _run_op(v):
            """RUN_OPS key of a declarative ``(op, col)`` fold, else None."""
            if isinstance(v, tuple) and len(v) == 2:
                return v[0] if v[0] in RUN_OPS else _ANDL_OPS.get(v[0])
            return None

        if exprs and all(v == "ord" or _run_op(v) for v in exprs.values()):
            ordinal = next((n for n, v in exprs.items() if v == "ord"), None)
            folds = {
                n: (_run_op(v), v[1]) for n, v in exprs.items() if v != "ord"
            }
            return self.running(group or [], order_cols, folds, ordinal=ordinal)

        w = Window.partitionBy(*group).orderBy(*order_cols) if group else Window.orderBy(*order_cols)
        frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

        def _mk(v):
            if v == "ord":
                return F.row_number().over(w).cast("long")
            op = _run_op(v)
            if op:
                # one source of truth for op → running expression:
                # RUN_OPS[op][0] is the (col, frame) local-prefix builder
                col = F.col(v[1]) if isinstance(v[1], str) else v[1]
                return RUN_OPS[op][0](col, frame)
            return v(w)

        out = self.df.withColumns({name: _mk(make) for name, make in exprs.items()})
        return Relation(out)

    def running(
        self,
        group: list[str],
        by: list[str | Column],
        folds: dict[str, tuple[str, str | Column]],
        ordinal: str | None = None,
    ) -> "Relation":
        """Skew-safe form of :meth:`ordered` for combinable running
        folds (Andl fold(+ * max min) + ord() under %group; an empty
        ``group`` folds over the whole ordering).

        :meth:`ordered` maps a group to ONE window partition — one
        task — which is correct but becomes a straggler when a
        zipf-head key concentrates the table (measured 3× in the r5
        skew rehearsal; AQE splits skewed joins, never windows).
        This form routes through operators/runfold.grouped_running:
        range-slice the (group, order) space, local prefixes per
        slice, offsets combined over the tiny per-slice partials —
        row-identical output, no task ever owns a whole group.
        Sequential folds (user-defined, '-', '/') have no two-pass
        combine and must stay on :meth:`ordered`.
        """
        from .operators.runfold import grouped_running

        return Relation(
            grouped_running(self.df, group, by, folds, ordinal=ordinal)
        )

    def while_(self, step: Callable[[DataFrame], DataFrame], max_iterations: int = 100) -> "Relation":
        """Andl .while(expr) — fixed point (transitive closure).
        ``step`` maps the frontier to new tuples; a ``whileop.Hop``
        passes through as-is, so a reachability step is closed by a
        broadcast BFS, path doubling or semi-naive rounds (see
        whileop.fixpoint)."""
        return Relation(_whileop.fixpoint(self.df, step, max_iterations))

    # ---- metadata (Builtin.cs Count/Degree/Schema) --------------------
    def count(self) -> int:
        # a plan Catalyst folds to a LocalRelation (a literal, or a filter
        # over one) holds its rows on the driver: collecting them runs no
        # job, where count() runs two
        if self.df._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation":
            return len(self.df.collect())
        return self.df.count()

    def degree(self) -> int:
        return len(self.df.columns)

    def schema_rel(self) -> "Relation":
        """schema(r) as a relation {{name, type}} with Andl type names."""
        spark = self.df.sparkSession
        rows = [
            (f.name, _ANDL_TYPE.get(f.dataType.simpleString(), f.dataType.simpleString()))
            for f in self.df.schema.fields
        ]
        return Relation(local_frame(spark, rows, "name string, type string"))

    def lift(self) -> "Relation":
        """Andl singleton lift — a 1×1 relation's value (kept relational:
        the 1×1 DataFrame; .scalar() collects it)."""
        return self

    def scalar(self):
        row = self.df.first()
        return None if row is None else row[0]

    # ---- dyadic (natural) --------------------------------------------
    def join(self, other: "Relation", broadcast: bool = False) -> "Relation":
        return Relation(_joins.natural_join(self.df, other.df, "all", broadcast))

    def compose(self, other: "Relation", broadcast: bool = False) -> "Relation":
        return Relation(_joins.compose(self.df, other.df, broadcast_right=broadcast))

    def semijoin(self, other: "Relation", broadcast: bool = False) -> "Relation":
        return Relation(_joins.semijoin(self.df, other.df, broadcast))

    def antijoin(self, other: "Relation", broadcast: bool = False) -> "Relation":
        return Relation(_joins.antijoin(self.df, other.df, broadcast))

    def join_keep(self, other: "Relation", keep: str) -> "Relation":
        """joinl/joinr/joinlc/joinlr/joincr via keep= (see joins.py)."""
        return Relation(_joins.natural_join(self.df, other.df, keep))

    def union(self, other: "Relation") -> "Relation":
        return Relation(_setops.union(self.df, other.df))

    def minus(self, other: "Relation") -> "Relation":
        return Relation(_setops.minus(self.df, other.df))

    def intersect(self, other: "Relation") -> "Relation":
        return Relation(_setops.intersect(self.df, other.df))

    def symdiff(self, other: "Relation") -> "Relation":
        return Relation(_setops.symdiff(self.df, other.df))

    def rdivide(self, divisor: "Relation") -> "Relation":
        return Relation(_divide.rdivide(self.df, divisor.df))

    def image_agg(self, other: "Relation", aggs: dict[str, Column]) -> "Relation":
        return Relation(_divide.image_agg(self.df, other.df, aggs))

    # ---- nesting ------------------------------------------------------
    def nest(self, keys: list[str], rva: str = "partition") -> "Relation":
        return Relation(_nest.nest(self.df, keys, rva))

    def unnest(self, rva: str) -> "Relation":
        return Relation(_nest.unnest(self.df, rva))

    # ---- misc ---------------------------------------------------------
    def order_display(self, *by: str) -> "Relation":
        """Andl .order() for display — total sort (driver-side render)."""
        cols = [F.col(c[1:]).desc() if c.startswith("-") else F.col(c) for c in by]
        return Relation(self.df.orderBy(*cols))

    def fold(self, op: str, col: str | Column) -> Column:
        return _fold(op, col)

    def equals(self, other: "Relation") -> bool:
        """Relation (set) equality — Andl `S = @s` (SuiteRelNest.andl).
        Two antijoin-emptiness probes; no data to the driver."""
        if sorted(self.df.columns) != sorted(other.df.columns):
            return False
        cols = self.df.columns
        a, b = self.df.select(*cols), other.df.select(*cols)
        return a.subtract(b).isEmpty() and b.subtract(a).isEmpty()

    def while_naive(self, step: Callable[[DataFrame], DataFrame], max_iterations: int = 100) -> "Relation":
        """Andl `.while()` for non-linear recursion: ``step`` receives
        the ACCUMULATED relation (constraint propagation, whole-set
        compose closures) — see whileop.fixpoint_naive."""
        return Relation(_whileop.fixpoint_naive(self.df, step, max_iterations))

    def take(self, n: int) -> "Relation":
        """Andl `.take(n)` — first n rows (Builtin.cs Take). Order-
        dependent: deterministic only downstream of order_display /
        a sorted plan, same as the reference's ordered context."""
        return Relation(self.df.limit(n))

    def skip(self, n: int) -> "Relation":
        """Andl `.skip(n)` — rows after the first n (Builtin.cs Skip)."""
        return Relation(self.df.offset(n))

    def sub(self, other: "Relation") -> bool:
        """Andl `sub` — self ⊆ other (sample2.andl:131). One
        antijoin-emptiness probe, computed distributed."""
        a, b = _setops._aligned(self.df, other.df)
        return a.subtract(b).isEmpty()

    def sup(self, other: "Relation") -> bool:
        """Andl `sup` — self ⊇ other (sample2.andl:132)."""
        return other.sub(self)

    def sep(self, other: "Relation") -> bool:
        """Andl `sep` — disjoint: no common tuples (sample2.andl:133)."""
        a, b = _setops._aligned(self.df, other.df)
        return a.intersect(b).isEmpty()

    def plan_report(self) -> dict:
        """Scale-posture report of this relation's physical plan
        (shuffles, broadcasts, pushdown, Python usage) — see
        plans/explain.plan_report."""
        from .plans.explain import plan_report as _pr
        return _pr(self.df)

    def __repr__(self) -> str:
        return f"Relation({', '.join(self.df.columns)})"

"""Driver-contract workload: named queries + DuckDB oracle SQL.

Each query exercises one capability row of SURVEY.md §2 through the
andl_spark public API and has a semantically-identical ANSI-SQL oracle
for DuckDB. Column names and roundings are aligned on both sides so
the driver's order-insensitive value-hash matches.

Conventions for oracle parity:
  * every computed column aliased identically on both sides
  * double aggregates ROUND(x + 1e-6, 2) (4 for small ratios) on both sides
  * integer-ish computed columns cast to BIGINT on both sides
    (Spark row_number/year are int32; DuckDB's are int64)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import fold as FL
from .functions import scalar as S
from .operators import divide as Div
from .operators import joins as J
from .operators import setops as SO
from .operators import whileop as W
from .operators import nest as N
from .relation import Relation
from .session import load_tables

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def r2(col) -> F.Column:
    """ROUND(x + 1e-6, 2) — epsilon nudges values whose shortest decimal
    repr sits exactly on a .xx5 boundary, where Spark (HALF_UP on the
    decimal string) and DuckDB (binary-value rounding) disagree. The
    SQL oracles use the same expression, so both engines shift the
    same hair's width and round identically."""
    return F.round(col + F.lit(1e-6), 2)


def r4(col) -> F.Column:
    return F.round(col + F.lit(1e-9), 4)


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return load_tables(spark, sf_dir, register_views=False)


# =====================================================================
# §2.9 flagship TPC-H-style
# =====================================================================

@q("q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity) + 1e-6, 2)                                        AS sum_qty,
       ROUND(SUM(l_extendedprice) + 1e-6, 2)                                   AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 2)                AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) + 1e-6, 2)  AS sum_charge,
       ROUND(AVG(l_quantity) + 1e-9, 4)                                        AS avg_qty,
       ROUND(AVG(l_extendedprice) + 1e-9, 4)                                   AS avg_price,
       ROUND(AVG(l_discount) + 1e-9, 4)                                        AS avg_disc,
       COUNT(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1: Andl aggregated projection (.select{k, fold(...)}).

    Scan-side: shipdate predicate + 7-column pruning pushed to parquet;
    one shuffle on (returnflag, linestatus) with map-side combine.
    """
    li = _t(spark, sf_dir)["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return Relation(li).where(F.col("l_shipdate") <= F.lit("1998-09-02")).aggregate(
        ["l_returnflag", "l_linestatus"],
        sum_qty=r2(F.sum("l_quantity")),
        sum_base_price=r2(F.sum("l_extendedprice")),
        sum_disc_price=r2(F.sum(disc_price)),
        sum_charge=r2(F.sum(disc_price * (1 + F.col("l_tax")))),
        avg_qty=r4(F.avg("l_quantity")),
        avg_price=r4(F.avg("l_extendedprice")),
        avg_disc=r4(F.avg("l_discount")),
        count_order=F.count(F.lit(1)),
    ).df


@q("q3_shipping_priority", """
WITH rev AS (
  SELECT o_orderkey, o_orderdate, o_orderpriority,
         ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 2) AS revenue
  FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1998-03-15'
    AND l_shipdate  > TIMESTAMP '1998-03-15'
  GROUP BY o_orderkey, o_orderdate, o_orderpriority
)
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority, revenue
FROM rev
QUALIFY ROW_NUMBER() OVER (ORDER BY revenue DESC, o_orderkey) <= 10
""")
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3: natural-join pipeline + agg + deterministic top-k."""
    t = _t(spark, sf_dir)
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = (
        t["orders"].filter(F.col("o_orderdate") < F.lit("1998-03-15"))
        .withColumnRenamed("o_custkey", "c_custkey")
    )
    li = (
        t["lineitem"].filter(F.col("l_shipdate") > F.lit("1998-03-15"))
        .withColumnRenamed("l_orderkey", "o_orderkey")
    )
    joined = J.natural_join(J.natural_join(cust, orders), li)
    rev = (
        joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
    )
    # Deterministic top-10 via orderBy+limit: Spark plans this as
    # TakeOrderedAndProject (per-partition partial top-k, driver merge) —
    # no single-task global Window sort, so it holds at 100x group counts.
    # Timestamps cross the harness as formatted strings: Spark emits
    # ns-precision arrow timestamps, DuckDB us — identical instants that
    # stringify differently and break naive value-hashing.
    return (
        rev.orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
        .withColumn("o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd"))
    )


@q("q5_local_supplier", """
SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
""")
def q5_local_supplier(spark, sf_dir):
    """TPC-H Q5-ish: 6-table join; dims broadcast (region/nation always
    tiny; supplier small relative to facts at every SF)."""
    t = _t(spark, sf_dir)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    nat = F.broadcast(t["nation"])
    reg = F.broadcast(t["region"].filter(F.col("r_name") == "ASIA"))
    sup = F.broadcast(t["supplier"])
    j = (
        t["customer"].join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(sup, (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("s_nationkey") == F.col("c_nationkey")))
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(reg, F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return j.groupBy("n_name").agg(
        r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue")
    )


# =====================================================================
# §2.1 monadic operators
# =====================================================================

@q("q_where_regex", """
SELECT DISTINCT p_type, p_brand
FROM part
WHERE regexp_matches(p_name, '^(red|blue) .*(bolt|gear)$')
""")
def q_where_regex(spark, sf_dir):
    """Andl .where with `=~` regex (sample2.andl:70) composed with a
    set-semantics projection (sample2.andl:79): the regex restriction
    feeds a DISTINCT projection onto non-key attributes, so one query
    covers SURVEY §2 rows 1 (restriction) and 2 (projection dedupe)."""
    part = _t(spark, sf_dir)["part"]
    return (
        Relation(part)
        .where(S.matches("p_name", "^(red|blue) .*(bolt|gear)$"))
        .project("p_type", "p_brand")
        .df
    )


@q("q_rename_extend", """
SELECT s_suppkey AS supp_id,
       UPPER(SUBSTR(s_name, 1, 3)) AS prefix,
       ROUND(s_acctbal * 1.1 + 1e-6, 2)   AS boosted
FROM supplier
""")
def q_rename_extend(spark, sf_dir):
    """Andl rename + extension (.select{* x := e}, sample2.andl:73-89)."""
    sup = _t(spark, sf_dir)["supplier"]
    return (
        Relation(sup)
        .extend(prefix=S.toupper(S.left("s_name", 3)), boosted=r2(F.col("s_acctbal") * 1.1))
        .rename(supp_id="s_suppkey")
        .project("supp_id", "prefix", "boosted", distinct=False)
        .df
    )


@q("q_agg_fold", """
SELECT * FROM (
  SELECT c_nationkey,
         COUNT(*)                 AS n_cust,
         ROUND(SUM(c_acctbal) + 1e-6, 2) AS total_bal,
         ROUND(MIN(c_acctbal) + 1e-6, 2) AS min_bal,
         ROUND(MAX(c_acctbal) + 1e-6, 2) AS max_bal,
         ROUND(AVG(c_acctbal) + 1e-9, 4) AS avg_bal
  FROM customer
  GROUP BY c_nationkey
)
WHERE n_cust * 25 >= (SELECT COUNT(*) FROM customer)
""")
def q_agg_fold(spark, sf_dir):
    """Andl fold(+|min|max) aggregated projection (sample2.andl:97)
    PLUS the HAVING-style restriction on the aggregate
    (.select{...}.where(...), SURVEY §2 row 11e — formerly the
    separate q_agg_having): keep the nations whose customer count is
    at least the 25-nation average, a threshold that filters real rows
    at every SF. The scalar total rides a 25-row unpartitioned window
    — no second scan, no driver collect."""
    cust = _t(spark, sf_dir)["customer"]
    cols = ["c_nationkey", "n_cust", "total_bal", "min_bal", "max_bal", "avg_bal"]
    return (
        Relation(cust)
        .aggregate(
            ["c_nationkey"],
            n_cust=F.count(F.lit(1)),
            total_bal=r2(F.sum("c_acctbal")),
            min_bal=r2(F.min("c_acctbal")),
            max_bal=r2(F.max("c_acctbal")),
            avg_bal=r4(F.avg("c_acctbal")),
        )
        .extend(__total=F.sum("n_cust").over(Window.partitionBy()))
        .where(F.col("n_cust") * 25 >= F.col("__total"))
        .project(*cols, distinct=False)
        .df
    )


@q("q_asof_join", """
WITH ev AS (SELECT user_id, epoch_us(ts) AS us, event_id
            FROM events WHERE user_id < 20),
t0 AS (SELECT user_id, MIN(us) AS t0us FROM ev GROUP BY user_id),
grid AS (SELECT user_id, CAST(r.range AS BIGINT) AS tick_idx,
                t0us + r.range * 3600000000 AS tick_us
         FROM t0 CROSS JOIN range(24) r),
matched AS (SELECT g.user_id, g.tick_idx, g.tick_us, e.us AS asof_us
            FROM grid g ASOF JOIN ev e
            ON g.user_id = e.user_id AND g.tick_us >= e.us)
SELECT user_id, tick_idx, asof_us,
       (tick_us - asof_us) // 60000000 AS stale_min
FROM matched
""")
def q_asof_join(spark, sf_dir):
    """Point-in-time (as-of) join — an operator Spark's API lacks,
    built as operators/asof.asof_join's union+running-window plan (one
    shuffle on the key, no range-join explosion; see that module's
    docstring for the 100 TB argument). The probe side is an hourly
    tick grid generated by Andl's seq(n) (Builtin.cs Sequence —
    SURVEY §2 row 9's representative, formerly the standalone
    q_seq_gen) crossed with each user's first-event origin; every tick
    finds the most recent event at-or-before it. The oracle is
    DuckDB's native ASOF JOIN, so the operator is checked against an
    independent built-in implementation of the same semantics."""
    from .operators.asof import asof_join

    ev = (
        _t(spark, sf_dir)["events"]
        .filter(F.col("user_id") < 20)
        .select(
            "user_id",
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ).alias("us"),
            "event_id",
        )
    )
    t0 = ev.groupBy("user_id").agg(F.min("us").alias("t0us"))
    grid = (
        t0.crossJoin(Relation.seq(spark, 24, "tick_idx").df)
        .select(
            "user_id",
            F.col("tick_idx").cast("long").alias("tick_idx"),
            (F.col("t0us") + F.col("tick_idx") * 3600000000).alias("us"),
        )
    )
    out = asof_join(
        grid,
        ev.select("user_id", "us", F.col("us").alias("ev_us"), "event_id"),
        on=["user_id"], ts="us", value_cols=["ev_us"], tie_col="event_id",
    )
    return out.select(
        "user_id", "tick_idx",
        F.col("asof_ev_us").alias("asof_us"),
        F.expr("(us - asof_ev_us) div 60000000").alias("stale_min"),
    )


@q("q_schema_meta", """
SELECT name, type, total_revenue FROM (VALUES
  ('l_orderkey','number'),('l_partkey','number'),('l_suppkey','number'),
  ('l_linenumber','number'),('l_quantity','number'),('l_extendedprice','number'),
  ('l_discount','number'),('l_tax','number'),('l_returnflag','text'),
  ('l_linestatus','text'),('l_shipdate','time')) AS t(name, type)
CROSS JOIN (SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 2)
            AS total_revenue FROM lineitem)
""")
def q_schema_meta(spark, sf_dir):
    """Andl schema(r) as a relation with Andl type names (Builtin.cs)
    crossed with a SINGLETON LIFT — the keyless fold to a 1×1 relation
    — so one query covers SURVEY §2 rows 10 (schema/count/degree) and
    11 (lift): every schema row carries the lifted corpus scalar, the
    degenerate 11×1 cross join both engines fold away."""
    li = _t(spark, sf_dir)["lineitem"]
    lifted = Relation(li).fold_all(
        total_revenue=r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
    ).df
    return Relation(_t(spark, sf_dir)["lineitem"]).schema_rel().df.crossJoin(lifted)


@q("q_scalar_funcs", """
SELECT o_orderkey,
       SUBSTR(o_orderpriority, 1, 1)                  AS pri_code,
       LOWER(o_orderpriority)                          AS lo,
       CAST(LENGTH(o_orderpriority) AS BIGINT)         AS pri_len,
       RIGHT(o_orderpriority, 3)                       AS tail3,
       CASE WHEN POSITION('-' IN o_orderpriority) > 0
            THEN SPLIT_PART(o_orderpriority, '-', 1) ELSE '' END AS pre,
       CASE WHEN POSITION('-' IN o_orderpriority) > 0
            THEN SUBSTR(o_orderpriority, POSITION('-' IN o_orderpriority) + 1)
            ELSE '' END AS post,
       CAST(YEAR(o_orderdate) AS BIGINT)  AS oy,
       CAST(MONTH(o_orderdate) AS BIGINT) AS om,
       CAST(DAY(o_orderdate) AS BIGINT)   AS od,
       CAST(DATE_DIFF('day', o_orderdate, TIMESTAMP '2000-01-01') AS BIGINT) AS days_to_y2k
FROM orders
""")
def q_scalar_funcs(spark, sf_dir):
    """Andl scalar builtins in one scan-side pass — string family
    (left/right/length/before/after/tolower, SURVEY §2.5) AND the date
    family (year/month/day/daysdiff, §2 row 11f) over the same orders
    scan; all JVM expressions, zero shuffles."""
    orders = _t(spark, sf_dir)["orders"]
    return Relation(orders).select(
        ["o_orderkey"],
        distinct=False,
        pri_code=S.left("o_orderpriority", 1),
        lo=S.tolower("o_orderpriority"),
        pri_len=S.length("o_orderpriority").cast("long"),
        tail3=S.right("o_orderpriority", 3),
        pre=S.before("o_orderpriority", "-"),
        post=S.after("o_orderpriority", "-"),
        oy=S.year("o_orderdate").cast("long"),
        om=S.month("o_orderdate").cast("long"),
        od=S.day("o_orderdate").cast("long"),
        days_to_y2k=S.daysdiff(F.lit("2000-01-01"), "o_orderdate").cast("long"),
    ).df


# =====================================================================
# §2.2 dyadic operators
# =====================================================================

def _cust_orders(t):
    """customer and orders with the natural-join key aligned by name."""
    return t["customer"], t["orders"].withColumnRenamed("o_custkey", "c_custkey")


# (natural `join` itself — SURVEY §2 row 12 — is driver-checked through
# q3_shipping_priority's customer⋈orders⋈lineitem chain and asserted
# 1:1 against SuiteRelDyadic.andl's count/degree matrix in
# tests/test_dyadic_matrix.py; the former q_join_natural duplicate row
# was retired to fit the correctness budget.)


@q("q_semi_anti_join", """
SELECT 'semi' AS kind, s_suppkey AS k, s_name AS name
FROM supplier s
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 49.5)
UNION ALL
SELECT 'anti', c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""")
def q_semi_anti_join(spark, sf_dir):
    """Andl `joinlc` semijoin (→ leftsemi, right side never
    materialized) and `ajoin`/`rajoin` antijoin (→ leftanti) in one
    kind-tagged result — SURVEY §2 rows 14, 16, 17. The two branches
    stay independent scans joined by a zero-cost unionByName."""
    t = _t(spark, sf_dir)
    big = (
        t["lineitem"].filter(F.col("l_quantity") > 49.5)
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    semi = J.semijoin(t["supplier"], big).select(
        F.lit("semi").alias("kind"),
        F.col("s_suppkey").alias("k"), F.col("s_name").alias("name"),
    )
    cust, orders = _cust_orders(t)
    anti = J.antijoin(cust, orders.select("c_custkey")).select(
        F.lit("anti").alias("kind"),
        F.col("c_custkey").alias("k"), F.col("c_name").alias("name"),
    )
    return semi.unionByName(anti)


@q("q_join_proj", """
SELECT 'joinr' AS kind, o_orderpriority AS a, CAST(NULL AS VARCHAR) AS b
FROM (SELECT DISTINCT o_orderpriority
      FROM customer JOIN orders ON c_custkey = o_custkey
      WHERE c_mktsegment = 'BUILDING')
UNION ALL
SELECT 'compose', c_mktsegment, o_orderpriority
FROM (SELECT DISTINCT c_mktsegment, o_orderpriority
      FROM customer JOIN orders ON c_custkey = o_custkey)
""")
def q_join_proj(spark, sf_dir):
    """Andl `joinr` — join projected onto right-only attributes (set) —
    AND `compose` — join dropping the common attributes — in one
    kind-tagged result (SURVEY §2 rows 13, 15; merged r7 — both are
    single natural-join projections — to free a correctness slot for
    q_dedup_spans, VERDICT r6 item 3). The two branches stay
    independent scans joined by a zero-cost unionByName."""
    t = _t(spark, sf_dir)
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = t["orders"].select(F.col("o_custkey").alias("c_custkey"), "o_orderpriority")
    joinr = J.natural_join(cust, orders, keep="right").select(
        F.lit("joinr").alias("kind"),
        F.col("o_orderpriority").alias("a"),
        F.lit(None).cast("string").alias("b"),
    )
    cust2 = t["customer"].select("c_custkey", "c_mktsegment")
    orders2 = t["orders"].select(
        F.col("o_custkey").alias("c_custkey"), "o_orderpriority"
    )
    comp = J.compose(cust2, orders2).select(
        F.lit("compose").alias("kind"),
        F.col("c_mktsegment").alias("a"),
        F.col("o_orderpriority").alias("b"),
    )
    return joinr.unionByName(comp)


@q("q_cross", """
SELECT r_name, n_name FROM region CROSS JOIN nation
""")
def q_cross(spark, sf_dir):
    """Natural join with no common attributes = cross join
    (SuiteRelDyadic.andl:66)."""
    t = _t(spark, sf_dir)
    return J.natural_join(t["region"].select("r_name"), t["nation"].select("n_name"))


_URGENT_BUILDING = """
WITH a AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     b AS (SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
"""


def _setop_inputs(spark, sf_dir):
    t = _t(spark, sf_dir)
    a = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = (
        t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return a, b


@q("q_setops", _URGENT_BUILDING + """
SELECT 'union' AS op, c_custkey
  FROM (SELECT c_custkey FROM a UNION SELECT c_custkey FROM b)
UNION ALL
SELECT 'minus', c_custkey
  FROM (SELECT c_custkey FROM a EXCEPT SELECT c_custkey FROM b)
UNION ALL
SELECT 'intersect', c_custkey
  FROM (SELECT c_custkey FROM a INTERSECT SELECT c_custkey FROM b)
UNION ALL
SELECT 'symdiff', c_custkey FROM (
  SELECT c_custkey FROM a EXCEPT SELECT c_custkey FROM b
  UNION
  SELECT c_custkey FROM (SELECT c_custkey FROM b EXCEPT SELECT c_custkey FROM a))
""")
def q_setops(spark, sf_dir):
    """All four Andl set operators — union / minus / intersect /
    symdiff (SURVEY §2 rows 18-21, setops.py) — over the same two
    heading-aligned inputs, each branch tagged with its operator. The
    branches are disjoint by tag, so the UNION ALL stitching preserves
    each operator's set semantics exactly."""
    a, b = _setop_inputs(spark, sf_dir)
    parts = [
        ("union", SO.union(a, b)),
        ("minus", SO.minus(a, b)),
        ("intersect", SO.intersect(a, b)),
        ("symdiff", SO.symdiff(a, b)),
    ]
    out = None
    for op, df in parts:
        tagged = df.select(F.lit(op).alias("op"), "c_custkey")
        out = tagged if out is None else out.unionByName(tagged)
    return out


@q("q_rdivide", """
SELECT l_suppkey
FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem) d
JOIN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#20' AND p_size < 4) v
  ON d.l_partkey = v.p_partkey
GROUP BY l_suppkey
HAVING COUNT(*) = (SELECT COUNT(*) FROM part WHERE p_brand = 'Brand#20' AND p_size < 4)
""")
def q_rdivide(spark, sf_dir):
    """Relational divide: suppliers supplying ALL Brand#20 size<4 parts
    (sample3.andl rdivide; count-matching plan, divisor broadcast)."""
    t = _t(spark, sf_dir)
    dividend = t["lineitem"].select(
        "l_suppkey", F.col("l_partkey").alias("p_partkey")
    )
    divisor = (
        t["part"].filter((F.col("p_brand") == "Brand#20") & (F.col("p_size") < 4))
        .select("p_partkey")
    )
    return Div.rdivide(dividend, divisor)


@q("q_image_agg", """
SELECT s_suppkey, s_name,
       COUNT(l_orderkey)                      AS n_items,
       ROUND(COALESCE(SUM(l_quantity), 0) + 1e-6, 2) AS total_qty
FROM supplier LEFT JOIN lineitem ON l_suppkey = s_suppkey
GROUP BY s_suppkey, s_name
""")
def q_image_agg(spark, sf_dir):
    """Image-relation aggregation, zero-preserving (sample3.andl:38-46)."""
    t = _t(spark, sf_dir)
    sup = t["supplier"].select("s_suppkey", "s_name")
    li = t["lineitem"].select(
        F.col("l_suppkey").alias("s_suppkey"), "l_orderkey", "l_quantity"
    )
    return Div.image_agg(
        sup,
        li,
        {
            "n_items": F.count("l_orderkey"),
            "total_qty": r2(F.coalesce(F.sum("l_quantity"), F.lit(0.0))),
        },
    )


# =====================================================================
# §2.1 window / ordered (sample5.andl)
# =====================================================================

@q("q_window_running", """
SELECT o_custkey, o_orderkey,
       CAST(ROW_NUMBER() OVER w AS BIGINT)      AS ord,
       ROUND(SUM(o_totalprice) OVER w + 1e-6, 2)       AS running_total,
       ROUND(COALESCE(LAG(o_totalprice) OVER w, 0) + 1e-6, 2)  AS prev_price,
       ROUND(COALESCE(LEAD(o_totalprice) OVER w, 0) + 1e-6, 2) AS next_price,
       ROUND(FIRST_VALUE(o_totalprice) OVER w + 1e-6, 2)       AS nth1
FROM orders
WHERE o_custkey < 50
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""")
def q_window_running(spark, sf_dir):
    """Andl .order(%group) running folds + ord/lag/lead/nth
    (sample5.andl:27-44) → one window spec, single shuffle on group."""
    orders = _t(spark, sf_dir)["orders"].filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("ord"),
        r2(F.sum("o_totalprice").over(wf)).alias("running_total"),
        r2(F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0))).alias("prev_price"),
        r2(F.coalesce(F.lead("o_totalprice").over(w), F.lit(0.0))).alias("next_price"),
        r2(F.first("o_totalprice").over(wf)).alias("nth1"),
    )


# (grouped-ordering top-k — formerly q_window_grouped — was an exact
# duplicate of the §2.9 flagship q_topk_orders and was retired to free
# a correctness-budget slot; grouped windows stay driver-checked
# through q_topk_orders and q_window_running.)


# =====================================================================
# §2.1 while — fixed point (recursive.andl)
# =====================================================================

_EDGES = """(SELECT c_custkey AS src, c_custkey * 2 AS dst
             FROM customer
             WHERE c_custkey * 2 <= (SELECT MAX(c_custkey) FROM customer))"""


@q("q_while_closure", f"""
WITH RECURSIVE reach(node) AS (
  SELECT c_custkey AS node FROM customer WHERE c_custkey IN (3, 5)
  UNION
  SELECT e.dst AS node FROM reach r JOIN {_EDGES} e ON e.src = r.node
)
SELECT node FROM reach
""")
def q_while_closure(spark, sf_dir):
    """Andl .while() transitive closure (recursive.andl:36-38) over a
    doubling-chain edge set."""
    cust = _t(spark, sf_dir)["customer"]
    # max(c_custkey) rides a broadcast cross join instead of a driver
    # collect (r11): one fewer job inside the timed region, same rows.
    mx = cust.agg(F.max("c_custkey").alias("__mx"))
    edges = (
        cust.select(F.col("c_custkey").alias("src"), (F.col("c_custkey") * 2).alias("dst"))
        .crossJoin(F.broadcast(mx))
        .filter(F.col("dst") <= F.col("__mx"))
        .select("src", "dst")
        .persist()  # reused by every round past the broadcast bound
    )
    seed = cust.filter(F.col("c_custkey").isin(3, 5)).select(F.col("c_custkey").alias("node"))
    # A declarative Hop: its edges (one per customer key up to half the
    # maximum: 75,000 at sf1) fit whileop._BROADCAST_ROWS, so the fixpoint
    # closes by one broadcast-BFS stage instead of one semi-naive round
    # per doubling of the key; from about sf3 on the edges exceed the
    # bound and, out-degree being 1, it closes by seeded path doubling.
    return W.fixpoint(seed, W.Hop(edges, at="node"))


@q("q_while_paths", f"""
WITH RECURSIVE reach(node, level) AS (
  SELECT c_custkey AS node, CAST(0 AS BIGINT) AS level FROM customer WHERE c_custkey = 1
  UNION
  SELECT e.dst AS node, r.level + 1 AS level FROM reach r JOIN {_EDGES} e ON e.src = r.node
)
SELECT node, level FROM reach
""")
def q_while_paths(spark, sf_dir):
    """Andl .while() with level tracking (org-chart flattening,
    recursive.andl:23-27)."""
    cust = _t(spark, sf_dir)["customer"]
    # same shape as q_while_closure: broadcast max, Hop step, one
    # broadcast-BFS stage
    mx = cust.agg(F.max("c_custkey").alias("__mx"))
    edges = (
        cust.select(F.col("c_custkey").alias("src"), (F.col("c_custkey") * 2).alias("dst"))
        .crossJoin(F.broadcast(mx))
        .filter(F.col("dst") <= F.col("__mx"))
        .select("src", "dst")
        .persist()  # reused by every round past the broadcast bound
    )
    seed = (
        cust.filter(F.col("c_custkey") == 1)
        .select(F.col("c_custkey").alias("node"), F.lit(0).cast("long").alias("level"))
    )

    return W.fixpoint_with_level(seed, W.Hop(edges, at="node"))


# =====================================================================
# §2.3 nest / unnest
# =====================================================================

@q("q_nest_unnest", """
SELECT o_custkey, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice) + 1e-6, 2) AS total
FROM orders
GROUP BY o_custkey
""")
def q_nest_unnest(spark, sf_dir):
    """RVA round-trip: nest orders per customer → unnest → aggregate;
    must equal the direct aggregation (sample3.andl:20-35)."""
    orders = _t(spark, sf_dir)["orders"].select("o_custkey", "o_orderkey", "o_totalprice")
    nested = N.nest(orders, ["o_custkey"], rva="orders_rva")
    flat = N.unnest(nested, "orders_rva")
    return flat.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        r2(F.sum("o_totalprice")).alias("total"),
    )


# =====================================================================
# §2.8 LLM-data-pipeline operators (documents / embeddings)
# =====================================================================

from .pipeline import curate as CU  # noqa: E402
from .pipeline import dedup as D  # noqa: E402
from .pipeline import multimodal as MM  # noqa: E402
from .pipeline import simsearch as SS  # noqa: E402
from .pipeline import text as T  # noqa: E402

_NORM_SQL = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))"


def _mm_oracle_values() -> str:
    """Decode the deterministic media payloads WITHOUT Spark (pure
    Python/numpy codecs, pipeline/multimodal.py) and emit the expected
    feature rows as SQL literals — an oracle genuinely independent of
    the mapInPandas execution path it checks."""
    rows = []
    for i, kind, payload, _meta in MM.media_rows(64):
        feats = MM.decode_payload(kind, bytes(payload))
        vals = ", ".join(repr(round(f + 1e-9, 4)) for f in feats)
        rows.append(f"({i}, '{kind}', {len(payload)}, {vals})")
    return ",\n  ".join(rows)


@q("q_multimodal_decode", f"""
SELECT CAST(media_id AS BIGINT) AS media_id, kind,
       CAST(n_bytes AS BIGINT) AS n_bytes,
       {", ".join(f"CAST(f{k} AS DOUBLE) AS f{k}" for k in range(MM.FEATURE_DIM))}
FROM (VALUES
  {_mm_oracle_values()}
) AS t(media_id, kind, n_bytes, {", ".join(f"f{k}" for k in range(MM.FEATURE_DIM))})
""")
def q_multimodal_decode(spark, sf_dir):
    """REAL multimodal decode through Spark (SURVEY §2.8 row 42): the
    deterministic media table (BMP/PPM images, WAV audio, BMP video
    keyframes) is decoded by the pure-Python codecs inside an Arrow
    mapInPandas pass, features flattened to fixed columns. The oracle
    decodes the SAME payloads driver-side with no Spark involved —
    literal values, so the distributed decode is hash-checked."""
    media = MM.synthesize_media(spark, 64)
    feats = MM.extract_features(media)
    return feats.select(
        "media_id", "kind", "n_bytes",
        *[
            r4(F.element_at("features", k + 1)).alias(f"f{k}")
            for k in range(MM.FEATURE_DIM)
        ],
    )


@q("q_dedup_exact", f"""
WITH tagged AS (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents)
SELECT doc_id, fp,
       MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id,
       doc_id <> MIN(doc_id) OVER (PARTITION BY fp) AS is_dup
FROM tagged
""")
def q_dedup_exact(spark, sf_dir):
    """Exact dedup via content-digest hash-groupBy (pipeline/dedup.py),
    with the DOCUMENT FINGERPRINT itself (pipeline/text.fingerprint —
    md5 of normalized text, SURVEY §2.8 row 41) exposed as the `fp`
    column: one scan computes the fingerprint, one shuffle groups it."""
    docs = _t(spark, sf_dir)["documents"]
    return D.exact_dedup(docs, "doc_id", "text", with_digest="fp")


@q("q_token_count", """
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_ws,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe
FROM documents
""")
def q_token_count(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regex (pipeline/text.py)."""
    docs = _t(spark, sf_dir)["documents"]
    return docs.select(
        "doc_id",
        T.token_count("text").cast("long").alias("n_ws"),
        T.token_count_bpe("text").cast("long").alias("n_bpe"),
    )


_LANG_SCORES_SQL = ", ".join(
    f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))"
    for w in ["the", "and", "of", "a", "to"]
)


@q("q_lang_id", r"""
WITH scored AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '\bder\b')) + len(regexp_extract_all(lower(text), '\bund\b')) + len(regexp_extract_all(lower(text), '\bdie\b')) + len(regexp_extract_all(lower(text), '\bdas\b')) + len(regexp_extract_all(lower(text), '\bein\b')) AS s_de,
         len(regexp_extract_all(lower(text), '\bthe\b')) + len(regexp_extract_all(lower(text), '\band\b')) + len(regexp_extract_all(lower(text), '\bof\b')) + len(regexp_extract_all(lower(text), '\ba\b')) + len(regexp_extract_all(lower(text), '\bto\b')) AS s_en,
         len(regexp_extract_all(lower(text), '\bel\b')) + len(regexp_extract_all(lower(text), '\blos\b')) + len(regexp_extract_all(lower(text), '\blas\b')) + len(regexp_extract_all(lower(text), '\buna\b')) + len(regexp_extract_all(lower(text), '\bdel\b')) AS s_es,
         len(regexp_extract_all(lower(text), '\ble\b')) + len(regexp_extract_all(lower(text), '\bla\b')) + len(regexp_extract_all(lower(text), '\bet\b')) + len(regexp_extract_all(lower(text), '\bles\b')) + len(regexp_extract_all(lower(text), '\bdes\b')) AS s_fr,
         len(regexp_extract_all(lower(text), '\bde5\b')) + len(regexp_extract_all(lower(text), '\bshi4\b')) + len(regexp_extract_all(lower(text), '\ble5\b')) + len(regexp_extract_all(lower(text), '\bzai4\b')) + len(regexp_extract_all(lower(text), '\bhe2\b')) AS s_zh
  FROM documents
)
SELECT doc_id,
       CASE WHEN GREATEST(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
            WHEN s_zh = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
            WHEN s_fr = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
            WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
            WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
            ELSE 'de' END AS lang_pred
FROM scored
""")
def q_lang_id(spark, sf_dir):
    """Heuristic language ID (stopword argmax; ties → largest code)."""
    docs = _t(spark, sf_dir)["documents"]
    return docs.select("doc_id", T.lang_id("text").alias("lang_pred"))


_QUALITY_R4_SQL = r"""ROUND(
    (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / GREATEST(length(text), 1)) * 0.4
    + (1.0 - LEAST((length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / GREATEST(length(text), 1)) * 5.0, 1.0)) * 0.2
    + (CASE WHEN GREATEST(length(text), 1) / GREATEST(len(regexp_split_to_array(trim(text), '\s+')), 1) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2
    + LEAST((len(regexp_extract_all(lower(text), '\bthe\b')) + len(regexp_extract_all(lower(text), '\band\b')) + len(regexp_extract_all(lower(text), '\bof\b')) + len(regexp_extract_all(lower(text), '\ba\b')) + len(regexp_extract_all(lower(text), '\bto\b'))) / GREATEST(len(regexp_split_to_array(trim(text), '\s+')), 1) * 10.0, 1.0) * 0.2
  + 1e-9, 4)"""


_DUP_FRAC_SQL = r"""(
  SELECT CASE WHEN len(g) > 0 THEN 1.0 - len(list_distinct(g)) * 1.0 / len(g) END
  FROM (SELECT list_transform(range(2, len(regexp_split_to_array(lower(trim(text)), '\s+')) + 1),
                              i -> regexp_split_to_array(lower(trim(text)), '\s+')[i-1] || ' ' ||
                                   regexp_split_to_array(lower(trim(text)), '\s+')[i]) AS g)
)"""


@q("q_text_quality", f"""
SELECT doc_id, {_QUALITY_R4_SQL} AS quality,
       ROUND({_DUP_FRAC_SQL} + 1e-9, 4) AS dup_bigram_frac,
       ({_DUP_FRAC_SQL} <= 0.2) AS keep_rep
FROM documents
""")
def q_text_quality(spark, sf_dir):
    """Per-document quality signals in ONE scan-side pass: the
    surface-statistics quality score (pipeline/text.quality_score) AND
    the Gopher-style duplicate-bigram repetition fraction with its
    keep-≤0.2 rule (pipeline/text.repetition_stats, Rae et al. 2021) —
    SURVEY §2.8 rows 39 and 47. No shuffle; both signals compose with
    downstream dedup in the same stage."""
    docs = _t(spark, sf_dir)["documents"]
    scored = T.repetition_stats(docs, "text")
    return scored.select(
        "doc_id",
        r4(T.quality_score("text")).alias("quality"),
        r4(F.col("dup_bigram_frac")).alias("dup_bigram_frac"),
        (F.col("dup_bigram_frac") <= 0.2).alias("keep_rep"),
    )


@q("q_clean_corpus", f"""
WITH kept AS (
  SELECT doc_id, text FROM documents
  WHERE lang = 'en' AND {_QUALITY_R4_SQL} >= 0.5
), canon AS (
  SELECT doc_id, text,
         MIN(doc_id) OVER (PARTITION BY md5({_NORM_SQL})) AS canonical
  FROM kept
)
SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
FROM canon WHERE doc_id = canonical
""")
def q_clean_corpus(spark, sf_dir):
    """End-to-end corpus cleaning — the realistic composition of the
    pipeline ops: language filter → quality threshold → exact dedup
    (min-id canonical per normalized-content fingerprint) → token
    count. The threshold applies to the ROUNDED score so the cut is
    engine-stable at the boundary. Scale shape: scan-side filters,
    then exactly one shuffle (the fingerprint window)."""
    from pyspark.sql import Window as Wd

    docs = _t(spark, sf_dir)["documents"]
    kept = docs.filter(F.col("lang") == "en").filter(r4(T.quality_score("text")) >= 0.5)
    w = Wd.partitionBy(T.fingerprint("text"))
    return (
        kept.withColumn("canonical", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("canonical"))
        .select("doc_id", T.token_count("text").alias("n_tokens"))
    )


@q("q_ngram_jaccard", r"""
WITH base AS (
  SELECT doc_id AS id, list_distinct(list_transform(
    range(GREATEST(len(regexp_split_to_array(trim(lower(text)), '\s+')) - 2, 1)),
    i -> array_to_string(regexp_split_to_array(trim(lower(text)), '\s+')[i+1:i+3], ' '))) AS sh
  FROM documents),
ex0 AS (SELECT id, unnest(sh) AS shingle FROM base),
keep AS (SELECT shingle FROM ex0 GROUP BY shingle HAVING COUNT(*) <= 50),
ex AS (SELECT id, shingle FROM ex0 JOIN keep USING (shingle)),
sizes AS (SELECT id, COUNT(*) AS n_sh FROM ex GROUP BY id),
common AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
           FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id GROUP BY 1, 2)
SELECT id_a, id_b, ROUND(n_common / (sa.n_sh + sb.n_sh - n_common) + 1e-9, 4) AS jaccard
FROM common
JOIN sizes sa ON sa.id = common.id_a
JOIN sizes sb ON sb.id = common.id_b
WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
""")
def q_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs (pipeline/dedup.py),
    with the stop-shingle cap ON (max_shingle_freq=50): a shingle
    shared by more than 50 docs is evidence of boilerplate, not
    duplication, and without the cap one "terms of service" trigram in
    1M docs is 10¹² join rows. Intersection AND denominators both count
    post-cap shingles, so the score is the exact Jaccard over the
    retained (distinctive) shingle universe (ADVICE r2); the oracle
    mirrors the same post-cap sizes. At the test SFs no shingle exceeds
    the cap (max freq 25 at sf0.1) so the result equals the uncapped
    answer — the cap is the scale lever, exercised by
    tests/test_pipeline.py's fan-out test."""
    docs = _t(spark, sf_dir)["documents"]
    pairs = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_shingle_freq=50
    )
    return pairs.select("id_a", "id_b", r4(F.col("jaccard")).alias("jaccard"))


@q("q_decontaminate", r"""
WITH base AS (
  SELECT doc_id AS id, doc_id % 19 = 0 AS is_eval, list_distinct(list_transform(
    range(GREATEST(len(regexp_split_to_array(trim(lower(text)), '\s+')) - 3, 1)),
    i -> array_to_string(regexp_split_to_array(trim(lower(text)), '\s+')[i+1:i+4], ' '))) AS sh
  FROM documents),
ex AS (SELECT id, is_eval, unnest(sh) AS shingle FROM base),
ev AS (SELECT DISTINCT shingle FROM ex WHERE is_eval)
SELECT id, COUNT(*) AS n_shared
FROM ex JOIN ev USING (shingle)
WHERE NOT is_eval
GROUP BY id
""")
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (pipeline/curate.decontaminate):
    training documents sharing any word-4-gram with the held-out eval
    split (doc_id % 19 = 0 plays the benchmark set). The eval
    distinct-shingle relation is explicitly broadcast — at corpus
    scale the train side pays one scan + a map-side join + one
    aggregation shuffle, never an all-pairs or eval-sized shuffle.
    4-grams suit this synthetic word-soup corpus; production text uses
    n in 8..13 plus the max_shingle_freq stop-shingle cap
    (tests/test_curate_asof.py exercises both knobs)."""
    docs = _t(spark, sf_dir)["documents"]
    return CU.decontaminate(
        docs, "doc_id", "text", eval_pred=F.col("doc_id") % 19 == 0, n=4
    )


def _pii_augmented(docs):
    """documents with a deterministic PII-bearing suffix derived from
    doc_id — the corpus itself is PII-free word soup, so the scrub
    target is constructed identically on both engines (the operator
    under test is the detection/redaction, not the synthesis)."""
    did = F.col("doc_id").cast("string")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 != 0,
                   F.concat(F.lit(" reach me at user"), did, F.lit("@example.com")))
             .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 3 == 1,
                   F.concat(F.lit(" cc admin"), did, F.lit("@mail.test")))
             .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 4 != 0,
                   F.concat(F.lit(" call +1-555-"),
                            (F.lit(1000) + F.col("doc_id") % 9000).cast("string")))
             .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 != 0,
                   F.concat(F.lit(" from 10."),
                            (F.col("doc_id") % 256).cast("string"), F.lit(".0.1")))
             .otherwise(F.lit("")),
        ).alias("text"),
    )


_PII_AUG_SQL = """
SELECT doc_id, text
  || CASE WHEN doc_id % 3 <> 0
     THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
  || CASE WHEN doc_id % 3 = 1
     THEN ' cc admin' || CAST(doc_id AS VARCHAR) || '@mail.test' ELSE '' END
  || CASE WHEN doc_id % 4 <> 0
     THEN ' call +1-555-' || CAST(1000 + doc_id % 9000 AS VARCHAR) ELSE '' END
  || CASE WHEN doc_id % 5 <> 0
     THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END
  AS text
FROM documents
"""


@q("q_pii_scrub", f"""
WITH aug AS ({_PII_AUG_SQL}),
scrub AS (
  SELECT doc_id AS id,
         CAST(len(regexp_extract_all(text, '{CU.EMAIL_RE}')) AS BIGINT) AS n_emails,
         CAST(len(regexp_extract_all(text, '{CU.PHONE_RE}')) AS BIGINT) AS n_phones,
         CAST(len(regexp_extract_all(text, '{CU.IPV4_RE}')) AS BIGINT)  AS n_ips,
         regexp_replace(regexp_replace(regexp_replace(text,
             '{CU.EMAIL_RE}', '<EMAIL>', 'g'),
             '{CU.PHONE_RE}', '<PHONE>', 'g'),
             '{CU.IPV4_RE}', '<IP>', 'g') AS scrubbed
  FROM aug)
SELECT id, n_emails, n_phones, n_ips,
       md5(scrubbed) AS scrub_md5, CAST(len(scrubbed) AS BIGINT) AS scrub_len
FROM scrub
""")
def q_pii_scrub(spark, sf_dir):
    """PII scrubbing (pipeline/curate.pii_scrub): detect + redact
    emails / phone numbers / IPv4 addresses over a deterministically
    PII-augmented corpus (counts vary 0..2 per class by doc_id
    residue). The redacted text is verified byte-for-byte via md5 —
    the patterns live in the Java-regex/RE2 common subset so both
    engines replace identical spans. Scan-side regexp expressions
    only: zero shuffles at any scale."""
    docs = _t(spark, sf_dir)["documents"]
    out = CU.pii_scrub(_pii_augmented(docs), "doc_id", "text")
    return out.select(
        "id", "n_emails", "n_phones", "n_ips",
        F.md5(F.col("scrubbed")).alias("scrub_md5"),
        F.col("scrub_len"),
    )


_COS_SQL = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)


@q("q_embed_dup", D.embedding_dup_pairs_sql(
    threshold=0.45, bucket_bits=8, n_tables=8, dim=64))
def q_embed_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, LSH-bucketed (the 100 TB path:
    8 hyperplane tables × 8 bits, any-table collision → exact-cosine
    verify; never a cartesian product). The oracle mirrors the same
    hyperplane literals, so the approximate candidate set itself is
    hash-checked. q_recall_gauges reports its measured recall vs the
    exact all-pairs result."""
    emb = _t(spark, sf_dir)["embeddings"]
    pairs = D.embedding_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.45,
        bucket_bits=8, n_tables=8, dim=64,
    )
    return pairs.select("id_a", "id_b", r4(F.col("cosine")).alias("cosine"))


@q("q_recall_gauges", f"""
WITH panel AS (
  SELECT * FROM embeddings WHERE vec_id < 2000
), exact_pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM panel a JOIN panel b ON a.vec_id < b.vec_id
  WHERE {_COS_SQL} >= 0.45
), approx_pairs AS (
  SELECT id_a, id_b FROM ({D.embedding_dup_pairs_sql(
      table="panel",
      threshold=0.45, bucket_bits=8, n_tables=8, dim=64, round_to=None)})
), exact_topk AS (
  SELECT query_id, cand_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY {_COS_SQL} DESC, b.vec_id) AS rank
    FROM (SELECT * FROM embeddings WHERE vec_id < 10) a
    JOIN embeddings b ON a.vec_id <> b.vec_id
  ) WHERE rank <= 5
), lsh AS (
  SELECT query_id, cand_id FROM ({SS.topk_lsh_sql(k=5, bits=8, multiprobe=1, dim=64)})
), ivf AS (
  SELECT query_id, cand_id FROM ({SS.topk_ivf_det_sql(k=5, nlist=16, nprobe=4)})
)
SELECT 'embed_dup' AS gauge, CAST(-1 AS BIGINT) AS query_id,
       ROUND(COUNT(a.id_a) * 1.0 / COUNT(*) + 1e-9, 4) AS recall
FROM exact_pairs e LEFT JOIN approx_pairs a USING (id_a, id_b)
UNION ALL
SELECT 'ann_lsh', CAST(e.query_id AS BIGINT), ROUND(COUNT(l.cand_id) / 5.0 + 1e-9, 4)
FROM exact_topk e LEFT JOIN lsh l USING (query_id, cand_id) GROUP BY 2
UNION ALL
SELECT 'ann_ivf', CAST(e.query_id AS BIGINT), ROUND(COUNT(i.cand_id) / 5.0 + 1e-9, 4)
FROM exact_topk e LEFT JOIN ivf i USING (query_id, cand_id) GROUP BY 2
""")
def q_recall_gauges(spark, sf_dir):
    """Every approximate operator's self-verification in one gauge
    relation (gauge, query_id, recall): the bucketed embedding near-dup
    path's pair recall vs the exact all-pairs set (query_id = -1), and
    per-query recall@5 of both ANN paths (hyperplane LSH, IVF) against
    exact brute-force top-5. Deterministic numbers an independent
    engine reproduces — the recall/cost dials (bits, multiprobe,
    nprobe) are what a user tunes at 100 TB; this query is the gauge."""
    emb = _t(spark, sf_dir)["embeddings"]
    # The exact all-pairs baseline is O(panel²) BY DESIGN — recall is
    # ESTIMATED on a fixed, deterministic panel (vec_id < 2000: the
    # whole corpus at the driver's sf≤0.1, a constant-cost sample
    # beyond), exactly how a 100 TB deployment gauges recall — never
    # by an exact all-pairs pass over the corpus (r5; the sf10
    # rehearsal measured the unbounded form at 74 s/sf1 and rising
    # quadratically).
    panel = emb.filter(F.col("vec_id") < 2000)
    exact = D.embedding_dup_pairs(panel, "vec_id", "embedding", threshold=0.45)
    approx = D.embedding_dup_pairs(
        panel, "vec_id", "embedding", threshold=0.45,
        bucket_bits=8, n_tables=8, dim=64,
    )
    hit = exact.select("id_a", "id_b").join(
        approx.select("id_a", "id_b", F.lit(1).alias("__f")), ["id_a", "id_b"], "left"
    )
    embed_row = hit.agg(
        r4(F.count("__f") / F.count(F.lit(1))).alias("recall")
    ).select(
        F.lit("embed_dup").alias("gauge"),
        F.lit(-1).cast("long").alias("query_id"), "recall",
    )

    queries = emb.filter(F.col("vec_id") < 10)
    exact_k = SS.topk_bruteforce(emb, queries, "vec_id", "embedding", k=5)
    lsh = SS.topk_lsh(emb, queries, "vec_id", "embedding", k=5, bits=8, multiprobe=1, dim=64)
    ivf = SS.topk_ivf_det(emb, queries, "vec_id", "embedding", k=5, nlist=16, nprobe=4)

    def ann_rows(tag, path):
        joined = exact_k.select("query_id", "cand_id").join(
            path.select("query_id", "cand_id", F.lit(1).alias("__h")),
            ["query_id", "cand_id"], "left",
        )
        return joined.groupBy("query_id").agg(
            r4(F.count("__h") / F.lit(5.0)).alias("recall")
        ).select(
            F.lit(tag).alias("gauge"),
            F.col("query_id").cast("long").alias("query_id"), "recall",
        )

    return embed_row.unionByName(ann_rows("ann_lsh", lsh)).unionByName(
        ann_rows("ann_ivf", ivf)
    )


@q("q_ann_bruteforce", f"""
SELECT query_id, cand_id, ROUND(cosine + 1e-9, 4) AS cosine, rank FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS cand_id, {_COS_SQL} AS cosine,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY {_COS_SQL} DESC, b.vec_id) AS rank
  FROM (SELECT * FROM embeddings WHERE vec_id < 10) a
  JOIN embeddings b ON a.vec_id <> b.vec_id
) WHERE rank <= 5
""")
def q_ann_bruteforce(spark, sf_dir):
    """Brute-force cosine top-5 for 10 query vectors (simsearch.py)."""
    emb = _t(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    out = SS.topk_bruteforce(emb, queries, "vec_id", "embedding", k=5, dim=64)
    return out.select("query_id", "cand_id", r4(F.col("cosine")).alias("cosine"), "rank")


@q("q_dedup_minhash", D.minhash_pairs_sql(threshold=0.5))
def q_dedup_minhash(spark, sf_dir):
    """MinHash+LSH near-dup pairs (shingle→signature→band→bucket-join)
    in ORACLE-PARITY mode (hash_fn='md5'): signatures are pure JVM
    md5-based expressions and the band keys are portable strings, so
    the oracle reproduces the identical candidate pairs and estimated
    Jaccard — the approximation itself is hash-checked (r1 had this
    rows-only). Production runs default to hash_fn='xxhash64' (2-3x
    cheaper per shingle; benched as q_dedup_minhash_prod)."""
    docs = _t(spark, sf_dir)["documents"]
    pairs = D.minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5, hash_fn="md5")
    return pairs.select("id_a", "id_b", r4(F.col("est_jaccard")).alias("est_jaccard"))


@q("q_dedup_simhash", D.simhash_pairs_sql(max_hamming=3))
def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs at the canonical 64-bit/Hamming≤3 setting
    (Manku, Jain & Sarma WWW'07): 4×16-bit pigeonhole chunks make the
    bucketed join LOSSLESS for the declared distance, so it provably
    equals the all-pairs answer the oracle computes — r1 had this
    rows-only AND under-chunked for its declared max_hamming."""
    docs = _t(spark, sf_dir)["documents"]
    sigs = D.simhash_signatures(docs, "doc_id", "text", hash_fn="md5")
    return D.simhash_near_pairs(sigs, "doc_id", max_hamming=3)


def _bench_dedup_minhash_prod(spark, sf_dir):
    """PRODUCTION minhash path (hash_fn='xxhash64' default) — the plan
    users run at 100 TB. Timed by bench.py; not a declared query (the
    md5 parity twin q_dedup_minhash holds the CORRECTNESS row; recall
    on planted dups is asserted in tests/test_pipeline.py)."""
    docs = _t(spark, sf_dir)["documents"]
    return D.minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5)


def _bench_dedup_simhash_prod(spark, sf_dir):
    """PRODUCTION simhash path (hash_fn='xxhash64') — see above."""
    docs = _t(spark, sf_dir)["documents"]
    sigs = D.simhash_signatures(docs, "doc_id", "text")
    return D.simhash_near_pairs(sigs, "doc_id", max_hamming=3)


def _bench_dedup_spans(spark, sf_dir):
    """Exact repeated-span dedup (§2.8 row 59a, xxhash64 production
    keys) — timed by bench.py; value parity holds via the row-exact
    DuckDB mirror in tests/test_pipeline.py (beyond the fixed driver
    budget)."""
    docs = _t(spark, sf_dir)["documents"]
    return D.dedup_spans(docs, "doc_id", "text", window=20)


@q("q_dedup_spans", D.dedup_spans_sql("documents", "doc_id", "text", window=20))
def q_dedup_spans(spark, sf_dir):
    """Exact repeated-span dedup (Lee et al. 2022 ExactSubstr at span
    granularity, §2.8 row 59a) — declared with hash_fn=None (raw-string
    keys), the mode the DuckDB mirror reproduces bit-exactly; the bench
    times the xxhash64 production-key variant (_bench_dedup_spans),
    pinned decision-identical in tests. Declared r7 (VERDICT r6 item 3)
    in the slot freed by merging q_compose into q_join_proj."""
    docs = _t(spark, sf_dir)["documents"]
    out = D.dedup_spans(docs, "doc_id", "text", window=20, hash_fn=None)
    return out.select(
        "id", "clean_text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
    )


#: bench-only production variants (timed by bench.py, never declared)
BENCH_EXTRA = {
    "q_dedup_minhash_prod": _bench_dedup_minhash_prod,
    "q_dedup_simhash_prod": _bench_dedup_simhash_prod,
    "q_dedup_spans": _bench_dedup_spans,
}


@q("q_ann_ivf", SS.topk_ivf_det_sql(k=5, nlist=16, nprobe=4))
def q_ann_ivf(spark, sf_dir):
    """IVF ANN over the deterministic seed quantizer: training (centroid
    selection) is out of the query path — centroids are a cached
    artifact, assignment is shuffle-free literal math — and the oracle
    re-derives the identical centroids, so the approximate result is
    hash-checked. ``quantizer="trained"`` (spherical MLlib k-means,
    trained_centroids) is the quality-tuned quantizer when parity isn't
    required."""
    emb = _t(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    out = SS.topk_ivf_det(emb, queries, "vec_id", "embedding", k=5, nlist=16, nprobe=4)
    return out.select("query_id", "cand_id", r4(F.col("cosine")).alias("cosine"), "rank")


@q("q_ann_lsh", SS.topk_lsh_sql(k=5, bits=8, multiprobe=1, dim=64))
def q_ann_lsh(spark, sf_dir):
    """Hyperplane-LSH bucketed ANN (multiprobe=1) — the scale path.
    The oracle carries the same hyperplane literals, making the bucket
    assignment and probe set engine-independent."""
    emb = _t(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    out = SS.topk_lsh(
        emb, queries, "vec_id", "embedding", k=5, bits=8, multiprobe=1, dim=64
    )
    return out.select("query_id", "cand_id", r4(F.col("cosine")).alias("cosine"), "rank")


# =====================================================================
# §2.7 events: windowed + sessionized aggregation (batch == stream plan)
# =====================================================================

@q("q_events_window", """
WITH halfhour AS (
  SELECT to_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)) AS hh,
         event_type, value
  FROM events
), sliding AS (
  SELECT hh AS wstart, event_type, value FROM halfhour
  UNION ALL
  SELECT hh - INTERVAL 30 MINUTE, event_type, value FROM halfhour
)
SELECT 'tumbling' AS kind,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
       COUNT(*) AS n, ROUND(SUM(value) + 1e-6, 2) AS total_value
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'sliding', strftime(wstart, '%Y-%m-%d %H:%M:%S'), event_type,
       COUNT(*), ROUND(SUM(value) + 1e-6, 2)
FROM sliding GROUP BY 2, 3
""")
def q_events_window(spark, sf_dir):
    """Tumbling 1-hour AND sliding 1-hour/30-min-hop aggregation
    (SURVEY §2.7; streaming/events.windowed_agg) in one kind-tagged
    result — the identical plans run under readStream with a watermark.
    The sliding oracle expresses each event's two covering windows as a
    shifted two-way union."""
    from .streaming.events import windowed_agg

    ev = _t(spark, sf_dir)["events"]
    tumbling = ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"), r2(F.sum("value")).alias("total_value"))
    sliding = windowed_agg(ev, window="1 hour", slide="30 minutes").select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type", "n", r2(F.col("total_value")).alias("total_value"),
    )
    return (
        tumbling.select(F.lit("tumbling").alias("kind"), "*")
        .unionByName(sliding.select(F.lit("sliding").alias("kind"), "*"))
    )


@q("q_topk_orders", """
SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
  FROM orders
) WHERE rk <= 3
""")
def q_topk_orders(spark, sf_dir):
    """Top-3 orders per customer — the window top-k pattern (one
    shuffle on the group key; rank computed within partitions, ties
    broken by key for determinism)."""
    orders = _t(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_totalprice",
            F.row_number().over(w).cast("long").alias("rk"),
        ).filter(F.col("rk") <= 3)
    )


@q("q_events_session", """
WITH marked AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM marked
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS t_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS t_end,
       ROUND(SUM(value) + 1e-6, 2) AS total_value
FROM sess GROUP BY 1, 2
""")
def q_events_session(spark, sf_dir):
    """Gap-based sessionization (30 min), lag+cumsum formulation; the
    streaming twin uses session_window (streaming/events.py)."""
    ev = _t(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # ntz-pure epoch MICROseconds — no session-timezone dependence, and
    # the 30-min gap compares at full timestamp precision on both
    # engines (an integer-second diff would sessionize a fractionally-
    # longer-than-1800s gap differently from the oracle's epoch_us)
    ev = ev.withColumn(
        "__us", F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    )
    prev = F.lag("__us").over(w)
    marked = ev.withColumn(
        "is_new", F.when(prev.isNull() | (F.col("__us") - prev > 1800000000), 1).otherwise(0)
    )
    sess = marked.withColumn("session_seq", F.sum("is_new").over(wf).cast("long"))
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("t_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("t_end"),
        r2(F.sum("value")).alias("total_value"),
    )


@q("q6_forecast_revenue", """
SELECT ROUND(SUM(l_extendedprice * l_discount) + 1e-6, 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: the pure scan-side query — every predicate reaches the
    parquet reader (PushedFilters), zero joins, one partial+final agg."""
    li = _t(spark, sf_dir)["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            r2(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# (aggregate + HAVING — formerly q_agg_having — is folded into
# q_agg_fold's above-average-nations restriction; §2 row 11e keeps a
# driver row there.)


@q("q_mandelbrot", """
WITH RECURSIVE
grid AS (
  SELECT (CAST(xi.i AS DOUBLE) - 40) / 20.0 AS cx,
         (CAST(yi.i AS DOUBLE) - 10) / 10.0 AS cy
  FROM range(64) xi(i), range(21) yi(i)
),
m(iter, cx, cy, x, y) AS (
  SELECT CAST(0 AS BIGINT), cx, cy, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE) FROM grid
  UNION ALL
  SELECT iter + 1, cx, cy,
         x * x - y * y + cx,
         CAST(2.0 AS DOUBLE) * x * y + cy
  FROM m
  WHERE x * x + y * y < CAST(4.0 AS DOUBLE) AND iter < 28
),
m2 AS (SELECT cx, cy, MAX(iter) AS iter FROM m GROUP BY cx, cy)
SELECT cy,
       STRING_AGG(substr(' .+*#', CAST(1 + iter // 6 AS INTEGER), 1), '' ORDER BY cx) AS t
FROM m2 GROUP BY cy
""")
def q_mandelbrot(spark, sf_dir):
    """Sample/mandelbrot.andl — the Mandelbrot set as a `.while()`
    fixpoint (the reference's own comment gives the SQL recursive-CTE
    equivalent, which is the oracle here, axes generated by formula so
    both engines produce bit-identical doubles).

    Exercises: deep (28-round) fixpoint recursion, double arithmetic in
    the step expression, max-fold regrouping, and the ordered
    non-commutative `fold(&, ...)` string concat that renders each scan
    line (mandelbrot.andl:11 `fold(&, right(left(' .+*#', ...)))`).

    Scale shape: each iteration is a narrow filter+project over the
    frontier only (escaped points drop out), so work shrinks
    monotonically; the only shuffle is the final two-level groupBy.
    """
    # Axes as integer/denominator DIVISION, not step accumulation: the
    # correctly-rounded quotient (i-40)/20 equals float(exact decimal
    # -2.0 + 0.05*i), so the doubles here are bit-identical to the
    # language front-end's decimal.Decimal axis fixpoint AND to DuckDB's
    # same division — all three engines agree on every grid key.
    xaxis = spark.range(64).select(
        ((F.col("id").cast("double") - 40) / F.lit(20.0)).alias("cx")
    )
    yaxis = spark.range(21).select(
        ((F.col("id").cast("double") - 10) / F.lit(10.0)).alias("cy")
    )
    seed = xaxis.crossJoin(yaxis).select(
        F.lit(0).cast("long").alias("iter"),
        "cx", "cy",
        F.lit(0.0).alias("x"), F.lit(0.0).alias("y"),
    )

    def step(fr: DataFrame) -> DataFrame:
        x, y = F.col("x"), F.col("y")
        return fr.filter((x * x + y * y < F.lit(4.0)) & (F.col("iter") < 28)).select(
            (F.col("iter") + 1).alias("iter"),
            "cx", "cy",
            (x * x - y * y + F.col("cx")).alias("x"),
            (F.lit(2.0) * x * y + F.col("cy")).alias("y"),
        )

    m = W.fixpoint(seed, step, max_iterations=40)
    m2 = m.groupBy("cx", "cy").agg(F.max("iter").alias("iter"))
    ch = F.substring(
        F.lit(" .+*#"), (F.lit(1) + F.floor(F.col("iter") / 6)).cast("int"), 1
    )
    return (
        m2.select("cy", "cx", ch.alias("ch"))
        .groupBy("cy")
        .agg(FL.ordered_fold("&", "ch", "cx").alias("t"))
    )


@q("q_corpus_profile", r"""
WITH per AS (
  SELECT source, lang, md5(text) AS digest, LENGTH(text) AS n_chars,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
         len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')))
           * 1.0 / len(regexp_split_to_array(trim(text), '\s+')) AS lexdiv
  FROM documents
), tot AS (SELECT COUNT(*) AS total_docs FROM documents)
SELECT COALESCE(source, 'ALL') AS source, COALESCE(lang, 'ALL') AS lang,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT digest) AS n_unique,
       ROUND(COUNT(*) * 1.0 / MAX(total_docs) + 1e-9, 6) AS share,
       ROUND(1 - COUNT(DISTINCT digest) * 1.0 / COUNT(*) + 1e-9, 6) AS dup_rate,
       ROUND(AVG(n_chars) + 1e-9, 4) AS avg_chars,
       ROUND(AVG(n_tok) + 1e-9, 4) AS avg_tokens,
       quantile_cont(n_tok, 0.5)  AS p50_tokens,
       quantile_cont(n_tok, 0.9)  AS p90_tokens,
       quantile_cont(n_tok, 0.99) AS p99_tokens,
       ROUND(AVG(lexdiv) + 1e-9, 4) AS avg_lexdiv
FROM per CROSS JOIN tot
GROUP BY ROLLUP(source, lang)
""")
def q_corpus_profile(spark, sf_dir):
    """Corpus statistics + training-mixture report at every grain in
    one ROLLUP pass (pipeline/text.corpus_profile): per-(source, lang)
    mixture rows, per-source subtotals, and the global profile — doc
    counts, corpus share, exact-dup rate, mean length, token-count
    percentiles, lexical diversity (SURVEY §2.8 rows 44 and 45)."""
    docs = _t(spark, sf_dir)["documents"]
    return T.corpus_profile(docs)


@q("q_window_rank", """
WITH numbered AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         CAST(ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS ord
  FROM orders WHERE o_custkey < 20
), win AS (
  SELECT o_custkey, o_orderkey,
         CAST(RANK()       OVER w AS BIGINT) AS rnk,
         CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
         CAST(NTILE(4)     OVER w AS BIGINT) AS quartile,
         ord,
         CAST(MIN(ord) OVER (PARTITION BY o_custkey) AS BIGINT) AS ordg,
         ROUND(COALESCE(NTH_VALUE(o_totalprice, 3) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) + 1e-6, 2) AS nth3
  FROM numbered
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
)
SELECT * FROM win ORDER BY o_custkey, o_orderkey LIMIT 100 OFFSET 10
""")
def q_window_rank(spark, sf_dir):
    """Andl rank() family (Builtin.cs Rank — rank/dense_rank/ntile over
    a grouped order) PLUS ord()/ordg()/nth(n) total-order forms
    (sample5.andl:29-44) PLUS .skip(10).take(100) paging on the ordered
    result (Builtin.cs Take/Skip) — SURVEY §2 rows 11c, 11d, 24b in
    one window pass. ord() is a TOTAL order — inherently
    single-partition, so the query restricts to a slice first;
    scalable pipelines use per-group ord (q_window_running). Window
    values are computed over full partitions BEFORE the paging limit,
    so the skip/take checks real window output."""
    orders = _t(spark, sf_dir)["orders"].filter(F.col("o_custkey") < 20)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    w_global = Window.orderBy("o_orderdate", "o_orderkey")
    w_grp = Window.partitionBy("o_custkey")
    w_seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w_seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    windowed = (
        orders.withColumn("ord", F.row_number().over(w_global).cast("long"))
        .select(
            "o_custkey", "o_orderkey",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
            "ord",
            F.min("ord").over(w_grp).cast("long").alias("ordg"),
            r2(F.coalesce(F.nth_value("o_totalprice", 3).over(wf), F.lit(0.0))).alias("nth3"),
        )
    )
    return Relation(windowed).order_display("o_custkey", "o_orderkey").skip(10).take(100).df


from .pipeline import split as SP  # noqa: E402


@q("q_train_split")  # oracle assembled from split_oracle_sql below
def q_train_split(spark, sf_dir):
    """Deterministic train/val/test split (pipeline/split.py): md5
    bucket of the key → stable, shuffle-free, engine-portable
    assignment. Returns per-split doc counts."""
    docs = _t(spark, sf_dir)["documents"]
    return (
        SP.assign_split(docs.select("doc_id"), "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


ORACLE["q_train_split"] = (
    "SELECT split, COUNT(*) AS n_docs FROM ("
    + SP.split_oracle_sql("doc_id", "documents")
    + ") GROUP BY split"
)


def sudoku_solve(spark: SparkSession, puzzle: str) -> DataFrame:
    """Sample/sudoku.andl — logic-only sudoku solver as relational
    fixpoint. 81-cell `units` grid × 9 digits = 729 possibilities;
    each pass prunes possibilities conflicting with knowns (four
    natural antijoins), then infers new knowns by the two rules of the
    reference (sudoku.andl:44-63): a cell with one remaining digit, and
    a digit with one remaining place in a row/col/box (fold(+,1)
    count-1 groups semijoined back). Non-linear recursion — each pass
    needs ALL knowns — so it runs on fixpoint_naive, not the semi-naive
    loop. Returns (index, ndigit), 81 rows when solved."""
    units = spark.range(81).select(
        F.col("id").cast("int").alias("index"),
        (F.col("id") / 9).cast("int").alias("row"),
        (F.col("id") % 9).cast("int").alias("col"),
        ((F.col("id") / 3).cast("int") % 3 + (F.col("id") / 27).cast("int") * 3).alias("box"),
    ).persist()
    digits = spark.range(1, 10).select(F.col("id").cast("int").alias("ndigit"))
    possu = J.natural_join(units, digits).persist()  # no common cols -> cross
    # board parse stays relational: character at `index` via substring
    # over the lifted scalar (sudoku.andl:33-35's right(left(...)))
    ch = F.expr(f"substring('{puzzle}', index + 1, 1)")
    board = units.select(
        "index",
        F.when(ch == ".", F.lit(0)).otherwise(ch.cast("int")).alias("ndigit"),
    )
    knowns = board.filter(F.col("ndigit") != 0)

    def step(kn: DataFrame) -> DataFrame:
        knu = J.natural_join(kn, units)
        allowed = J.antijoin(possu, kn.select("index"))
        allowed = J.antijoin(allowed, knu.select("row", "ndigit"))
        allowed = J.antijoin(allowed, knu.select("col", "ndigit"))
        allowed = J.antijoin(allowed, knu.select("box", "ndigit"))
        # feeds four count-1 rules (8 plan references) — materialize once
        allowed = allowed.localCheckpoint(eager=True)

        def only_one(*keys: str) -> DataFrame:
            singles = (
                allowed.groupBy(*keys).agg(F.count(F.lit(1)).alias("tot"))
                .filter(F.col("tot") == 1).select(*keys)
            )
            return J.semijoin(allowed, singles).select("index", "ndigit")

        out = only_one("index")
        for unit in ("row", "col", "box"):
            out = out.unionByName(only_one("ndigit", unit))
        return out

    return W.fixpoint_naive(knowns, step, max_iterations=81)


#: the unique logic-derivable solution of sudoku.andl:31's puzzle —
#: deterministic, so it IS the oracle (also asserted verbatim through
#: the language front-end in tests/test_lang_samples.py).
_SUDOKU_SOLVED = (
    "534678912672195348198342567859761423426853791"
    "713924856961537284287419635345286179"
)


@q("q_sudoku", f"""
SELECT CAST(t.i AS INTEGER) AS "index",
       CAST(substring('{_SUDOKU_SOLVED}', CAST(t.i AS INTEGER) + 1, 1) AS INTEGER) AS ndigit
FROM range(81) t(i)
""")
def q_sudoku(spark, sf_dir):
    """The reference's sudoku puzzle (sudoku.andl:31) solved by logic
    alone; 81 rows = fully solved. The fixpoint isn't SQL-expressible,
    but its RESULT is closed-form: the puzzle has a unique solution, so
    the oracle is the solved grid itself as literal values."""
    puzzle = ("53..7....6..195....98....6.8...6...34..8.3..17...2...6"
              ".6....28....419..5....8..79")
    return sudoku_solve(spark, puzzle)


# =====================================================================
# Flagship TPC-H-style, continued (Q10 / Q14 / Q18 shapes)
# =====================================================================

@q("q10_returned_items", """
WITH rev AS (
  SELECT c_custkey, c_name, n_name,
         ROUND(c_acctbal + 1e-6, 2) AS c_acctbal,
         ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 2) AS revenue
  FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation   ON c_nationkey = n_nationkey
  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    AND o_orderdate <  TIMESTAMP '1997-04-01'
    AND l_returnflag = 'R'
  GROUP BY c_custkey, c_name, c_acctbal, n_name
)
SELECT * FROM rev
QUALIFY ROW_NUMBER() OVER (ORDER BY revenue DESC, c_custkey) <= 20
""")
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10: top-20 customers by lost revenue on returned items.

    Scale shape: orderdate + returnflag predicates reach the parquet
    scans; orders⋈lineitem shuffles on orderkey (AQE coalesces), the
    25-row nation dim is broadcast explicitly, and the final top-20
    is TakeOrderedAndProject (per-partition heap, driver merge — no
    single-task global sort).
    """
    t = _t(spark, sf_dir)
    orders = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-04-01"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        t["lineitem"].filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .withColumnRenamed("l_orderkey", "o_orderkey")
    )
    cust = t["customer"].withColumnRenamed("c_nationkey", "n_nationkey")
    nation = t["nation"].select("n_nationkey", "n_name")
    joined = (
        J.natural_join(orders, li)
        .withColumnRenamed("o_custkey", "c_custkey")
    )
    joined = J.natural_join(joined, cust)
    joined = J.natural_join(joined, nation, broadcast_right=True)
    rev = joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue")
    )
    # Top-20 as orderBy+limit => TakeOrderedAndProject: per-partition
    # partial top-k merged on the driver, not a partition-less Window
    # funnelling every customer group through one task.
    return (
        rev.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey", "c_name", "n_name",
            r2(F.col("c_acctbal")).alias("c_acctbal"), "revenue",
        )
    )


@q("q14_promo_revenue", """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)) + 1e-9, 4) AS promo_pct,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate <  TIMESTAMP '1997-10-01'
""")
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14: promo revenue share — conditional aggregation over a
    fact⋈dim join. The one-month shipdate predicate is pushed to the
    lineitem scan; part is joined on its key (AQE broadcasts it at
    bench SF; at 100 TB it shuffle-joins on partkey, which both sides
    can be bucketed by)."""
    t = _t(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01"))
        & (F.col("l_shipdate") < F.lit("1997-10-01"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    part = t["part"].select(F.col("p_partkey").alias("l_partkey"), "p_type")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return J.natural_join(li, part).agg(
        r4(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0))
            / F.sum(disc)
        ).alias("promo_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


@q("q18_large_orders", """
WITH big AS (
  SELECT l_orderkey AS o_orderkey, ROUND(SUM(l_quantity) + 1e-6, 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
)
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       ROUND(o_totalprice + 1e-6, 2) AS o_totalprice, total_qty
FROM big
JOIN orders   USING (o_orderkey)
JOIN customer ON c_custkey = o_custkey
""")
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18: large-volume orders. The heavy groupBy(orderkey)
    aggregation runs FIRST and the >300 HAVING collapses it to a tiny
    key set, so the subsequent orders/customer joins see only
    qualifying orders (Spark broadcasts the shrunken side under AQE)."""
    t = _t(spark, sf_dir)
    big = (
        t["lineitem"].groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(r2(F.sum("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    orders = t["orders"].select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    ).withColumnRenamed("o_custkey", "c_custkey")
    cust = t["customer"].select("c_custkey", "c_name")
    out = J.natural_join(J.natural_join(big, orders), cust)
    return out.select(
        "c_custkey", "c_name", "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        r2(F.col("o_totalprice")).alias("o_totalprice"), "total_qty",
    )


@q("q_colocated_pairs", """
SELECT a.s_suppkey AS sa, b.s_suppkey AS sb, n_name
FROM supplier a
JOIN supplier b ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
JOIN nation ON a.s_nationkey = n_nationkey
""")
def q_colocated_pairs(spark, sf_dir):
    """SPPsample1.andl Q6: all pairs of co-located suppliers — the
    classic rename + natural-self-join + theta restriction
    ((S .select{CITY, SA:=S#} join S .select{CITY, SB:=S#})
     .where(SA<SB)). The join key (nationkey) has only 25 values —
    exactly the skewed-self-join shape AQE's skew splitting handles;
    the nation name lookup is a broadcast."""
    t = _t(spark, sf_dir)
    a = t["supplier"].select("s_nationkey", F.col("s_suppkey").alias("sa"))
    b = t["supplier"].select("s_nationkey", F.col("s_suppkey").alias("sb"))
    nation = t["nation"].select(
        F.col("n_nationkey").alias("s_nationkey"), "n_name"
    )
    pairs = J.natural_join(a, b).filter(F.col("sa") < F.col("sb"))
    return J.natural_join(pairs, nation, broadcast_right=True).select("sa", "sb", "n_name")


# =====================================================================
# §2.8 continued: repetition filtering + n-gram profiles
# =====================================================================

@q("q_top_ngrams", r"""
WITH bg AS (
  SELECT lang,
         unnest(list_transform(range(2, len(regexp_split_to_array(lower(trim(text)), '\s+')) + 1),
                               i -> regexp_split_to_array(lower(trim(text)), '\s+')[i-1] || ' ' ||
                                    regexp_split_to_array(lower(trim(text)), '\s+')[i])) AS ngram
  FROM documents
),
counted AS (SELECT lang, ngram, COUNT(*) AS n FROM bg GROUP BY lang, ngram)
SELECT lang, ngram, n, CAST(rank AS BIGINT) AS rank FROM (
  SELECT lang, ngram, n, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, ngram) AS rank
  FROM counted
) WHERE rank <= 3
""")
def q_top_ngrams(spark, sf_dir):
    """Corpus n-gram profile (pipeline/text.top_ngrams): the 3 most
    frequent word bigrams per language. explode → count (map-side
    partial) → per-group top-k window; deterministic tiebreak."""
    docs = _t(spark, sf_dir)["documents"]
    return T.top_ngrams(docs, "text", "lang", k=3)

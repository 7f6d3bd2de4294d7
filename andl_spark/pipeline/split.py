"""Deterministic dataset splitting for training pipelines.

A 100 TB corpus is never split by `rand()`: the assignment must be a
pure function of a stable key so (a) re-runs, backfills, and late
arrivals land in the same split, (b) no shuffle or state is needed —
the split predicate is a scan-side filter, and (c) any engine can
reproduce it (the DuckDB oracle computes the identical buckets).

Bucketing: first 8 hex chars of md5(key) → uint32 → mod 10_000.
md5 is engine-portable (unlike Spark's Murmur3 `F.hash` or xxhash64,
whose seeds/variants differ across systems); for cryptographic-grade
keys at extreme scale swap in xxhash64 and re-derive oracles with the
same engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import local_frame

#: bucket space; 10k gives 0.01% split granularity
N_BUCKETS = 10_000


def hash_bucket(key: Column | str) -> Column:
    """Stable bucket in [0, N_BUCKETS): md5-hex prefix mod buckets.
    Pure scan-side expression — no shuffle, no UDF, no state."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")
    return (h % N_BUCKETS).alias("bucket")


def assign_split(
    df: DataFrame,
    key: str,
    fractions: dict[str, float] | None = None,
) -> DataFrame:
    """Adds a `split` column ('train'/'val'/'test' by default) chosen
    deterministically from the key hash. Fractions are cumulative
    bucket ranges, so changing one boundary never reshuffles rows
    between the OTHER splits (stable under fraction tweaks)."""
    fractions = fractions or {"train": 0.95, "val": 0.025, "test": 0.025}
    b = hash_bucket(key)
    expr = None
    lo = 0.0
    for name, frac in fractions.items():
        hi = lo + frac
        cond = b < int(round(hi * N_BUCKETS))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo = hi
    return df.withColumn("split", expr.otherwise(F.lit(list(fractions)[0])))


def sample_by_budget(
    df: DataFrame,
    key: str,
    tokens_col: str,
    source_col: str,
    budgets: dict[str, int],
    epoch: int = 0,
) -> DataFrame:
    """Build a training mixture: deterministically sample each source
    down to a TOKEN budget (the "mix 40% web, 30% code, ..." step,
    expressed in absolute tokens per source).

    Whole hash buckets of ``key`` are kept in bucket order until the
    next bucket would exceed the source's budget — granularity is one
    bucket (~0.01% of a source), and the budget is never exceeded. A
    source without a budget entry is dropped. ``epoch`` salts the hash
    so successive epochs draw different (still deterministic) subsets
    — re-runs and backfills always reproduce the same mixture. Rows
    with a NULL key are EXCLUDED (their bucket is NULL on both
    engines); a corpus with null ids should be repaired upstream.

    Scale: one partial-agg shuffle to (source, bucket) token sums
    (≤ N_BUCKETS rows per source), a window over that TINY relation to
    pick cutoffs, then a broadcast semi-join back onto the scan. The
    full corpus is never shuffled and nothing is collected to the
    driver. The whole rule is pure SQL — sample_by_budget_oracle_sql
    emits the DuckDB mirror for the correctness gate.
    """
    # F.concat (NOT concat_ws, which skips NULL args): a NULL key must
    # produce a NULL bucket so Spark drops the row exactly like the
    # oracle's `CAST(key AS VARCHAR) || ':e'` does
    b = hash_bucket(
        F.concat(F.col(key).cast("string"), F.lit(f":{epoch}")))
    tagged = df.withColumn("__bucket", b)
    budget_df = F.broadcast(local_frame(
        tagged.sparkSession, list(budgets.items()),
        f"{source_col} string, __budget long"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy(source_col).orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    keep = (
        # NULL buckets (NULL keys) are out of the mixture entirely —
        # they must not shift the cumulative sums of real buckets
        tagged.filter(F.col("__bucket").isNotNull())
        .groupBy(source_col, "__bucket")
        .agg(F.sum(F.col(tokens_col).cast("long")).alias("__t"))
        .withColumn("__cum", F.sum("__t").over(w))
        .join(budget_df, source_col)
        .filter(F.col("__cum") <= F.col("__budget"))
        .select(source_col, "__bucket")
    )
    return (
        tagged.join(F.broadcast(keep), [source_col, "__bucket"], "left_semi")
        .drop("__bucket")
    )


def sample_by_budget_oracle_sql(
    key: str,
    tokens_col: str,
    source_col: str,
    table: str,
    budgets: dict[str, int],
    epoch: int = 0,
) -> str:
    """DuckDB mirror of sample_by_budget (same buckets, same cutoff
    rule), for oracle-parity tests."""
    bucket = (
        f"(('0x' || substr(md5(CAST({key} AS VARCHAR) || ':{epoch}'), 1, 8))"
        f"::BIGINT % {N_BUCKETS})"
    )
    cases = " ".join(
        f"WHEN '{s}' THEN {int(n)}" for s, n in budgets.items())
    return f"""
        WITH tagged AS (
          SELECT *, {bucket} AS b,
                 CASE {source_col} {cases} ELSE NULL END AS budget
          FROM {table}
        ), cum AS (
          SELECT {source_col} AS s, b,
                 SUM(SUM(CAST({tokens_col} AS BIGINT)))
                   OVER (PARTITION BY {source_col} ORDER BY b) AS c,
                 ANY_VALUE(budget) AS budget
          FROM tagged WHERE b IS NOT NULL GROUP BY {source_col}, b
        )
        SELECT tagged.* EXCLUDE (b, budget)
        FROM tagged JOIN cum ON tagged.{source_col} = cum.s AND tagged.b = cum.b
        WHERE cum.c <= cum.budget
    """


def split_oracle_sql(key: str, table: str, fractions: dict[str, float] | None = None) -> str:
    """The DuckDB-equivalent split assignment (drives the correctness
    gate; also documents the portable definition of the split)."""
    fractions = fractions or {"train": 0.95, "val": 0.025, "test": 0.025}
    bucket = (
        f"(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 8))::BIGINT % {N_BUCKETS})"
    )
    case, lo = "CASE", 0.0
    for name, frac in fractions.items():
        hi = lo + frac
        case += f" WHEN {bucket} < {int(round(hi * N_BUCKETS))} THEN '{name}'"
        lo = hi
    case += f" ELSE '{list(fractions)[0]}' END"
    return f"SELECT *, {case} AS split FROM {table}"

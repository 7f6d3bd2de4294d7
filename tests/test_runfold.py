"""grouped_running (operators/runfold.py): skew-robust running folds.

Pins (1) row-identity with the plain grouped window on a zipf-head
distribution — the exact shape the r5 skew rehearsal showed degrading
3× — and (2) the plan property that makes it skew-robust: every
Window node is partitioned by (spark_partition_id, group), never by
the bare group, so no task ever owns a whole hot group.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from andl_spark.operators.runfold import grouped_running
from andl_spark.plans.explain import formatted_plan


def _zipf_df(spark, n=20_000, hot_frac=0.6):
    # hot group 1 owns hot_frac of all rows; ~200 cold groups share the rest
    bound = int(hot_frac * 1000)
    return spark.range(n).select(
        F.when(F.pmod("id", F.lit(1000)) < bound, F.lit(1))
        .otherwise(F.pmod("id", F.lit(199)) + 100)
        .alias("g"),
        F.col("id").alias("seq"),
        (F.pmod("id", F.lit(97)).cast("double") + 0.5).alias("x"),
    )


def _plain_window(df):
    w = Window.partitionBy("g").orderBy("seq")
    fr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.select(
        "g", "seq", "x",
        F.row_number().over(w).cast("long").alias("ord"),
        F.sum("x").over(fr).alias("run_sum"),
        F.min("x").over(fr).alias("run_min"),
        F.max("x").over(fr).alias("run_max"),
        F.count("x").over(fr).cast("long").alias("run_cnt"),
    )


def test_matches_plain_grouped_window_on_zipf_head(spark):
    df = _zipf_df(spark)
    got = grouped_running(
        df,
        ["g"],
        ["seq"],
        {
            "run_sum": ("sum", "x"),
            "run_min": ("min", "x"),
            "run_max": ("max", "x"),
            "run_cnt": ("count", "x"),
        },
        ordinal="ord",
        nparts=32,
    ).select("g", "seq", "x", "ord", "run_sum", "run_min", "run_max", "run_cnt")
    exp = _plain_window(df)
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, exp.collect()))
    assert len(a) == len(b) == 20_000
    for ra, rb in zip(a, b):
        assert ra[:4] == rb[:4]
        for va, vb in zip(ra[4:], rb[4:]):
            assert va == pytest.approx(vb, rel=1e-12)


def test_product_fold_and_single_partition_groups(spark):
    # groups far smaller than a range slice: every offset is the
    # ⊕-identity path (NULL offset), which must leave locals untouched
    df = spark.range(300).select(
        F.pmod("id", F.lit(100)).alias("g"),
        F.col("id").alias("seq"),
        (F.pmod("id", F.lit(3)).cast("double") + 1.0).alias("x"),
    )
    got = grouped_running(
        df, ["g"], ["seq"], {"run_prod": ("product", "x")}, nparts=8
    )
    w = Window.partitionBy("g").orderBy("seq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    exp = df.select("g", "seq", "x", F.product("x").over(w).alias("run_prod"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_no_window_partitioned_by_bare_group(spark):
    df = _zipf_df(spark, n=2_000)
    out = grouped_running(
        df, ["g"], ["seq"], {"run_sum": ("sum", "x")}, ordinal="ord", nparts=16
    )
    import re

    plan = formatted_plan(out)
    # big-data windows carry the partition id; the only group-partitioned
    # window runs over the tiny (pid, group) partials relation
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan[:2000]
    bare_group = [
        s for s in specs if "__pid" not in s and "__n" not in s and "__t_" not in s
    ]
    # the partials prefix window references __n/__t_ aggregates in its
    # projection context; the data-sized windows must all carry __pid
    data_sized = [s for s in bare_group if "__lrn" in s or "run" in s]
    assert not data_sized, data_sized


def test_null_values_match_plain_window(spark):
    """ADVICE r5: null-skipping merge — a row whose local slice-prefix
    is all-NULL must inherit the prior-slice offset, exactly like the
    plain window's null-skipping sum/product."""
    df = spark.range(4_000).select(
        F.pmod("id", F.lit(3)).alias("g"),
        F.col("id").alias("seq"),
        # long NULL stretches so some range slices see only NULLs
        F.when(F.pmod("id", F.lit(1500)) < 700,
               F.pmod("id", F.lit(7)).cast("double") + 1.0).alias("x"),
    )
    got = grouped_running(
        df, ["g"], ["seq"],
        {"run_sum": ("sum", "x"), "run_prod": ("product", "x")},
        nparts=16,
    )
    w = Window.partitionBy("g").orderBy("seq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    exp = df.select(
        "g", "seq", "x",
        F.sum("x").over(w).alias("run_sum"),
        F.product("x").over(w).alias("run_prod"),
    )
    a = sorted(map(tuple, got.select(*exp.columns).collect()))
    b = sorted(map(tuple, exp.collect()))
    assert len(a) == len(b) == 4_000
    for ra, rb in zip(a, b):
        assert ra[:3] == rb[:3]
        for va, vb in zip(ra[3:], rb[3:]):
            assert (va is None) == (vb is None)
            if va is not None:
                assert va == pytest.approx(vb, rel=1e-9)


def test_concat_fold_matches_ordered_concat(spark):
    """fold(&, s) — ordered text concat across slice boundaries."""
    df = spark.range(2_000).select(
        F.pmod("id", F.lit(2)).alias("g"),
        F.col("id").alias("seq"),
        F.substring(F.lit("abcdefghij"), (F.pmod("id", F.lit(10)) + 1).cast("int"), 1).alias("s"),
    )
    got = grouped_running(df, ["g"], ["seq"], {"cat": ("concat", "s")}, nparts=16)
    w = Window.partitionBy("g").orderBy("seq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    exp = df.select(
        "g", "seq", "s",
        F.concat_ws("", F.collect_list("s").over(w)).alias("cat"))
    assert sorted(map(tuple, got.select(*exp.columns).collect())) == \
        sorted(map(tuple, exp.collect()))


def test_rejects_sequential_fold_ops(spark):
    df = _zipf_df(spark, n=10)
    with pytest.raises(ValueError, match="unsupported"):
        grouped_running(df, ["g"], ["seq"], {"bad": ("first", "x")})


def test_relation_ordered_declarative_dispatch(spark):
    """Relation.ordered with declarative (op, col) specs under a group
    auto-routes through grouped_running (r6): values equal the callable
    (plain-window) form, and the plan has no bare-group data window."""
    import re

    from andl_spark.plans.explain import formatted_plan
    from andl_spark.relation import Relation

    df = _zipf_df(spark, n=3_000)
    rel = Relation(df)
    got = rel.ordered(
        ["seq"], group=["g"], ord="ord", run_sum=("sum", "x"),
        run_max=("max", "x"),
    ).df
    specs = re.findall(
        r"windowspecdefinition\(([^)]*)\)", formatted_plan(got))
    assert specs and not [s for s in specs if "__pid" not in s]
    exp = rel.ordered(
        ["seq"],
        group=["g"],
        ord=lambda w: F.row_number().over(w).cast("long"),
        run_sum=lambda w: F.sum("x").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        run_max=lambda w: F.max("x").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    ).df.select(*got.columns)
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, exp.collect()))
    assert len(a) == len(b) == 3_000
    for ra, rb in zip(a, b):
        assert ra[:4] == rb[:4]
        for va, vb in zip(ra[4:], rb[4:]):
            assert va == pytest.approx(vb, rel=1e-12)

    # un-grouped, descending unique key: the same dispatch runs the
    # folds over range slices (groups=[]), never a partition-less window
    got = rel.ordered(
        ["-seq"], ord="ord", run_sum=("+", "x"), run_min=("min", "x"),
    ).df
    specs = re.findall(
        r"windowspecdefinition\(([^)]*)\)", formatted_plan(got))
    assert specs and not [s for s in specs if "__pid" not in s]
    exp = rel.ordered(
        ["-seq"],
        ord=lambda w: F.row_number().over(w).cast("long"),
        run_sum=lambda w: F.sum("x").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        run_min=lambda w: F.min("x").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    ).df.select(*got.columns)
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, exp.collect()))
    assert len(a) == len(b) == 3_000
    for ra, rb in zip(a, b):
        assert ra[:4] + ra[5:] == rb[:4] + rb[5:]
        assert ra[4] == pytest.approx(rb[4], rel=1e-12)


def test_relation_ordered_declarative_descending(spark):
    """Review r6: the '-col' descending syntax must survive the
    declarative dispatch (it previously reached grouped_running as a
    raw string and raised UNRESOLVED_COLUMN)."""
    from andl_spark.relation import Relation

    df = _zipf_df(spark, n=2_000)
    got = Relation(df).ordered(
        ["-seq"], group=["g"], run_max=("max", "x")).df
    w = Window.partitionBy("g").orderBy(F.col("seq").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    exp = df.select("g", "seq", "x", F.max("x").over(w).alias("run_max"))
    assert sorted(map(tuple, got.select(*exp.columns).collect())) == \
        sorted(map(tuple, exp.collect()))


def test_relation_running_equals_ordered(spark):
    """Relation.running (skew-safe API form) matches Relation.ordered's
    single-window-per-group output on the same folds."""
    from pyspark.sql import Window as W

    from andl_spark.relation import Relation

    df = _zipf_df(spark, n=3_000)
    rel = Relation(df)
    got = rel.running(
        ["g"], ["seq"], {"run_sum": ("sum", "x")}, ordinal="ord"
    ).df
    exp = rel.ordered(
        ["seq"],
        group=["g"],
        ord=lambda w: F.row_number().over(w).cast("long"),
        run_sum=lambda w: F.sum("x").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    ).df.select(*got.columns)
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, exp.collect()))
    assert len(a) == len(b) == 3_000
    for ra, rb in zip(a, b):
        assert ra[:4] == rb[:4] and ra[4] == pytest.approx(rb[4], rel=1e-12)


def test_ungrouped_matches_single_partition_window(spark):
    """groups=[]: the partials are prefix-combined on the driver (a
    window over them would be partition-less); values equal the
    single-partition window for every op, across NULL-only slices, and
    the plan has no partition-less Window."""
    from andl_spark.plans.explain import global_windows

    df = spark.range(0, 4_000, 1, 4).select(
        F.pmod(F.col("id") * 7, F.lit(4_000)).alias("seq"),
        F.when(F.pmod("id", F.lit(1500)) < 700,
               F.pmod("id", F.lit(3)).cast("double") + 1.0).alias("x"),
        F.when(F.pmod("id", F.lit(499)) == 0, F.lit("ab")).alias("s"),
    )
    got = grouped_running(
        df, [], ["seq"],
        {"run_sum": ("sum", "x"), "run_prod": ("product", "x"),
         "run_cnt": ("count", "x"), "run_min": ("min", "x"),
         "run_max": ("max", "x"), "cat": ("concat", "s")},
        ordinal="ord", nparts=16,
    )
    assert global_windows(got) == []
    w = Window.orderBy("seq")
    fr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    exp = df.select(
        "seq", "x", "s",
        F.row_number().over(w).cast("long").alias("ord"),
        F.sum("x").over(fr).alias("run_sum"),
        F.product("x").over(fr).alias("run_prod"),
        F.count("x").over(fr).alias("run_cnt"),
        F.min("x").over(fr).alias("run_min"),
        F.max("x").over(fr).alias("run_max"),
        F.concat_ws("", F.collect_list("s").over(fr)).alias("cat"),
    )
    a = sorted(map(tuple, got.select(*exp.columns).collect()))
    b = sorted(map(tuple, exp.collect()))
    assert len(a) == len(b) == 4_000
    prod = exp.columns.index("run_prod")  # float products reassociate
    for ra, rb in zip(a, b):
        assert ra[:prod] + ra[prod + 1:] == rb[:prod] + rb[prod + 1:]
        assert (ra[prod] is None) == (rb[prod] is None)
        if ra[prod] is not None:
            assert ra[prod] == pytest.approx(rb[prod], rel=1e-9)

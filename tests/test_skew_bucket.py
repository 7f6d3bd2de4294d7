"""Skew salting correctness + bucketed co-located joins (no shuffle)."""

from pyspark.sql import functions as F

from andl_spark.operators.skew import key_histogram, salted_join
from andl_spark.plans.explain import formatted_plan
from andl_spark.sources.catalog import Catalog


def test_salted_join_matches_plain_join(spark):
    # 90% of left rows share one hot key
    left = spark.range(2000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    plain = left.join(right, "k").groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("s"))
    salted = salted_join(left, right, ["k"], salt=8).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("w").alias("s")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_key_histogram_flags_hot_key(spark):
    df = spark.range(1000).select(
        F.when(F.col("id") % 5 != 0, F.lit(1)).otherwise(F.col("id")).alias("k")
    )
    top = key_histogram(df, "k", top=1).first()
    assert top["k"] == 1 and top["count"] == 800


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat"))
    orders = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("a")
    )
    items = spark.range(5000).select(
        (F.col("id") % 1000).alias("k"), (F.col("id") % 13).alias("b")
    )
    cat.put_bucketed("b_orders", orders, ["k"], n_buckets=8)
    cat.put_bucketed("b_items", items, ["k"], n_buckets=8)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = cat.get_bucketed("b_orders").join(cat.get_bucketed("b_items"), "k")
        plan = formatted_plan(j)
        assert "SortMergeJoin" in plan
        # co-located buckets: join requires no Exchange on either side
        assert "Exchange" not in plan, plan[:1500]
        assert j.count() == 5000
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_items")


def test_layout_guards_are_symmetric(spark, tmp_path):
    """put() refuses to version a bucketed relvar AND put_bucketed()
    refuses to bucket a versioned one (ADVICE r2): mixing layouts under
    one name would orphan version snapshots / stale metastore paths."""
    import pytest

    cat = Catalog(spark, str(tmp_path / "cat2"))
    df = spark.range(10).select(F.col("id").alias("k"))
    cat.put("versioned_rv", df)
    with pytest.raises(ValueError, match="versioned"):
        cat.put_bucketed("versioned_rv", df, ["k"], n_buckets=4)
    try:
        cat.put_bucketed("bucketed_rv", df, ["k"], n_buckets=4)
        with pytest.raises(ValueError, match="bucketed"):
            cat.put("bucketed_rv", df)
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketed_rv")


def test_zipfian_orders_salted_join_equivalence(spark):
    """VERDICT r4 item 3: SuiteRelDyadic join semantics must survive a
    pathological key distribution unchanged. tools/gen_sf.skew_table
    collapses 30% of orders onto one hot customer (the zipf-head
    rehearsal shape); the plain natural join, the salted join, and the
    reference dyadic semantics must all agree row-for-row on it."""
    import importlib.util
    import os

    from andl_spark.operators.joins import natural_join
    from andl_spark.session import load_tables

    from conftest import SF_SMOKE

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_sf", os.path.join(repo, "tools", "gen_sf.py"))
    gen_sf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_sf)

    t = load_tables(spark, SF_SMOKE, register_views=False)
    orders = gen_sf.skew_table(t["orders"], "orders", 0.3).select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"), "o_totalprice")
    cust = t["customer"].select("c_custkey", "c_name", "c_nationkey")
    # the hot key really is hot (~30% of all orders)
    top = key_histogram(orders, "c_custkey", top=1).first()
    assert top["c_custkey"] == gen_sf.HOT_KEY
    assert top["count"] >= 0.25 * orders.count()

    plain = natural_join(orders, cust)
    salted = salted_join(orders, cust, ["c_custkey"], salt=8)
    cols = sorted(plain.columns)
    assert sorted(salted.columns) == cols
    assert (sorted(map(tuple, plain.select(*cols).collect()))
            == sorted(map(tuple, salted.select(*cols).collect())))


def test_aqe_splits_skewed_smj_partition(spark):
    """AQE skew-join evidence (SCALE_r05): when a hot key forces one
    shuffle partition far past its peers in a sort-merge join, AQE
    splits it — the executed plan carries SortMergeJoin(skew=true) and
    a 'coalesced and skewed' AQEShuffleRead — and the result is
    unchanged. Broadcast dim joins never see this (skew-immune by
    construction); this pins the fact-fact fallback path the 100 TB
    plan relies on when neither side broadcasts.

    Two conditions both matter and are part of what this test pins
    down: (1) partition-size stats are COMPRESSED shuffle bytes, so a
    synthetic hot partition needs incompressible payload to trip the
    threshold; (2) AQE refuses to split when the join's hash
    partitioning is reused by a same-key downstream agg (splitting
    would break the required distribution) — grouping on any OTHER
    column re-enables it. In the same-key case the remaining lever is
    operators/skew.salted_join, whose equivalence the tests above
    pin."""
    left = spark.range(500_000).select(
        F.when(F.pmod("id", F.lit(10)) != 0, F.lit(7))
        .otherwise(F.pmod("id", F.lit(1000)))
        .alias("k"),
        F.col("id").alias("v"),
        # md5 ≈ incompressible: skew stats measure compressed bytes
        F.md5(F.col("id").cast("string")).alias("pad"),
    )
    right = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("w")
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
    }
    prev = {c: spark.conf.get(c, None) for c in confs}
    for c, v in confs.items():
        spark.conf.set(c, v)
    try:
        # group on a non-join column: same-key grouping pins the join
        # output's partitioning and legally inhibits the skew split
        j = left.join(right, "k").groupBy(
            F.pmod("w", F.lit(7)).alias("g")
        ).agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("s"))
        got = sorted(map(tuple, j.collect()))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "coalesced and skewed" in plan
        # unchanged semantics: hot key 7 (w=21, g=0) keeps all its rows
        assert sum(r[1] for r in got) == 500_000
        g0 = [r for r in got if r[0] == 0][0]
        assert g0[1] >= 450_000 and g0[2] >= 450_000 * 21
    finally:
        for c, v in prev.items():
            if v is not None:
                spark.conf.set(c, v)
            else:
                spark.conf.unset(c)

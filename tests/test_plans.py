"""Scale-design enforcement: physical plans must show pushdown, pruning,
broadcasts, codegen, and Arrow-only Python (SURVEY.md §4)."""

import pytest
from pyspark.sql import functions as F

from andl_spark import workload
from andl_spark.plans import explain as X
from andl_spark.session import load_tables

from conftest import SF_SMOKE

LINEITEM_COLS = {
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate",
}


def test_q1_pushdown_pruning_codegen(spark):
    df = workload.QUERIES["q1_pricing_summary"](spark, SF_SMOKE)
    X.assert_pushed_filter(df, "l_shipdate")
    X.assert_read_schema_only(
        df, LINEITEM_COLS,
        {"l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
         "l_discount", "l_tax", "l_shipdate"},
    )
    X.assert_no_python_row_udf(df)
    # scan + one partial/final agg exchange — no more. Counted before
    # execution: the post-AQE formatted plan repeats Exchange nodes in
    # its "Initial Plan" section.
    assert X.count_shuffles(df) <= 2
    X.assert_whole_stage_codegen(df)


def test_q5_broadcasts_dims(spark):
    df = workload.QUERIES["q5_local_supplier"](spark, SF_SMOKE)
    X.assert_broadcast_join(df, min_count=3)  # supplier, nation, region


def test_semijoin_never_materializes_right(spark):
    t = load_tables(spark, SF_SMOKE, register_views=False)
    from andl_spark.operators.joins import semijoin

    big = t["lineitem"].select(F.col("l_suppkey").alias("s_suppkey"))
    df = semijoin(t["supplier"], big)
    plan = X.formatted_plan(df)
    assert "LeftSemi" in plan
    X.assert_read_schema_only(df, LINEITEM_COLS, {"l_suppkey"})


def test_antijoin_plan(spark):
    df = workload.QUERIES["q_semi_anti_join"](spark, SF_SMOKE)
    assert "LeftAnti" in X.formatted_plan(df)


def test_minhash_simhash_signatures_pure_jvm(spark):
    """Dedup signature passes must stay inside whole-stage codegen:
    no Python of any kind (the r1 Arrow UDFs were already vectorized;
    the md5-expression rewrite removes Python from the 100 TB scan
    entirely)."""
    from andl_spark.pipeline.dedup import minhash_signatures, simhash_signatures

    docs = load_tables(spark, SF_SMOKE, register_views=False)["documents"]
    for df in (minhash_signatures(docs, "doc_id", "text"),
               simhash_signatures(docs, "doc_id", "text")):
        X.assert_no_python_row_udf(df)
        plan = X.formatted_plan(df)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        df.unpersist()


def test_multimodal_udfs_are_arrow_batched(spark):
    """Where Python is unavoidable (binary decode plumbing) it must be
    Arrow-batched, never row-at-a-time."""
    from andl_spark.pipeline.multimodal import extract_features, synthesize_media

    media = synthesize_media(spark, n=8)
    df = extract_features(media)
    X.assert_no_python_row_udf(df)
    plan = X.formatted_plan(df)
    assert "MapInPandas" in plan or "mapInPandas" in plan


def test_ann_bruteforce_is_jvm_only(spark):
    df = workload.QUERIES["q_ann_bruteforce"](spark, SF_SMOKE)
    X.assert_no_python_row_udf(df)
    plan = X.formatted_plan(df)
    assert "ArrowEvalPython" not in plan  # pure higher-order functions


def test_embed_dup_never_cartesian(spark):
    """The declared q_embed_dup must take the LSH-bucketed path: no
    CartesianProduct / BroadcastNestedLoopJoin anywhere in its plan
    (VERDICT r1 'What's wrong' #3 — an all-pairs crossJoin is a
    scale-killer; the exact baseline is for tests only)."""
    df = workload.QUERIES["q_embed_dup"](spark, SF_SMOKE)
    plan = X.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    X.assert_no_python_row_udf(df)


def test_filter_pushdown_through_relation_api(spark):
    t = load_tables(spark, SF_SMOKE, register_views=False)
    from andl_spark import Relation

    df = (
        Relation(t["part"])
        .where(F.col("p_size") < 10)
        .project("p_partkey", "p_name", distinct=False)
        .df
    )
    X.assert_pushed_filter(df, "p_size")
    X.assert_read_schema_only(
        df, {"p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"},
        {"p_partkey", "p_name", "p_size"},
    )


def test_ivf_assignment_shuffle_free(spark):
    """IVF corpus assignment must be a pure map: centroids live in the
    plan as literals, so there is no shuffle and no Python UDF — the
    property that lets assignment scale linearly over a 100 TB corpus."""
    from andl_spark.pipeline import simsearch as SS

    emb = load_tables(spark, SF_SMOKE, register_views=False)["embeddings"]
    cents = [[float(i == j) for j in range(64)] for i in range(8)]  # fixed, no training
    assigned = emb.select(
        "vec_id",
        F.element_at(SS.nearest_lists_cosine("embedding", cents, 1), 1).alias("list_id")
    )
    assert X.count_shuffles(assigned) == 0
    X.assert_no_python_row_udf(assigned)


def test_plan_report_api(spark):
    """Relation.plan_report surfaces the scale posture: a filtered
    aggregate over a broadcast join shows its shuffle, broadcast, and
    pushdown counts and no row-wise Python."""
    from andl_spark.relation import Relation

    t = load_tables(spark, SF_SMOKE, register_views=False)
    r = (
        Relation(t["lineitem"].filter(F.col("l_quantity") > 10))
        .join(Relation(t["supplier"].select(F.col("s_suppkey").alias("l_suppkey"), "s_name")), broadcast=True)
        .aggregate(["s_name"], n=F.count(F.lit(1)))
    )
    rep = r.plan_report()
    assert rep["shuffles"] >= 1          # the aggregation
    assert rep["broadcast_joins"] >= 1   # the dim join
    assert rep["pushed_filters"] >= 1    # l_quantity reached the scan
    assert rep["row_python_udf"] == 0


def test_merged_query_plan_shapes(spark):
    """The r3 consolidated queries keep the plan shapes their
    standalone predecessors had: the semi/anti union carries BOTH
    leftsemi and leftanti; the window+paging query pushes its slice
    filter to the scan; the rollup corpus profile expands to its three
    grains but still aggregates in one pass per grain (no join back to
    the corpus beyond the size-1 total)."""
    semi_anti = workload.QUERIES["q_semi_anti_join"](spark, SF_SMOKE)
    plan = X.formatted_plan(semi_anti)
    assert "LeftSemi" in plan and "LeftAnti" in plan

    wr = workload.QUERIES["q_window_rank"](spark, SF_SMOKE)
    X.assert_pushed_filter(wr, "o_custkey")
    X.assert_no_python_row_udf(wr)

    prof = workload.QUERIES["q_corpus_profile"](spark, SF_SMOKE)
    pplan = X.formatted_plan(prof)
    assert "Expand" in pplan  # ROLLUP grains, map-side
    assert "BroadcastNestedLoopJoin" in pplan or "BroadcastExchange" in pplan
    X.assert_no_python_row_udf(prof)


def test_new_pipeline_ops_plan_shapes(spark):
    """The round-3 late additions keep their declared 100 TB shapes:
    the LM scorer's vocab join is a broadcast (the model is V rows),
    boilerplate removal never degenerates to a nested-loop/cartesian
    join, and clustering label propagation joins hash-partitioned —
    no crossJoin anywhere."""
    from andl_spark.pipeline import curate as C
    from andl_spark.pipeline import dedup as D
    from andl_spark.pipeline import text as T

    docs = load_tables(spark, SF_SMOKE, register_views=False)["documents"]
    lm = T.train_unigram_lm(docs, "text", vocab_cap=1000)
    plan = X.formatted_plan(T.lm_quality_score(docs, lm, "doc_id", "text"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    X.assert_no_python_row_udf(T.lm_quality_score(docs, lm, "doc_id", "text"))

    clean = C.remove_boilerplate_lines(docs, "doc_id", "text", eager=False)
    cplan = X.formatted_plan(clean)
    assert "CartesianProduct" not in cplan and "NestedLoop" not in cplan
    assert "LeftAnti" in cplan
    X.assert_no_python_row_udf(clean)

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kplan = X.formatted_plan(D.dup_clusters(pairs, max_iter=5))
    assert "CartesianProduct" not in kplan and "NestedLoop" not in kplan


HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "q10_returned_items", "q14_promo_revenue",
    "q18_large_orders", "q_topk_orders", "q_colocated_pairs",
]

# Documented single-task windows outside the headline set:
#  - q_agg_fold: grand-total window over the 25-nation aggregate —
#    cardinality bounded by the nation table at every SF (docstring).
#  - q_window_rank: Andl's total-order ord() on an o_custkey<20 slice;
#    a total order is inherently single-partition, so the query bounds
#    its input first (docstring).
GLOBAL_WINDOW_EXCEPTIONS = {"q_agg_fold", "q_window_rank"}


def test_headline_queries_no_global_window(spark):
    """VERDICT r4 finding 1: top-k must plan as TakeOrderedAndProject
    (per-partition heap + driver merge), never a partition-less Window
    funnelling every group through one task."""
    for name in HEADLINE:
        X.assert_no_global_window(workload.QUERIES[name](spark, SF_SMOKE))
    # the two fixed queries specifically plan the scale-safe operator
    for name in ("q3_shipping_priority", "q10_returned_items"):
        plan = X.formatted_plan(workload.QUERIES[name](spark, SF_SMOKE))
        assert "TakeOrderedAndProject" in plan, name


# Near-dup queries whose builders materialize eagerly
# (localCheckpoint(eager=True) inside pipeline/dedup.py): the
# checkpoint TRUNCATES lineage, so the window inventory below never
# saw inside their plans at any SF — and invoking them is a full
# execution, which at sf10 dup density reproduces the documented
# exact-pair OOM (SCALE_r04/r05) rather than testing plan shape.
# Their plan shapes are asserted in the dedicated JVM-signature /
# bucketed-join tests above and in test_pipeline.py.
EAGER_MATERIALIZING = {
    "q_dedup_minhash", "q_dedup_simhash", "q_ngram_jaccard", "q_embed_dup",
}


def test_all_driver_queries_global_window_inventory(spark):
    """Pin the full inventory: across every declared driver query the
    ONLY partition-less Windows are the two documented exceptions —
    a new scale-killer can't sneak in unnoticed."""
    import __spark_entry__ as entry

    offenders = {
        name for name, fn in entry.queries().items()
        if name not in EAGER_MATERIALIZING
        and X.global_windows(fn(spark, SF_SMOKE))
    }
    assert offenders <= GLOBAL_WINDOW_EXCEPTIONS, (
        f"undocumented global windows: {offenders - GLOBAL_WINDOW_EXCEPTIONS}"
    )


def test_span_ingest_plan_shapes(spark):
    """r7 spans leg keeps the declared 100 TB shape: pure JVM
    expressions (no Python at all), windows partition per DOC (never
    globally, never per span KEY — a boilerplate key group must not
    funnel one task), no cartesian/nested-loop joins, and the
    corpus-key side of the probe joins is never broadcast."""
    from andl_spark.pipeline import dedup as D

    docs = load_tables(spark, SF_SMOKE, register_views=False)["documents"]
    # eager=False keeps the full lazy plan inspectable
    one = D.dedup_spans(docs, "doc_id", "text", window=20, eager=False)
    plan = X.formatted_plan(one)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    X.assert_no_python_row_udf(one)
    assert X.plan_report(one)["arrow_python"] == 0  # no Python, period
    assert X.global_windows(one) == []  # coverage windows are per-doc

    idx = D.empty_span_index(spark)
    clean, new_idx = D.dedup_spans_against_index(
        docs, idx, "doc_id", "text", window=20, eager=False)
    for df in (clean, new_idx):
        p = X.formatted_plan(df)
        assert "CartesianProduct" not in p and "NestedLoop" not in p
        X.assert_no_python_row_udf(df)
        assert X.global_windows(df) == []
    # the index antijoin stays a shuffled join (a corpus-sized key set
    # must never ride a broadcast)
    assert "BroadcastHashJoin" not in X.formatted_plan(new_idx)

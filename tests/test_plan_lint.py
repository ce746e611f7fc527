"""Plan-linter rules pinned with a positive AND a negative case each,
against real finalized plans — textual detection is only trustworthy if
both directions are tested."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduceindex_spark.plans import lint_plan, plan_stats
from tests.conftest import SF_SMALL


def _rules(findings):
    return {f.rule for f in findings}


def test_flagship_lints_clean(spark):
    from mapreduceindex_spark.operators.inverted_index import (
        inverted_index_flat,
    )
    from mapreduceindex_spark.session import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    assert lint_plan(inverted_index_flat(docs)) == []


def test_cartesian_flagged_and_broadcast_cross_not(spark):
    a = spark.range(100).select(F.col("id").alias("x"))
    b = spark.range(100).select(F.col("id").alias("y"))
    # small frames auto-broadcast into BroadcastNestedLoopJoin; the true
    # CartesianProduct (both sides shuffled) only plans when neither
    # side is broadcastable — model that with the threshold off
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert "cartesian" in _rules(lint_plan(a.crossJoin(b)))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # the sanctioned pattern: cross join against a broadcast frame
    assert "cartesian" not in _rules(lint_plan(a.crossJoin(F.broadcast(b))))


def test_row_python_flagged_and_arrow_not(spark):
    from pyspark.sql.types import LongType

    @F.udf(returnType=LongType(), useArrow=False)
    def slow(x):
        return x + 1

    df = spark.range(10).select(slow("id").alias("v"))
    assert "row_python" in _rules(lint_plan(df))
    assert "row_python" not in _rules(lint_plan(spark.range(10)))


def test_global_window_flagged_and_partitioned_not(spark):
    from pyspark.sql.window import Window

    df = spark.range(100).select(
        "id", (F.col("id") % 7).alias("k")
    )
    w_global = Window.orderBy("id")
    w_part = Window.partitionBy("k").orderBy("id")
    assert "global_window" in _rules(
        lint_plan(df.select(F.row_number().over(w_global).alias("r")))
    )
    assert "global_window" not in _rules(
        lint_plan(df.select(F.row_number().over(w_part).alias("r")))
    )
    # the UNORDERED whole-table frame is the same single-task plan
    # (sum over Window.partitionBy() with no orderBy) — rule must
    # catch it even though no ASC/DESC marker appears in the spec
    w_frame = Window.partitionBy()
    assert "global_window" in _rules(
        lint_plan(df.select(F.sum("id").over(w_frame).alias("t")))
    )
    assert "global_window" not in _rules(
        lint_plan(
            df.select(F.sum("id").over(Window.partitionBy("k")).alias("t"))
        )
    )


def test_global_window_expression_order_key(spark):
    """ADVICE r05 #2: a global window whose FIRST ordered key is a
    parenthesized expression (nested call in the spec) must still be
    flagged — the old [^)]* regex truncated the spec at the inner ')'
    and missed its ' ASC' marker."""
    from pyspark.sql.window import Window

    df = spark.range(100).select(
        "id", (F.col("id") % 7).alias("k")
    )
    w_expr = Window.orderBy(F.pmod(F.col("id"), F.lit(13)))
    assert "global_window" in _rules(
        lint_plan(df.select(F.row_number().over(w_expr).alias("r")))
    )
    # partitioned twin with the same expression key stays clean
    w_part = Window.partitionBy("k").orderBy(F.pmod(F.col("id"), F.lit(13)))
    assert "global_window" not in _rules(
        lint_plan(df.select(F.row_number().over(w_part).alias("r")))
    )


def test_unpushed_filter_flagged_and_pushed_not(spark):
    from mapreduceindex_spark.session import load_table

    # rule needs a real FileScan: an earlier test may have left the
    # table persisted, which plans InMemoryTableScan instead
    spark.catalog.clearCache()
    docs = load_table(spark, SF_SMALL, "documents")
    # a filter on a computed expression cannot reach the parquet reader
    unpushed = docs.filter(F.length("text") % 7 == 3)
    assert "unpushed_filter" in _rules(lint_plan(unpushed))
    # a plain column comparison pushes down
    pushed = docs.filter(F.col("doc_id") > 10)
    assert "unpushed_filter" not in _rules(lint_plan(pushed))


def test_plan_stats_counts(spark):
    from mapreduceindex_spark.session import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    stats = plan_stats(
        docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    )
    assert stats["exchanges"] == 1
    assert stats["python_stages"] == 0


def test_registry_wide_no_cartesian_no_row_python(batch_query_plans):
    """Every batch registry query's finalized plan is free of the two
    hard anti-patterns, and unpartitioned windows appear only in the
    documented bounded-frame queries (offsets/rank frames whose input
    is key-space- or metadata-bounded, never row-count-bounded) — the
    PLANS.md audit as a standing CI gate instead of a per-round
    artifact."""
    # global windows over BOUNDED frames, documented per operator:
    # two-phase rank offsets (4^bits keys / rank buckets), compaction
    # bucket offsets (file metadata), top-spender rank (post-aggregate)
    GLOBAL_WINDOW_OK = {
        "zorder_layout",
        "zorder_skipping",
        "order_value_percent_rank",
        "compaction_plan",
        "customer_spend_quartiles",
        "top_spenders",
        "nation_revenue_share",
        "order_gaps",
        "customer_running_revenue",
        "postings_size",
        "quantity_median",
        "price_quantiles",
        "revenue_moving_avg",  # frame over the ~80-row monthly rollup
        "revenue_acf",  # row index over the ~2.5k-row daily rollup
        # (date-bounded at ANY scale factor: TPC-H spans ~7 years)
        "vocab_growth_curve",  # cumsum over the bucket frame — a plot
        # (size bucket_docs so the curve stays ~1e3 points; docstring)
        "domain_mixture",  # whole-frame total over source-cardinality agg
        "hybrid_search",  # rank frames over ≤ 2·k_each fused candidates
        "skyline_orders",  # exclusive cummax over ≤ n_buckets metadata rows
        # cumulative offsets over the ≤ 10001-row 4-dp quality-VALUE
        # histogram (the per-doc rank window partitions by value)
        "quality_reliability_curve",
        "rfm_segments",  # three NTILEs over the per-customer (dim) agg
        "abc_analysis",  # cumsum over the per-part (dim) agg
        "spend_gini",  # rank over the per-customer (dim) agg
        "token_zipf_fit",  # rank over the vocabulary agg
        "cumulative_unique_users",  # cumsum over the active-day frame
        "changepoint_scan",  # cumsum/ranks over the dense day grid
        "events_stl_decompose",  # MA frame over the day series (date-
        # bounded at any SF, the revenue_acf argument)
        "ranker_agreement",  # cumsum over the ≤ 1e6-row ppm-value
        # histograms (per-doc ranks attach via broadcast value join)
        "isotonic_calibration",  # cumsum over the ~15-row log2 buckets
        "theil_sen_trend",  # medians over the day-range-bounded
        # pair frame (<= ~3.3M rows at the 7-year TPC-H span)
    }
    bad = {}
    # streaming plans run inside the harness: not in batch_query_plans
    for name, df in batch_query_plans.items():
        rules = _rules(lint_plan(df))
        rules.discard("unpushed_filter")  # advisory, not a hard gate
        if name in GLOBAL_WINDOW_OK:
            rules.discard("global_window")
        if rules:
            bad[name] = sorted(rules)
    assert not bad, bad

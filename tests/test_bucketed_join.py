"""Bucketed co-located join: the orders ⨝ lineitem shuffle, paid at ingest.

Asserts the physical property that matters at 100 TB: two tables bucketed
on the join key with equal bucket counts sort-merge-join with ZERO
exchanges (broadcast disabled so the plan can't cheat at fixture scale).
"""

from __future__ import annotations

import contextlib
import io
import tempfile

from pyspark.sql import functions as F

from mapreduceindex_spark.session import load_table
from mapreduceindex_spark.sinks.bucketed import read_table, write_bucketed_table
from tests.conftest import SF_SMALL


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark):
    write_bucketed_table(
        load_table(spark, SF_SMALL, "orders"),
        "t_orders_b",
        "o_orderkey",
        8,
        tempfile.mkdtemp(prefix="bkt_o_"),
    )
    write_bucketed_table(
        load_table(spark, SF_SMALL, "lineitem").withColumnRenamed(
            "l_orderkey", "lk"
        ),
        "t_lineitem_b",
        "lk",
        8,
        tempfile.mkdtemp(prefix="bkt_l_"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = read_table(spark, "t_orders_b").join(
            read_table(spark, "t_lineitem_b"),
            F.col("o_orderkey") == F.col("lk"),
        )
        plan = _plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert "SelectedBucketsCount: 8 out of 8" in plan
        # correctness: same result as the plain (shuffled) join
        expect = (
            load_table(spark, SF_SMALL, "orders")
            .join(
                load_table(spark, SF_SMALL, "lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .count()
        )
        assert joined.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_index_lifecycle_stored_side_joins_without_exchange(spark):
    """The lifecycle merge must consume the STORED bucketed index with
    zero exchange: the only Exchange in the (unordered) merge plan is
    the delta side's aggregate shuffle, re-used by the join — the
    stored artifact is never reshuffled."""
    from mapreduceindex_spark.operators.inverted_index import (
        inverted_index,
        merge_index,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    write_bucketed_table(
        inverted_index(docs.filter("doc_id % 10 != 0"), ordered=False),
        "t_idx_lifecycle",
        "word",
        8,
        tempfile.mkdtemp(prefix="bkt_idx_"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # the delta aggregate's shuffle can serve the join only when it
        # has as many partitions as the stored index has buckets
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        merged = merge_index(
            read_table(spark, "t_idx_lifecycle"),
            docs.filter("doc_id % 10 = 0"),
            ordered=False,
        )
        plan = _plan_of(merged)
        assert "SortMergeJoin" in plan
        assert "SelectedBucketsCount: 8 out of 8" in plan
        # exactly ONE exchange NODE (formatted explain prints each node
        # twice — tree line + detail header): the delta aggregate's,
        # shared with the join; none over the stored scan
        import re

        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

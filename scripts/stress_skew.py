"""Skew stress for the salted join: manufacture a hot key (a configurable
share of a multiplied events table collapses onto user 1), then time the
PLAIN events ⋈ orders affinity aggregate against the salted execution and
assert result equality. Prints one JSON line.

The interesting number is plain vs salted wall time as hot-share grows:
the plain join funnels the hot key's entire output through one reduce
task, the salted join spreads it over ``salts`` tasks. On local[*] with
fast cores the gap is bounded by the single-task throughput; on a real
cluster the plain plan's hot task IS the stage time.

Usage: python scripts/stress_skew.py [multiplier] [hot_share_pct] [salts]
"""

from __future__ import annotations

import json
import os
import sys
import time

#: the checkout this script lives in — it runs that tree's code
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from mapreduceindex_spark.operators.layout import salted_affinity_join
from mapreduceindex_spark.session import get_spark, load_table


def main():
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    hot_pct = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    salts = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    spark = get_spark(app_name="stress_skew")
    # Model the 100 TB case: the probe side does NOT fit in a broadcast
    # (at sf0.1 orders would auto-broadcast, and broadcast joins are
    # skew-immune — the stress would measure nothing). AQE stays ON so
    # plain-vs-salted is judged against Spark's own mitigation.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    events = load_table(spark, "/root/testdata/sf0.1", "events").select(
        "event_id", "user_id", "event_type"
    )
    orders = load_table(spark, "/root/testdata/sf0.1", "orders")

    # multiply events, then collapse hot_pct% of rows onto user 1
    big = (
        events.select(
            "event_id",
            "user_id",
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("_c"),
        )
        .select(
            (F.col("event_id") * mult + F.col("_c")).alias("event_id"),
            F.when(
                F.pmod(F.col("event_id") * mult + F.col("_c"), 100) < hot_pct,
                F.lit(1),
            )
            .otherwise(F.col("user_id"))
            .cast("long")
            .alias("user_id"),
            "event_type",
        )
    )
    big.persist()
    n = big.count()

    def timed(fn):
        t0 = time.time()
        out = fn()
        return out, round(time.time() - t0, 2)

    def plain():
        return sorted(
            tuple(r)
            for r in (
                big.select("user_id", "event_type")
                .join(
                    orders.select(
                        F.col("o_custkey").alias("user_id"),
                        "o_orderpriority",
                        F.round(F.col("o_totalprice") * 100, 0)
                        .cast("long")
                        .alias("_cents"),
                    ),
                    "user_id",
                )
                .groupBy("event_type", "o_orderpriority")
                .agg(
                    F.count(F.lit(1)).alias("n_pairs"),
                    F.sum("_cents").alias("pair_price_cents"),
                )
                .collect()
            )
        )

    def salted():
        return sorted(
            tuple(r)
            for r in salted_affinity_join(
                big, orders, salts=salts, hot_top_k=20
            ).collect()
        )

    p_rows, p_sec = timed(plain)
    s_rows, s_sec = timed(salted)
    assert p_rows == s_rows, "salted result drifted from plain join"
    print(
        json.dumps(
            {
                "n_events": n,
                "hot_share_pct": hot_pct,
                "salts": salts,
                "plain_sec": p_sec,
                "salted_sec": s_sec,
                "n_output_groups": len(p_rows),
                "results_equal": True,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

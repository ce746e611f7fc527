"""Round-7 regression tests: the r06 ADVICE findings, pinned.

Each test targets one reviewed defect: containment_pairs' two adaptive
tiers must share a single shingle-df/cap basis (df over UNIQUE contents),
intra-clone pairs must reflect capped commons, skyline_orders must not
drop pre-1970 frontier points to a -1 sentinel, and merge_upsert must
fail loudly on duplicate change keys instead of fanning the snapshot out.
"""

import pytest

from tests.conftest import spark  # noqa: F401


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_containment_df_counts_unique_contents_in_collapsed_tier(spark):
    """A shingle shared by one clone-group (5 copies) and one other doc
    has df-over-copies 6 but df-over-unique-contents 2: under
    max_shingle_df=2 it must stay LIVE (the clone copies are one vote),
    so the cross pairs appear with the shingle counted."""
    from mapreduceindex_spark.operators.dedup import containment_pairs

    a = "x1 x2 x3 aa bb cc"        # 4 shingles, one shared
    b = "aa bb cc y1 y2"           # 3 shingles
    docs = _docs(
        spark,
        [(i, a, "en", "s", len(a)) for i in (1, 11, 12, 13, 14)]
        + [(2, b, "en", "s", len(b))],
    )
    got = {
        (r.doc_a, r.doc_b): (r.n_common, r.containment_ppm)
        for r in containment_pairs(
            docs, threshold_ppm=200_000, max_shingle_df=2
        ).collect()
    }
    for a_id in (1, 11, 12, 13, 14):
        # shared shingle live: C(a->b) = 1/4, C(b->a) = 1/3
        assert got[(a_id, 2)] == (1, 250_000)
        assert got[(2, a_id)] == (1, 333_333)
        # intra-clone: every shingle of the group is live (unique df 1)
        for b_id in (1, 11, 12, 13, 14):
            if a_id != b_id:
                assert got[(a_id, b_id)] == (4, 1_000_000)


def test_containment_intra_pairs_use_capped_commons(spark):
    """When a clone group's own shingle is capped OUT under the unified
    unique-contents df (df 3 > cap 2), intra-clone pairs must report the
    LIVE common count and live/total ppm — not a hardcoded 1e6 — exactly
    what a hash-join over every document would produce for the pair."""
    from mapreduceindex_spark.operators.dedup import containment_pairs

    a = "aa bb cc dd"      # shingles: aa-bb-cc (unique df 3), bb-cc-dd (df 1)
    b = "zz aa bb cc"      # zz-aa-bb (df 1), aa-bb-cc
    c = "qq aa bb cc"      # qq-aa-bb (df 1), aa-bb-cc
    docs = _docs(
        spark,
        [(i, a, "en", "s", len(a)) for i in (1, 11, 12)]
        + [(2, b, "en", "s", len(b)), (3, c, "en", "s", len(c))],
    )
    got = {
        (r.doc_a, r.doc_b): (r.n_common, r.containment_ppm)
        for r in containment_pairs(
            docs, threshold_ppm=400_000, max_shingle_df=2
        ).collect()
    }
    expected = {
        (x, y): (1, 500_000)
        for x in (1, 11, 12)
        for y in (1, 11, 12)
        if x != y
    }
    assert got == expected


def test_containment_direct_tier_shares_unique_df_basis(spark):
    """Shingle df counts unique contents, not copies, at low dup mass
    too (one clone in 23 docs): with A cloned once, the A-B shared
    shingle has df-over-copies 3 but unique df 2 — under cap 2 it must
    stay live, for the clone as for its rep."""
    from mapreduceindex_spark.operators.dedup import containment_pairs

    filler = [
        (100 + i, f"f{i}a f{i}b f{i}c f{i}d", "en", "s", 10) for i in range(20)
    ]
    a = "aa bb cc dd"
    b = "aa bb cc ee"
    docs = _docs(
        spark,
        filler
        + [
            (1, a, "en", "s", len(a)),
            (11, a, "en", "s", len(a)),  # the single clone: 23 docs, 22 groups
            (2, b, "en", "s", len(b)),
        ],
    )
    got = {
        (r.doc_a, r.doc_b): (r.n_common, r.containment_ppm)
        for r in containment_pairs(
            docs, threshold_ppm=400_000, max_shingle_df=2
        ).collect()
    }
    # shared shingle aa-bb-cc live (unique df 2): C = 1/2 each direction
    assert got[(1, 2)] == (1, 500_000)
    assert got[(2, 1)] == (1, 500_000)
    assert got[(11, 2)] == (1, 500_000)
    assert got[(1, 11)] == (2, 1_000_000)


def test_skyline_orders_pre1970_frontier_survives(spark):
    """The max-price order is frontier by definition (no higher price
    exists) even when its o_orderdate is pre-1970 (negative epoch) —
    the old -1 'no higher price' sentinel silently dominated it."""
    from mapreduceindex_spark.operators.relational import skyline_orders

    orders = spark.createDataFrame(
        [(1, 2.00, "1960-01-01"), (2, 1.00, "2024-01-01")],
        "o_orderkey long, o_totalprice double, d string",
    ).selectExpr(
        "o_orderkey", "o_totalprice", "CAST(d AS TIMESTAMP) AS o_orderdate"
    )
    got = {r.o_orderkey for r in skyline_orders(orders).collect()}
    assert got == {1, 2}


def test_merge_upsert_duplicate_change_keys_raise(spark):
    """SQL MERGE raises on multiple matches for one target row; a CDC
    batch carrying two change rows for the same key must fail loudly,
    not emit one merged row per duplicate."""
    from mapreduceindex_spark.operators.profiling import merge_upsert

    base = spark.createDataFrame([(1, "a"), (2, "b")], "o_orderkey long, v string")
    changes = spark.createDataFrame(
        [(2, "B", "upsert"), (2, "C", "upsert")],
        "o_orderkey long, v string, _op string",
    )
    with pytest.raises(Exception, match="duplicate"):
        merge_upsert(base, changes).collect()


def test_merge_upsert_unique_keys_still_clean(spark):
    """The guard must be invisible on well-formed batches."""
    from mapreduceindex_spark.operators.profiling import merge_upsert

    base = spark.createDataFrame([(1, "a"), (2, "b")], "o_orderkey long, v string")
    changes = spark.createDataFrame(
        [(2, "B", "upsert"), (1, "a", "delete"), (3, "c", "upsert")],
        "o_orderkey long, v string, _op string",
    )
    rows = {r.o_orderkey: r.v for r in merge_upsert(base, changes).collect()}
    assert rows == {2: "B", 3: "c"}

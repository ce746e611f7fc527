"""Round-11 optimization-round guards: scalar-memo invalidation, the
hardened plan fingerprint, adaptive scan spreading, the generalized CDC
chunker, the dotted-column profiling fix, and the memo-key hygiene line
(front-end memos only — never a declared query's output shape)."""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from mapreduceindex_spark.functions import caching


def test_full_release_clears_scalar_memos(spark):
    """caching.release() with no key is the documented invalidation for
    'data changed behind an identical plan' — it must clear the
    registered driver-side scalar memos (ADVICE r10: stale centroids /
    bounds / pressures survived release())."""
    from mapreduceindex_spark.operators import clustering, dedup, layout

    layout._BOUNDS_MEMO["fp"] = {"xlo": 0}
    dedup._FRONT_STATS["fp"] = (1, 1)
    dedup._FRONT_PRESSURE["fp|1000"] = 7
    clustering._KMEANS_MEMO["fp|8|5"] = (None, None, {})
    # keyed release must NOT wipe other families' model state
    caching.release("some_operator_key")
    assert layout._BOUNDS_MEMO and clustering._KMEANS_MEMO
    caching.release()
    assert not layout._BOUNDS_MEMO
    assert not dedup._FRONT_STATS
    assert not dedup._FRONT_PRESSURE
    assert not clustering._KMEANS_MEMO


def test_plan_fingerprint_distinguishes_plans(spark):
    """The memo key is semanticHash PLUS an md5 of the canonicalized
    plan text (ADVICE r10: a bare 32-bit semanticHash collision would
    silently serve the wrong cached frame)."""
    df = spark.range(100)
    a = caching.plan_fingerprint(df.filter(F.col("id") > 10))
    b = caching.plan_fingerprint(df.filter(F.col("id") > 11))
    same = caching.plan_fingerprint(df.filter(F.col("id") > 10))
    assert a == same
    assert a != b
    assert ":" in a  # hash:md5 structure


def test_spread_rows_adaptive(spark):
    """spread_rows repartitions a below-parallelism frame to session
    width and leaves an at-parallelism frame's plan alone (the no-op
    guarantee that makes it safe at real scale)."""
    from mapreduceindex_spark.functions.spread import spread_rows

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    wide_in = spark.range(1000).repartition(par)
    assert spread_rows(narrow, "id").rdd.getNumPartitions() == par
    assert spread_rows(wide_in, "id") is wide_in
    # values unchanged, only placement
    got = sorted(r["id"] for r in spread_rows(narrow, "id").collect())
    assert got == list(range(1000))


def test_cdc_chunk_dedup_window_param_matches_reference(spark):
    """The generalized row-local chunker must honor a non-default
    window: window=2 against the independent pure-Python reference
    (the same cross-check the default-window test runs)."""
    import string

    from mapreduceindex_spark.operators.dedup import cdc_chunk_dedup
    from tests.test_round9_ops import _cdc_reference

    shared = [a + b for a in string.ascii_lowercase[:8] for b in "xyz"][:40]
    doc1 = " ".join(shared)
    doc2 = "pre amble junk " + doc1
    docs = spark.createDataFrame(
        [
            (1, doc1, "en", "s", len(doc1)),
            (2, doc2, "en", "s", len(doc2)),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    got = [tuple(r) for r in cdc_chunk_dedup(docs, window=2).collect()]
    want = _cdc_reference(
        {1: shared, 2: "pre amble junk".split() + shared}, window=2
    )
    assert got == want


def test_profile_table_exact_handles_dotted_columns(spark):
    """profile_table(exact=True) on a schema whose column name contains
    a dot (legal) — the generated __nn_/__lo_/__hi_ references must be
    backtick-quoted or the select raises AnalysisException (ADVICE
    r10)."""
    from mapreduceindex_spark.operators.profiling import profile_table

    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (2, None)], ["a.b", "c.d"]
    )
    rows = {r["column"]: r for r in profile_table(df, exact=True).collect()}
    assert rows["a.b"]["n_distinct"] == 2
    assert rows["a.b"]["n_nulls"] == 0
    assert rows["c.d"]["n_nulls"] == 1


def test_memo_keys_are_front_ends_only():
    """Registry-hygiene line from the r10 verdict: the frame-memo keys
    must stay the closed set of shared FRONT ENDS. A new memo key means
    someone is caching something — this test forces the diff to declare
    it is an intermediate, not a declared query's output shape (pair
    results, curve rows, report frames are all output-shaped and must
    never be memoized)."""
    allowed = {
        "dedup_front",
        "dedup_sigs",
        "copurchase_edges",
        "zorder_keyed",
        "dhash_coarse",
        "winnow_fps",
        # inverted_index._query_front: the per-corpus postings (with df
        # and doc lengths) every index read filters — a shared front end,
        # not a query result (each read's output is built per call on top)
        "query_front",
    }
    pkg = Path(__file__).resolve().parents[1] / "mapreduceindex_spark"
    found = set()
    for py in pkg.rglob("*.py"):
        src = py.read_text()
        for m in re.finditer(
            r"caching\.memo\(\s*[\"']([a-z_]+)[\"']", src
        ):
            found.add(m.group(1))
    assert found == allowed, (
        f"memo keys changed: {sorted(found ^ allowed)} — if this is a new "
        "shared front end, extend the allowlist with a review note; if it "
        "caches a query-result-shaped frame, remove it (optimization-"
        "round policy: front-end memo only)"
    )


def test_token_pagerank_probe_job_shape(spark):
    """token_pagerank after the r11 job fusion must still match the
    unrolled integer recurrence on a tiny hand corpus (dangling mass
    redistributed, closed-form round-0 dangling sum)."""
    from mapreduceindex_spark.operators.graph import token_pagerank

    docs = spark.createDataFrame(
        [(1, "a b c", "en", "s", 5), (2, "b c", "en", "s", 3),
         (3, "d", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    rows = {r["token"]: r["rank_micro"]
            for r in token_pagerank(docs, iters=2, top_k=10).collect()}
    # hand replay: nodes {a,b,c,d}, edges a->b(1), b->c(2); out_w a=1,b=2
    # dangling {c,d}; N=4, SCALE//N = 250000, base=(15*1e6//100)//4=37500
    r0 = {t: 250000 for t in "abcd"}
    for _ in range(2):
        ds = r0["c"] + r0["d"]
        contrib = {"b": r0["a"] * 1 // 1, "c": r0["b"] * 2 // 2}
        r1 = {}
        for t in "abcd":
            r1[t] = 37500 + 85 * (contrib.get(t, 0) + ds // 4) // 100
        r0 = r1
    assert rows == r0


def test_memo_rebuilds_when_jsc_is_nulled_by_stop():
    """SparkContext.stop() nulls ``_jsc`` — the real post-recycle state
    (the r10 fake only modeled ``isStopped()``; the r11 full bench
    crashed on exactly this gap). Frames whose owning context has
    ``_jsc is None`` must rebuild; a session WITHOUT a classic context
    at all (Spark Connect — ``.sparkContext`` raises) must be treated
    as live, not rebuilt every call."""
    from types import SimpleNamespace

    from mapreduceindex_spark.functions import caching

    def frame(ctx):
        return SimpleNamespace(
            storageLevel=SimpleNamespace(useMemory=True, useDisk=False),
            sparkSession=ctx,
            unpersist=lambda: None,
        )

    builds = []

    class _StoppedSession(SimpleNamespace):
        pass

    stopped_ctx = _StoppedSession(
        sparkContext=SimpleNamespace(_jsc=None)
    )

    class _ConnectSession:
        @property
        def sparkContext(self):
            raise RuntimeError("sparkContext is not supported in Connect")

    def build_stopped():
        builds.append("s")
        return [frame(stopped_ctx)]

    caching.release("t_jsc_none")
    caching.memo("t_jsc_none", "fp", build_stopped)
    caching.memo("t_jsc_none", "fp", build_stopped)
    assert builds == ["s", "s"]  # _jsc=None => stale, rebuilt
    caching.release("t_jsc_none")

    builds.clear()
    connect = _ConnectSession()

    def build_connect():
        builds.append("c")
        return [frame(connect)]

    caching.release("t_connect")
    f1 = caching.memo("t_connect", "fp", build_connect)[0]
    f2 = caching.memo("t_connect", "fp", build_connect)[0]
    assert builds == ["c"] and f1 is f2  # Connect: storage probe only
    caching.release("t_connect")

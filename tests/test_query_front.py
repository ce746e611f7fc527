"""The memoized per-corpus query front behind the index reads.

``search_docs``, ``bm25_search``, ``phrase_search`` and
``positional_index`` answer from one persisted postings front built
once per corpus (``inverted_index._query_front``), partitioned by
doc_id. These tests pin the front's contract: repeat reads skip the
build, every read kind shares one front, a warm read starts a fixed
number of jobs with no doc_id exchange or range sort, a different
corpus gets its own results, results are ranked across partitions,
``caching.release()`` rebuilds correctly, the live caches stay
bounded, ``caching.stats()`` counts the front's builds and hits, a
warm read with new terms reuses its compiled code, the phrase merge
chain is evaluated once, the build runs one window, and BM25 stays
bit-identical to its DuckDB twin on an edge corpus.
"""

from __future__ import annotations

import re

import duckdb
import pytest

import __spark_entry__ as entrymod
from mapreduceindex_spark.functions import caching
from mapreduceindex_spark.operators import inverted_index as II

CORPUS_A = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "The lazy dog sleeps; the quick fox runs."),
    (3, "quick quick QUICK brown cows"),
    (4, "a fox, a dog, a quick brown fox"),
    (5, "123 !!! ..."),
]
CORPUS_B = [
    (10, "red green blue"),
    (11, "green green apples and blue skies"),
    (12, "the fox is not here"),
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def _words(text):
    norm = (re.sub("[^a-zA-Z]", "", t).lower() for t in text.split())
    return [w for w in norm if w]


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _search_oracle(rows, terms, mode="any"):
    norm = {w for t in terms for w in _words(t)}
    hits = []
    for doc_id, text in rows:
        n = len(norm & set(_words(text)))
        if n and (mode == "any" or n == len(norm)):
            hits.append((doc_id, n))
    return sorted(hits, key=lambda r: (-r[1], r[0]))


def _phrase_oracle(rows, phrase):
    target = _words(phrase)
    k = len(target)
    hits = []
    for doc_id, text in rows:
        ws = _words(text)
        n = sum(ws[i : i + k] == target for i in range(len(ws) - k + 1))
        if n:
            hits.append((doc_id, n))
    return sorted(hits, key=lambda r: (-r[1], r[0]))


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _own_operators(plan, describe=lambda op: op.simpleString(25)):
    """Descriptions of a read's executed physical operators, down to,
    not into, the cached front's scan: one line each by default."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _own_operators(plan.executedPlan(), describe)
    if name.endswith("QueryStage"):
        return _own_operators(plan.plan(), describe)
    ops = [describe(plan)]
    if name != "InMemoryTableScan":
        kids = plan.children()
        for i in range(kids.size()):
            ops += _own_operators(kids.apply(i), describe)
    return ops


def _plan_nodes(plan):
    """Node names of an executed plan, through AQE wrappers, query
    stages and into the cached plan under an InMemoryTableScan."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _plan_nodes(plan.executedPlan())
    if name.endswith("QueryStage"):
        return _plan_nodes(plan.plan())
    if name == "InMemoryTableScan":
        return [name] + _plan_nodes(plan.relation().cachedPlan())
    names = [name]
    kids = plan.children()
    for i in range(kids.size()):
        names += _plan_nodes(kids.apply(i))
    return names


def _evaluated(op):
    """Every expression an operator evaluates, as one string (an
    aggregate's one-line description omits its result expressions)."""
    exprs = op.expressions()
    return " ".join(exprs.apply(i).toString() for i in range(exprs.size()))


def _persisted_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_repeat_read_starts_fewer_jobs(spark):
    caching.release()
    docs = _docs(spark, CORPUS_A)
    reads = {
        "bm25": lambda: II.bm25_search(docs, "quick fox").collect(),
        "search": lambda: II.search_docs(docs, ["quick", "fox"]).collect(),
        "phrase": lambda: _rows(II.phrase_search_indexed(docs, "quick brown")),
    }
    cold, cold_jobs = _jobs_in_group(spark, "qf-cold", reads["bm25"])
    warm, warm_jobs = _jobs_in_group(spark, "qf-warm", reads["bm25"])
    assert warm == cold
    assert 0 < warm_jobs < cold_jobs
    # the other reads share the front bm25 built: no build jobs either
    for name in ("search", "phrase"):
        _, first = _jobs_in_group(spark, f"qf-{name}-1", reads[name])
        _, again = _jobs_in_group(spark, f"qf-{name}-2", reads[name])
        assert first == again


#: jobs a warm read starts: the ranking shuffle's map stage + the
#: result stage for search and phrase; one TakeOrdered job for bm25
WARM_READ_JOBS = {"search": 2, "phrase": 2, "bm25": 1}


def test_warm_read_plan_contract(spark):
    caching.release()
    docs = _docs(spark, CORPUS_A)
    reads = {
        "search": lambda: II.search_docs(docs, ["quick", "fox"], "all"),
        "phrase": lambda: II.phrase_search_indexed(docs, "quick brown"),
        "bm25": lambda: II.bm25_search(docs, "quick fox"),
    }
    for read in reads.values():
        read().collect()  # build the front
    for name, read in reads.items():
        df = read()
        _, jobs = _jobs_in_group(spark, f"qf-plan-{name}", df.collect)
        assert jobs == WARM_READ_JOBS[name], name
        ops = _own_operators(df._jdf.queryExecution().executedPlan())
        assert ops[-1].startswith("InMemoryTableScan"), (name, ops)
        for op in ops:
            low = op.lower()
            assert "rangepartitioning" not in low, (name, op)
            assert not (
                op.startswith("Exchange") and "partitioning(doc_id" in low
            ), (name, op)


def _compiles(spark):
    """Janino compilations so far (cache hits do not count)."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return codegen.METRIC_COMPILATION_TIME().getCount()


#: per read kind, lists of queries with the same term count: the first
#: warms the compiled code, the others bring new terms
SAME_SHAPE_READS = {
    "search": (
        lambda docs, q: II.search_docs(docs, q.split()),
        [["quick fox", "lazy dog", "brown cows"]],
    ),
    "phrase": (
        II.phrase_search_indexed,
        [["quick brown", "lazy dog", "a fox"]],
    ),
    "bm25": (
        II.bm25_search,
        [
            ["fox", "dog", "cows"],
            ["quick fox", "lazy dog", "brown the"],
            ["quick fox dog", "the lazy brown", "jumps over sleeps"],
        ],
    ),
}


def test_warm_reads_reuse_compiled_code(spark):
    caching.release()
    docs = _docs(spark, CORPUS_A)
    for name, (read, groups) in SAME_SHAPE_READS.items():
        for warm, *others in groups:
            read(docs, warm).collect()
            before = _compiles(spark)
            for q in others:
                df = read(docs, q)
                assert df.collect(), (name, q)
                if name == "bm25":
                    # each posting's score is computed once, and the
                    # filter above does not copy the score tree
                    plan = df._jdf.queryExecution().executedPlan()
                    lns = sum(
                        op.count("ln(") for op in _own_operators(plan)
                    )
                    assert lns == 1, (q, lns)
            assert _compiles(spark) == before, (name, others)


@pytest.mark.parametrize("phrase", ["the lazy", "quick brown fox"])
def test_phrase_chain_evaluated_once(spark, phrase):
    """The n-term phrase's n-1 ``array_intersect`` merges sit in the
    doc-keyed aggregate's result, so the ``n_hits > 0`` filter above
    cannot be pushed down into a second copy of the chain."""
    caching.release()
    docs = _docs(spark, CORPUS_A)
    df = II.phrase_search(docs, phrase)
    assert _rows(df) == _phrase_oracle(CORPUS_A, phrase)
    plan = df._jdf.queryExecution().executedPlan()
    chains = sum(
        op.count("array_intersect(")
        for op in _own_operators(plan, _evaluated)
    )
    assert chains == len(phrase.split()) - 1, chains


def _positional_oracle(rows):
    out = []
    for doc_id, text in rows:
        slots = {}
        for pos, w in enumerate(_words(text)):
            slots.setdefault(w, []).append(pos)
        for w, ps in slots.items():
            out.append((w, doc_id, len(ps), " ".join(map(str, ps))))
    return sorted(out)


def test_reads_share_one_front(spark, tmp_path):
    """phrase_search and positional_index reuse the front a search
    built (no build, one hit each, one live frame); after
    ``caching.release()`` positional_index follows a corpus replaced
    behind an identical plan."""
    caching.release()
    path = str(tmp_path / "docs")
    _docs(spark, CORPUS_A).write.parquet(path)
    docs = spark.read.parquet(path)
    II.search_docs(docs, ["fox"]).collect()
    reads = {
        "phrase": lambda: _rows(II.phrase_search(docs, "lazy dog")),
        "positional": lambda: _rows(II.positional_index(docs)),
    }
    want = {
        "phrase": _phrase_oracle(CORPUS_A, "lazy dog"),
        "positional": _positional_oracle(CORPUS_A),
    }
    for name, read in reads.items():
        before = caching.stats()["query_front"]
        assert read() == want[name], name
        after = caching.stats()["query_front"]
        assert after["builds"] == before["builds"], name
        assert after["hits"] == before["hits"] + 1, name
        assert after["live_frames"] == 1, name
    fingerprint = caching.plan_fingerprint(docs)
    _docs(spark, CORPUS_B).write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    # the memo cannot see the new files: the plan is the same
    assert caching.plan_fingerprint(docs) == fingerprint
    caching.release()
    assert _rows(II.positional_index(docs)) == _positional_oracle(CORPUS_B)
    assert caching.stats()["query_front"]["live_frames"] == 1
    caching.release()


def test_memo_stats_count_builds_and_hits(spark):
    caching.release()
    zero = {"builds": 0, "hits": 0}
    start = caching.stats().get("query_front", zero)
    docs_a = _docs(spark, CORPUS_A)
    for _ in range(10):
        II.search_docs(docs_a, ["fox"]).collect()
    st = caching.stats()["query_front"]
    assert st["builds"] - start["builds"] == 1
    assert st["hits"] - start["hits"] == 9
    assert st["live_frames"] == 1
    assert st["fingerprint"] == caching.plan_fingerprint(docs_a)
    docs_b = _docs(spark, CORPUS_B)
    II.search_docs(docs_b, ["fox"]).collect()
    st = caching.stats()["query_front"]
    assert st["builds"] - start["builds"] == 2
    assert st["hits"] - start["hits"] == 9
    assert st["live_frames"] == 1
    assert st["fingerprint"] == caching.plan_fingerprint(docs_b)
    caching.release()
    st = caching.stats()["query_front"]
    assert st["fingerprint"] is None and st["live_frames"] == 0
    assert st["builds"] - start["builds"] == 2


def test_search_rejects_unknown_mode(spark):
    docs = _docs(spark, CORPUS_A)
    for mode in ("ALL", "Any", "every", ""):
        with pytest.raises(ValueError, match="mode"):
            II.search_docs(docs, ["fox"], mode)
    # checked before the empty-terms early return
    with pytest.raises(ValueError, match="mode"):
        II.search_docs(docs, ["!!!"], "ALL")


def test_results_follow_the_corpus(spark):
    caching.release()
    for rows in (CORPUS_A, CORPUS_B, CORPUS_A):
        docs = _docs(spark, rows)
        terms = ["Fox", "dog", "green"]
        for mode in ("any", "all"):
            got = _rows(II.search_docs(docs, terms, mode))
            assert got == _search_oracle(rows, terms, mode)
        for phrase in ("quick brown", "green apples", "the fox"):
            got = _rows(II.phrase_search_indexed(docs, phrase))
            assert got == _phrase_oracle(rows, phrase)


def test_release_forces_a_correct_rebuild(spark):
    caching.release()
    docs = _docs(spark, CORPUS_A)
    before = _rows(II.bm25_search(docs, "lazy dog"))
    assert "query_front" in caching._LIVE
    caching.release()
    assert "query_front" not in caching._LIVE
    assert not II._FRONT_STATS
    after = _rows(II.bm25_search(docs, "lazy dog"))
    assert after == before and after
    assert "query_front" in caching._LIVE
    got = _rows(II.search_docs(docs, ["lazy"]))
    assert got == _search_oracle(CORPUS_A, ["lazy"])


def test_live_frames_bounded_across_alternating_corpora(spark):
    caching.release()
    corpora = [(_docs(spark, rows), rows) for rows in (CORPUS_A, CORPUS_B)]
    census = []
    for i in range(20):
        docs, rows = corpora[i % 2]
        got = _rows(II.search_docs(docs, ["fox", "green"]))
        assert got == _search_oracle(rows, ["fox", "green"])
        live = len(caching._LIVE.get("query_front", []))
        census.append((live, _persisted_rdds(spark)))
        assert len(II._FRONT_STATS) == 1
    assert {n for n, _ in census} == {1}
    assert census[-1][1] <= census[1][1]


def test_empty_query_builds_nothing(spark):
    caching.release()
    docs = _docs(spark, CORPUS_A)
    out, jobs = _jobs_in_group(
        spark, "qf-empty", lambda: _rows(II.search_docs(docs, ["42", "!!!"]))
    )
    assert out == [] and jobs == 0
    assert "query_front" not in caching._LIVE
    fields = II.search_docs(docs, [], mode="all").schema.fields
    assert [(f.name, f.dataType.simpleString()) for f in fields] == [
        ("doc_id", "bigint"),
        ("n_matched", "bigint"),
    ]


def test_front_is_partition_count_blind(spark):
    docs = _docs(spark, CORPUS_A)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    runs = []
    try:
        for parts in ("1", "7"):
            caching.release()
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            runs.append(
                (
                    II.bm25_search(docs, "quick brown dog").collect(),
                    II.search_docs(docs, ["quick", "dog"], "all").collect(),
                    II.phrase_search_indexed(docs, "the lazy dog").collect(),
                )
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        caching.release()
    assert runs[0] == runs[1]


#: 48 docs from four texts, under scattered doc_ids: many docs tie on
#: n_matched / n_hits, and each tie group spans the front's partitions
TIES = [
    (
        (i * 37) % 101 + 1,
        [
            "red fox red fox",
            "red fox and a red dog",
            "a blue dog",
            "red fox red fox red fox dog",
        ][i % 4],
    )
    for i in range(48)
]


def test_ranking_ties_ordered_across_partitions(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        caching.release()
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        docs = _docs(spark, TIES)
        front = II._query_front(docs).postings
        assert front.rdd.getNumPartitions() > 1
        for terms in (["red", "dog"], ["fox", "dog", "a"]):
            for mode in ("any", "all"):
                got = _rows(II.search_docs(docs, terms, mode))
                assert got == _search_oracle(TIES, terms, mode)
                assert len(got) >= 12
        for phrase in ("red fox", "fox red", "a blue dog"):
            got = _rows(II.phrase_search_indexed(docs, phrase))
            assert got == _phrase_oracle(TIES, phrase)
            assert len(got) >= 12
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        caching.release()


#: BM25 edge corpus: docs whose every token normalizes to '' (they stay
#: out of N and avgdl), identical texts whose scores tie across the
#: top_k cut, repeated terms (tf > 1) and a doc holding every term.
EDGE = [
    (1, "zebra quark zebra lorem"),
    (2, "42 !!! ..."),
    (3, ""),
    (4, "Quark ipsum dolor"),
    (5, "tie tie zebra"),
    (6, "tie tie zebra"),
    (7, "tie tie zebra"),
    (8, "tie tie zebra"),
    (9, "lorem ipsum dolor sit amet consectetur"),
    (10, "QUARK quark, quark; zebra's"),
    (11, "   "),
]


@pytest.mark.parametrize(
    "query, top_k",
    [
        ("zebra quark", 20),
        ("ZEBRA zebra Zebra quark absentterm", 20),
        ("zebra", 4),  # the cut falls inside the four tied docs
        ("tie zebra", 2),
        ("absentterm nothere", 5),
        ("quark 42 !!!", 3),
    ],
)
def test_bm25_bit_identical_to_duckdb_twin(spark, query, top_k):
    caching.release()
    docs = _docs(spark, EDGE)
    got = _rows(II.bm25_search(docs, query, top_k=top_k))
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", EDGE)
        sql = entrymod._bm25_sql(query, top_k=top_k)
        want = [tuple(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()
    assert got == want  # exact doubles, no tolerance
    if query.startswith("absentterm"):
        assert got == []
    if query == "zebra":
        # docs 5-8 tie; the cut keeps the lowest doc_ids among them
        assert [d for d, _, _ in got] == [1, 5, 6, 7]
        assert len({s for _, _, s in got[1:]}) == 1


def test_front_constants_skip_docs_without_words(spark):
    """N and avgdl count only docs with at least one normalized word."""
    caching.release()
    front = II._query_front(_docs(spark, EDGE))
    assert front.n_docs == sum(1 for _, t in EDGE if _words(t)) == 8
    assert front.total_tokens == sum(len(_words(t)) for _, t in EDGE)
    dfs = dict(_rows(front.postings.select("w", "df").distinct()))
    assert dfs["zebra"] == sum(1 for _, t in EDGE if "zebra" in _words(t))
    dls = dict(_rows(front.postings.select("doc_id", "dl").distinct()))
    assert dls == {d: len(_words(t)) for d, t in EDGE if _words(t)}


def test_front_build_runs_one_window(spark):
    """``dl`` is the word rows' ``nw`` carried through the (w, doc_id)
    aggregate: the front's build runs one window (``df`` over ``w``)
    and sorts only for it, and still ships postings keyed by doc_id."""
    caching.release()
    front = II._query_front(_docs(spark, CORPUS_A))
    nodes = _plan_nodes(front.postings._jdf.queryExecution().executedPlan())
    assert nodes[0] == "InMemoryTableScan", nodes
    assert nodes.count("Window") == 1, nodes
    assert nodes.count("Sort") == 1, nodes
    fields = [(f.name, f.dataType.simpleString()) for f in front.postings.schema]
    assert fields == [
        ("w", "string"),
        ("doc_id", "bigint"),
        ("positions", "array<bigint>"),
        ("df", "bigint"),
        ("dl", "bigint"),
    ]

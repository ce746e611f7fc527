"""Property-based tests (hypothesis) for the scalar tokenization core.

The reference's checker is golden-based; these add the algebraic
invariants a golden corpus can't probe: idempotence, engine-vs-Python
agreement on arbitrary inputs, and set-theoretic bounds. Examples are
bounded (short strings, small batches) so the shared Spark session keeps
each property under a second.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from mapreduceindex_spark.functions.text import (
    has_words,
    normalize_token,
    word_ngrams,
    word_rows,
    words,
)

#: Printable-ASCII-plus-whitespace text, the reference's input domain.
TEXTS = st.text(
    alphabet=st.characters(min_codepoint=9, max_codepoint=126),
    max_size=80,
)

SETTINGS = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _py_normalize(tok: str) -> str:
    return re.sub("[^a-zA-Z]", "", tok).lower()


def _py_words(text: str) -> list[str]:
    # NB: split on the C/Java whitespace class [ \t\n\v\f\r], NOT Python's
    # re \s — Python additionally treats \x1c-\x1f as whitespace, which
    # neither Java regex nor the reference's fscanf/isspace do. (Found by
    # hypothesis: 'A\x1fA' is ONE token to the engine and the C binary.)
    return [
        w
        for w in (
            _py_normalize(t) for t in re.split("[ \t\n\x0b\x0c\r]+", text)
        )
        if w
    ]


@given(batch=st.lists(TEXTS, min_size=1, max_size=8))
@SETTINGS
def test_words_matches_python_reference(spark, batch):
    df = spark.createDataFrame([(t,) for t in batch], ["text"])
    rows = df.select(
        words(F.col("text")).alias("w"), has_words(F.col("text")).alias("h")
    ).collect()
    assert [r["w"] for r in rows] == [_py_words(t) for t in batch]
    assert [r["h"] for r in rows] == [bool(_py_words(t)) for t in batch]

    # the word-position front end and the n-gram builder over it, against
    # slices of the same Python word lists: strict n-grams, and the
    # shingles that add each short doc's all-words gram
    from mapreduceindex_spark.operators.dedup import doc_shingles

    docs = spark.createDataFrame(
        list(enumerate(batch)), "doc_id BIGINT, text STRING"
    )
    py = {i: _py_words(t) for i, t in enumerate(batch)}
    rows = word_rows(docs)
    got = sorted(tuple(r) for r in rows.select("doc_id", "pos", "w", "nw").collect())
    assert got == sorted(
        (i, p, w, len(ws)) for i, ws in py.items() for p, w in enumerate(ws)
    )
    grams = word_ngrams(rows, 2).select(F.lit(2).alias("n"), "doc_id", "pos", "ng")
    for n in (1, 3):
        grams = grams.unionByName(
            word_ngrams(rows, n).select(F.lit(n).alias("n"), "doc_id", "pos", "ng")
        )
    got = sorted(tuple(r) for r in grams.collect())
    assert got == sorted(
        (n, i, p, " ".join(ws[p : p + n]))
        for n in (1, 2, 3)
        for i, ws in py.items()
        for p in range(len(ws) - n + 1)
    )
    got = sorted(tuple(r) for r in doc_shingles(docs, 3, distinct=False).collect())
    assert got == sorted(
        (i, " ".join(ws[p : p + 3]))
        for i, ws in py.items()
        for p in range(max(len(ws) - 3, 0) + 1)
        if ws
    )


@given(batch=st.lists(TEXTS, min_size=1, max_size=8))
@SETTINGS
def test_normalize_idempotent(spark, batch):
    df = spark.createDataFrame([(t,) for t in batch], ["tok"])
    once = [r[0] for r in df.select(normalize_token("tok")).collect()]
    df2 = spark.createDataFrame([(t,) for t in once], ["tok"])
    twice = [r[0] for r in df2.select(normalize_token("tok")).collect()]
    assert once == twice


@given(batch=st.lists(TEXTS.filter(lambda t: t.strip()), min_size=2, max_size=6))
@SETTINGS
def test_inverted_index_df_bounds(spark, batch):
    from mapreduceindex_spark.operators.inverted_index import inverted_index

    docs = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(batch)], ["doc_id", "text"]
    )
    rows = inverted_index(docs).collect()
    n_docs = len(batch)
    vocab = set().union(*(set(_py_words(t)) for t in batch))
    assert {r["word"] for r in rows} == vocab
    for r in rows:
        assert 1 <= r["df"] <= n_docs
        assert r["df"] == len(r["doc_ids"]) == len(set(r["doc_ids"]))
        assert all(1 <= d <= n_docs for d in r["doc_ids"])


# ---------------------------------------------------------------------------
# round 7: containment_pairs clone-collapse property — at every clone
# mass hypothesis draws (none included, where the expansion is the
# identity), the output must equal the brute-force ordered-pair join
# computed over the SAME unified df basis (df over unique contents,
# max_shingle_df cap, containment = live-common / total-shingles).
# ---------------------------------------------------------------------------

_W4 = ["aa", "bb", "cc", "dd"]


def _py_shingles(tokens, n=3):
    if not tokens:
        return set()
    if len(tokens) <= n:
        return {" ".join(tokens)}
    return {" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)}


def _py_containment(docs, n=3, thr_ppm=250_000, cap=2):
    sh = {i: _py_shingles(t.split()) if t else set() for i, t in docs.items()}
    df = {}
    for text in {t for t in docs.values()}:
        for s in _py_shingles(text.split() if text else []):
            df[s] = df.get(s, 0) + 1
    live = {s for s, c in df.items() if c <= cap}
    out = {}
    for a, sa in sh.items():
        if not sa:
            continue
        for b, sb in sh.items():
            if a == b:
                continue
            common = len(sa & sb & live)
            if common == 0:
                continue
            ppm = common * 1_000_000 // len(sa)
            if ppm >= thr_ppm:
                out[(a, b)] = (common, ppm)
    return out


@given(
    base=st.lists(
        st.lists(st.sampled_from(_W4), max_size=6), min_size=1, max_size=6
    ),
    clones=st.lists(st.integers(min_value=0, max_value=5), max_size=6),
)
@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_containment_pairs_matches_bruteforce_any_tier(spark, base, clones):
    from mapreduceindex_spark.operators.dedup import containment_pairs

    texts = [" ".join(t) for t in base]
    for c in clones:
        if c < len(base):
            texts.append(" ".join(base[c]))
    docs = {i + 1: t for i, t in enumerate(texts)}
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        (r.doc_a, r.doc_b): (r.n_common, r.containment_ppm)
        for r in containment_pairs(
            df, threshold_ppm=250_000, max_shingle_df=2
        ).collect()
    }
    assert got == _py_containment(docs)

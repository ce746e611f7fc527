"""Text column functions — the engine's scalar tokenization surface.

Semantics match the reference mapper bit-for-bit (SURVEY.md §2 O3–O5):

- tokenize: split on any whitespace run (space/tab/newline) —
  reference ``src/mapper.c:55`` (``fscanf("%255s")``).
- normalize: keep only ASCII letters *anywhere* in the token, then
  lowercase — reference ``src/mapper.c:56-64`` (``isalpha`` loop +
  ``tolower``). ASCII class ``[^a-zA-Z]``, deliberately NOT ``\\p{L}``:
  the reference uses C ``isalpha`` on ASCII input.
- filter: drop tokens that normalize to the empty string —
  reference ``src/mapper.c:66-69``.

All of these are pure Catalyst expressions (whole-stage-codegen'd,
JVM-side); no Python executes per row.

Two row-wise front ends turn a documents table into rows, so every
consumer tokenizes the same way:

- :func:`token_rows` — one row per RAW whitespace token, with its
  normalized word (possibly empty): the inverted index's map side and
  the raw-token statistics.
- :func:`word_rows` — one row per non-empty normalized word, with its
  position and the doc's word count: the positional consumers (the
  query front, shingles, n-gram quality and contamination operators).
  :func:`word_ngrams` builds the strict word n-grams over those rows.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Java regex for "one or more whitespace chars" — mirrors fscanf %s delimiters.
WHITESPACE_RE = r"\s+"

#: ASCII-letters-only normalization class (reference mapper.c:60 `isalpha`).
NON_ALPHA_RE = "[^a-zA-Z]"


def tokenize(text: Column | str) -> Column:
    """Raw whitespace tokens of ``text`` as ``array<string>``.

    May contain empty strings at the edges (leading/trailing whitespace);
    downstream normalization filters them.
    """
    return F.split(text, WHITESPACE_RE)


def normalize_token(tok: Column | str) -> Column:
    """Reference word normalization: strip non-ASCII-letters anywhere, lowercase.

    ``That's`` → ``thats``; ``123ab`` → ``ab``; ``42`` → ``''``.
    """
    return F.lower(F.regexp_replace(tok, NON_ALPHA_RE, ""))


def words(text: Column | str) -> Column:
    """Normalized, non-empty words of ``text`` as ``array<string>``.

    One expression tree (split → transform → filter), fully codegen'd —
    no explode needed until the caller wants rows.
    """
    return F.filter(
        F.transform(tokenize(text), normalize_token),
        lambda w: F.length(w) > 0,
    )


def has_words(text: Column) -> Column:
    """Whether ``words(text)`` is non-empty, decided without tokenizing:
    a token normalizes to a word iff it holds an ASCII letter (the
    complement of ``NON_ALPHA_RE``), and every letter sits in some
    token, so one regex find answers it."""
    return text.rlike("[a-zA-Z]")


def token_rows(documents, text_col: str = "text", id_col: str = "doc_id", *extra_cols: str):
    """One row per raw whitespace token: (doc_id, extra..., tok, word).

    The raw-token front end — the flagship index, text analysis,
    simhash, and the streaming index all consume this. ``word`` may be
    empty (callers filter or count conditionally so raw-token
    statistics stay available). Consumers that need word POSITIONS use
    :func:`word_rows` instead, whose positions skip the empty words.
    """
    import pyspark.sql.functions as _F

    return documents.select(
        _F.col(id_col).alias("doc_id"),
        *extra_cols,
        _F.explode(_F.split(_F.col(text_col), WHITESPACE_RE)).alias("tok"),
    ).select(
        "doc_id",
        *extra_cols,
        "tok",
        normalize_token("tok").alias("word"),
    )


def word_rows(documents, *extra_cols: str):
    """One row per non-empty normalized word: (doc_id, extra..., nw, pos, w).

    The word-position front end: ``pos`` is the 0-based index into
    ``words(text)`` (empty-normalized tokens never get a position, so
    consecutive positions are adjacent words) and ``nw`` is the doc's
    word count, ``size(words(text))``. Documents with no words yield no
    rows. One codegen'd projection + ``posexplode``, no exchange.
    """
    return documents.select(
        "doc_id", *extra_cols, words(F.col("text")).alias("ws")
    ).select(
        "doc_id",
        *extra_cols,
        F.size("ws").alias("nw"),
        F.posexplode("ws").alias("pos", "w"),
    )


def word_ngrams(rows, n: int):
    """Strict word ``n``-grams over :func:`word_rows` rows: every input
    column plus ``ng``, the space-joined words ``pos … pos+n−1``, for
    each ``pos <= nw − n`` (docs shorter than ``n`` words give none).

    Built from ``lead()`` neighbors over a per-doc window ordered by
    ``pos`` — linear and whole-stage codegen'd, one exchange on doc_id;
    slices of the word array inside ``transform`` measured no faster.
    ``concat_ws`` skips NULL leads, so a caller that raises ``nw`` to
    ``n`` for short docs gets their all-words gram at ``pos = 0``
    (``dedup.doc_shingles``' short-doc rule).
    """
    from pyspark.sql.window import Window

    win = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", j).over(win) for j in range(1, n)]
    return rows.select("*", F.concat_ws(" ", *parts).alias("ng")).filter(
        F.col("pos") <= F.col("nw") - n
    )


def stable_hash64(col: Column | str, *, bits: int = 60) -> Column:
    """Deterministic, engine-independent 64-bit-ish hash of a string column.

    Built from the first 15 hex digits of md5 (< 2^60, always fits a signed
    BIGINT). Chosen over ``F.hash``/``F.xxhash64`` because the *same* value is
    reproducible in any SQL engine (the DuckDB oracle computes
    ``('0x' || substr(md5(x),1,15))::BIGINT``), which makes MinHash/SimHash
    pipelines cross-checkable. md5 here is a hash, not cryptography.
    """
    n_hex = bits // 4
    return F.conv(F.substring(F.md5(col), 1, n_hex), 16, 10).cast("long")


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles of ``text`` as ``array<string>`` (space-joined).

    Implemented as a zip of the word array against itself shifted — pure
    Catalyst (transform over sequence), no UDF. Documents shorter than ``n``
    words yield a single shingle of all their words, so every doc has ≥1
    shingle (keeps Jaccard well-defined).
    """
    ws = words(text)
    k = F.size(ws)
    idx = F.sequence(F.lit(0), F.greatest(k - n, F.lit(0)))
    return F.when(k <= n, F.array(F.array_join(ws, " "))).otherwise(
        F.transform(idx, lambda i: F.array_join(F.slice(ws, i + 1, n), " "))
    )

"""Seeded input generator for the benchmark workloads.

Pure Python, one process, no Spark: the engine only ever sees the files
written here. The same ``(workload, seed, size)`` always produces the
same bytes. Every generator returns a ``props`` dict describing the input
properties the engine's behaviour depends on (sizes, vocabulary skew,
duplicate shares, empty letters), which the benchmark records with each
result.

Text model (shared by all workloads): a Zipf vocabulary with one hot
stop-word key (``the``), drawn from 25 of the 26 letters so that one
letter always has no words. Tokens carry reference-tokenizer noise:
random case, punctuation, leading digits, and tokens that normalize to
the empty string (pure digits or punctuation).
"""

from __future__ import annotations

import itertools
import os
import random
import re
import string

import oracle

#: share of all word draws that go to the hot stop-word key
HOT_SHARE = 0.08
HOT_WORD = "the"
ZIPF_S = 1.07

#: per-token noise probabilities (applied in this order)
P_EMPTY = 0.02  # token that normalizes to '' (digits / punctuation only)
P_UPPER = 0.10
P_TITLE = 0.10
P_PUNCT = 0.08
P_DIGITS = 0.03
P_APOS = 0.02

EMPTY_TOKENS = ("42", "1999", "--", "...", "(3)", "&", "#7", "2024.")
PUNCT = (",", ".", ";", ":", "!", "?", ")", '"')

#: query_update op kinds, in order: 9 reads, 1 write
OP_CYCLE = (
    "search_any", "bm25", "search_all", "phrase", "search_any",
    "bm25", "update", "search_all", "phrase", "search_any",
)

SIZES = {
    # build_index: files, tokens per file (mean), vocabulary
    "build_index": {"full": (400, 600, 20000), "tiny": (30, 80, 500)},
    # query_update: documents, tokens per doc (mean), vocabulary
    "query_update": {"full": (600, 120, 6000), "tiny": (40, 60, 500)},
}


class TextModel:
    """Seeded vocabulary + token sampler."""

    def __init__(self, rng: random.Random, vocab_size: int):
        self.rng = rng
        self.empty_letter = rng.choice(
            [c for c in string.ascii_lowercase if c != HOT_WORD[0]]
        )
        letters = [c for c in string.ascii_lowercase if c != self.empty_letter]
        seen = {HOT_WORD}
        vocab = []
        while len(vocab) < vocab_size:
            n = rng.randint(2, 9)
            w = rng.choice(letters) + "".join(
                rng.choice(string.ascii_lowercase.replace(self.empty_letter, ""))
                for _ in range(n - 1)
            )
            if w not in seen:
                seen.add(w)
                vocab.append(w)
        self.vocab = vocab
        weights = [1.0 / (r + 1) ** ZIPF_S for r in range(vocab_size)]
        self.cum = list(itertools.accumulate(weights))

    def words(self, k: int) -> list[str]:
        """``k`` clean lowercase words: hot key with ``HOT_SHARE``, else Zipf."""
        rng = self.rng
        out = rng.choices(self.vocab, cum_weights=self.cum, k=k)
        for i in range(k):
            if rng.random() < HOT_SHARE:
                out[i] = HOT_WORD
        return out

    def noisy(self, word: str, allow_empty: bool = True) -> str:
        """One raw token whose reference normalization is ``word`` (or ''
        when ``allow_empty``)."""
        rng = self.rng
        r = rng.random()
        if allow_empty and r < P_EMPTY:
            return rng.choice(EMPTY_TOKENS)
        r = rng.random()
        if r < P_UPPER:
            word = word.upper()
        elif r < P_UPPER + P_TITLE:
            word = word.capitalize()
        r = rng.random()
        if r < P_PUNCT:
            word = word + rng.choice(PUNCT)
        elif r < P_PUNCT + P_DIGITS:
            word = str(rng.randint(0, 999)) + word
        elif r < P_PUNCT + P_DIGITS + P_APOS and len(word) > 2:
            word = word[:-1] + "'" + word[-1]
        return word

    def text(self, n_tokens: int) -> str:
        toks = [self.noisy(w) for w in self.words(n_tokens)]
        # whitespace runs of mixed kinds, as the reference tokenizer sees
        lines, line = [], []
        for t in toks:
            line.append(t)
            if len(line) >= 12 and self.rng.random() < 0.2:
                lines.append((" " if self.rng.random() < 0.9 else "\t ").join(line))
                line = []
        if line:
            lines.append(" ".join(line))
        return "\n".join(lines) + "\n"


def text_props(texts: list[str]) -> dict:
    """Token statistics of a list of document texts (reference tokenizer)."""
    n_tokens = sum(len(t.split()) for t in texts)
    df: dict[str, int] = {}
    for t in texts:
        for w in set(oracle.doc_words(t)):
            df[w] = df.get(w, 0) + 1
    top = max(df.values()) if df else 0
    letters = {w[0] for w in df}
    return {
        "docs": len(texts),
        "mb": round(sum(len(t) for t in texts) / 1e6, 3),
        "tokens": n_tokens,
        "distinct_words": len(df),
        "top_word_df_share": round(top / max(len(texts), 1), 4),
        "empty_letters": "".join(
            c for c in string.ascii_lowercase if c not in letters
        ),
    }


def _doc_lengths(rng: random.Random, n: int, mean: int, least: int = 8) -> list[int]:
    return [max(least, int(rng.gauss(mean, mean * 0.3))) for _ in range(n)]


def _mutate(rng: random.Random, model: TextModel, text: str, rate: float) -> str:
    """Substitute ``rate`` of the whitespace tokens of ``text``; keep layout."""
    parts = re.split(r"(\s+)", text)  # odd indexes hold the separators
    n_sub = max(1, round(len(parts) / 2 * rate))
    for i in rng.sample(range(0, len(parts), 2), n_sub):
        parts[i] = model.noisy(model.words(1)[0])
    return "".join(parts)


def gen_build_index(seed: int, out_dir: str, size: str = "full") -> dict:
    """Many small ASCII files plus a reference manifest (``count``, paths).

    Like a crawled corpus, it carries duplicate content: ~10% of the
    files are byte-identical clones and ~20% near-duplicates (~5% of
    tokens substituted) of some original. Each original gets at most one
    clone and at most one near-duplicate, so every within-group pair is
    far above the 0.5 Jaccard threshold and no two groups touch.
    Returns ``{"manifest", "texts", "groups": [[doc ids...]], "props"}``;
    doc ids are 1-based manifest positions.
    """
    n_files, mean_tok, vocab = SIZES["build_index"][size]
    rng = random.Random(f"build_index:{seed}")
    model = TextModel(rng, vocab)
    n_clone = n_files // 10
    n_near = n_files // 5
    n_orig = n_files - n_clone - n_near
    # >= 30 tokens: a near-duplicate keeps Jaccard >= 0.65 with its
    # original, while a substitution in an 8-token doc would break it
    originals = [model.text(n) for n in _doc_lengths(rng, n_orig, mean_tok, least=30)]
    entries = [(t, i) for i, t in enumerate(originals)]
    entries += [(originals[i], i) for i in rng.sample(range(n_orig), n_clone)]
    entries += [
        (_mutate(rng, model, originals[i], 0.05), i)
        for i in rng.sample(range(n_orig), n_near)
    ]
    rng.shuffle(entries)
    texts = [t for t, _ in entries]
    by_orig: dict[int, list[int]] = {}
    for doc_id, (_, o) in enumerate(entries, start=1):
        by_orig.setdefault(o, []).append(doc_id)
    groups = sorted(g for g in by_orig.values() if len(g) > 1)

    files_dir = os.path.join(out_dir, "files")
    os.makedirs(files_dir, exist_ok=True)
    names = [f"doc{i:05d}.txt" for i in range(n_files)]
    for name, text in zip(names, texts):
        with open(os.path.join(files_dir, name), "w", encoding="ascii") as fh:
            fh.write(text)
    manifest = os.path.join(out_dir, "manifest.txt")
    with open(manifest, "w", encoding="ascii") as fh:
        # relative paths: the manifest source resolves them against its dir
        fh.write(f"{n_files}\n" + "".join(f"files/{n}\n" for n in names))
    props = {"files": n_files, **text_props(texts)}
    props.update(
        clone_share=round(n_clone / n_files, 4),
        near_dup_share=round(n_near / n_files, 4),
        planted_groups=len(groups),
    )
    return {"manifest": manifest, "texts": texts, "groups": groups, "props": props}


def gen_query_update(seed: int, out_dir: str, size: str = "full", n_ops: int = 400) -> dict:
    """A base corpus parquet plus a seeded op sequence (~90% reads).

    The op kinds follow the fixed ``OP_CYCLE`` (so every seed and every
    run length sees the same mix); the seed draws each op's arguments.
    Reads: ``search_any``/``search_all`` (2 Zipf terms), ``bm25``
    (3 terms), ``phrase`` (a 3-token window cut from a corpus document,
    so most phrases hit); fixed arities keep the cost of an op kind from
    varying with the seed. Writes: a batch of new documents to
    merge and a few live doc ids to retire. Returns ``{"path", "docs",
    "ops", "warm_update", "props"}``; the op list is long enough for any
    run length, and the loop simply stops when its time is up.
    ``warm_update`` is one more write, with doc ids no other op uses.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_docs, mean_tok, vocab = SIZES["query_update"][size]
    rng = random.Random(f"query_update:{seed}")
    model = TextModel(rng, vocab)
    docs = {
        i: model.text(n)
        for i, n in enumerate(_doc_lengths(rng, n_docs, mean_tok), start=1)
    }
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "corpus.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(list(docs), pa.int64()),
                "text": pa.array(list(docs.values()), pa.string()),
            }
        ),
        path,
    )
    ids = itertools.count(n_docs + 1)

    def update(live: list[int]) -> dict:
        new = {next(ids): model.text(n) for n in _doc_lengths(rng, 5, mean_tok)}
        retire = sorted(rng.sample(live, 3))
        live[:] = [d for d in live if d not in set(retire)] + list(new)
        return {"op": "update", "new_docs": new, "retire": retire}

    # the warm-up write runs before every timed loop: its ids are its own
    warm_update = update(list(docs))
    ops = []
    live = list(docs)
    doc_ids = list(docs)
    for i in range(n_ops):
        kind = OP_CYCLE[i % len(OP_CYCLE)]
        if kind == "update":
            ops.append(update(live))
        elif kind in ("search_any", "search_all"):
            ops.append({"op": kind, "terms": _terms(model, 2)})
        elif kind == "bm25":
            ops.append({"op": kind, "query": " ".join(model.words(3))})
        else:
            phrase = ""
            while not oracle.doc_words(phrase):
                toks = docs[rng.choice(doc_ids)].split()
                start = rng.randrange(max(1, len(toks) - 3))
                phrase = " ".join(toks[start : start + 3])
            ops.append({"op": kind, "phrase": phrase})
    props = text_props(list(docs.values()))
    props.update(ops=len(ops), write_share=round(sum(o["op"] == "update" for o in ops) / len(ops), 4))
    return {"path": path, "docs": docs, "ops": ops, "warm_update": warm_update, "props": props}


def _terms(model: TextModel, k: int) -> list[str]:
    return [model.noisy(w, allow_empty=False) for w in model.words(k)]


GENERATORS = {
    "build_index": gen_build_index,
    "query_update": gen_query_update,
}

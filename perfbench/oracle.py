"""Pure-Python oracles, independent of the engine (no Spark, no engine import).

Reference semantics (the C mapper/reducer the engine reproduces): split
on whitespace runs, keep only ASCII letters of each token, lowercase,
drop tokens that become empty; one posting per (word, document); posting
lists ascending; per-letter files ordered by document frequency DESC,
then word ASC; all 26 files exist, 0 bytes for letters with no words.
"""

from __future__ import annotations

import math
import re
import string

_NOT_LETTER = re.compile(r"[^A-Za-z]+")


def normalize(tok: str) -> str:
    """``That's`` → ``thats``; ``123ab`` → ``ab``; ``42`` → ``''``."""
    return _NOT_LETTER.sub("", tok).lower()


def doc_words(text: str) -> list[str]:
    """Normalized non-empty words of ``text``, in order."""
    return [w for w in (normalize(t) for t in text.split()) if w]


def postings(docs: dict[int, str]) -> dict[str, set[int]]:
    """word → set of doc ids containing it."""
    index: dict[str, set[int]] = {}
    for doc_id, text in docs.items():
        for w in set(doc_words(text)):
            index.setdefault(w, set()).add(doc_id)
    return index


def letter_files(index: dict[str, set[int]]) -> dict[str, bytes]:
    """The 26 ``<letter>.txt`` payloads of an index, byte-exact."""
    by_letter: dict[str, list[tuple[int, str, list[int]]]] = {
        c: [] for c in string.ascii_lowercase
    }
    for w, ids in index.items():
        by_letter[w[0]].append((-len(ids), w, sorted(ids)))
    out = {}
    for c, rows in by_letter.items():
        rows.sort()
        out[c] = "".join(
            f"{w}:[{' '.join(map(str, ids))}]\n" for _, w, ids in rows
        ).encode("ascii")
    return out


# ---------------------------------------------------------------- reads


def search_docs(index: dict[str, set[int]], terms: list[str], mode: str) -> list[tuple[int, int]]:
    """(doc_id, n_matched) ranked (n_matched DESC, doc_id ASC)."""
    norm = {t for t in (normalize(x) for x in terms) if t}
    hits: dict[int, int] = {}
    for w in norm:
        for d in index.get(w, ()):
            hits[d] = hits.get(d, 0) + 1
    rows = [(d, n) for d, n in hits.items() if mode == "any" or n == len(norm)]
    return sorted(rows, key=lambda r: (-r[1], r[0]))


def phrase_search(docs: dict[int, str], phrase: str) -> list[tuple[int, int]]:
    """(doc_id, n_hits) of consecutive occurrences of the phrase's words."""
    terms = [t for t in (normalize(x) for x in phrase.split()) if t]
    n = len(terms)
    rows = []
    for doc_id, text in docs.items():
        ws = doc_words(text)
        hits = sum(ws[i : i + n] == terms for i in range(len(ws) - n + 1))
        if hits:
            rows.append((doc_id, hits))
    return sorted(rows, key=lambda r: (-r[1], r[0]))


class BM25:
    """Okapi BM25 over a fixed corpus: idf ``ln(1 + (N-df+.5)/(df+.5))``."""

    def __init__(self, docs: dict[int, str], k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.tf: dict[int, dict[str, int]] = {}
        self.dl: dict[int, int] = {}
        for doc_id, text in docs.items():
            ws = doc_words(text)
            if not ws:
                continue
            counts: dict[str, int] = {}
            for w in ws:
                counts[w] = counts.get(w, 0) + 1
            self.tf[doc_id] = counts
            self.dl[doc_id] = len(ws)
        self.n = len(self.dl)
        self.avgdl = sum(self.dl.values()) / self.n
        self.df: dict[str, int] = {}
        for counts in self.tf.values():
            for w in counts:
                self.df[w] = self.df.get(w, 0) + 1

    def scores(self, query: str) -> dict[int, float]:
        """doc_id → score, for every document with a positive score."""
        terms = sorted({t for t in (normalize(x) for x in query.split()) if t})
        out = {}
        for doc_id, counts in self.tf.items():
            norm_len = 1.0 - self.b + self.b * self.dl[doc_id] / self.avgdl
            s = 0.0
            for t in terms:
                tf, df = counts.get(t, 0), self.df.get(t, 0)
                idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
                s += idf * (tf * (self.k1 + 1.0) / (tf + self.k1 * norm_len))
            if s > 0:
                out[doc_id] = s
        return out


def check_bm25(model: BM25, query: str, rows: list[tuple[int, float]], top_k: int = 20, tol: float = 2e-6) -> str | None:
    """None when ``rows`` (doc_id, score) is a correct top-k, else a reason.

    Scores are compared with a tolerance (the engine quantizes to 6 dp and
    its ``log`` may differ from Python's in the last ulp), so ties at the
    k-th place may resolve either way.
    """
    ref = model.scores(query)
    want = sorted(ref.values(), reverse=True)[:top_k]
    if len(rows) != len(want):
        return f"bm25 {query!r}: {len(rows)} rows, want {len(want)}"
    for (doc_id, score), w in zip(rows, want):
        if abs(score - w) > tol or abs(ref.get(doc_id, -1.0) - score) > tol:
            return f"bm25 {query!r}: doc {doc_id} score {score}, want {w}"
    return None


# ---------------------------------------------------------------- dedup


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Word n-gram shingles; a doc with <= n words is one all-words shingle."""
    ws = doc_words(text)
    if not ws:
        return set()
    if len(ws) <= n:
        return {" ".join(ws)}
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def jaccard_pairs(docs: dict[int, str], threshold: float = 0.5, n: int = 3) -> set[tuple[int, int]]:
    """All (a, b), a < b, with shingle-set Jaccard >= threshold.

    Candidates come from shared shingles (an exact cover: J > 0 needs one);
    each candidate is verified with exact set arithmetic.
    """
    sets = {d: shingle_set(t, n) for d, t in docs.items()}
    by_sh: dict[str, list[int]] = {}
    for d, s in sets.items():
        for sh in s:
            by_sh.setdefault(sh, []).append(d)
    cand: set[tuple[int, int]] = set()
    for ids in by_sh.values():
        if len(ids) > 1:
            ids.sort()
            cand.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1 :])
    out = set()
    for a, b in cand:
        sa, sb = sets[a], sets[b]
        inter = len(sa & sb)
        if inter / (len(sa) + len(sb) - inter) >= threshold - 1e-9:
            out.add((a, b))
    return out


def components(ids, pairs) -> dict[int, int]:
    """doc_id → min doc_id of its connected component."""
    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in ids}


def quality(text: str) -> float:
    """``text_analysis.quality_score``'s unrounded score."""
    n_chars = len(text)
    n_alpha = sum(c.isascii() and c.isalpha() for c in text)
    ws = doc_words(text)
    n = len(ws)
    alpha = n_alpha / n_chars if n_chars else 0.0
    distinct = len(set(ws)) / n if n else 0.0
    mean_len = sum(map(len, ws)) / n if n else 0.0
    return alpha * 0.3 + distinct * 0.3 + min(n / 100.0, 1.0) * 0.2 + min(mean_len / 8.0, 1.0) * 0.2


class DedupOracle:
    """Expected ``canonical_docs`` clusters for a corpus with planted groups."""

    def __init__(self, docs: dict[int, str], groups: list[list[int]], threshold: float = 0.5):
        self.docs = docs
        self.pairs = jaccard_pairs(docs, threshold)
        self.planted_pairs = {
            (a, b) for g in groups for i, a in enumerate(g) for b in g[i + 1 :]
        }
        rep = components(docs, self.pairs)
        self.clusters: dict[int, list[int]] = {}
        for d, r in rep.items():
            self.clusters.setdefault(r, []).append(d)
        planted = {min(g): sorted(g) for g in groups}
        singletons = {d: [d] for d in docs if not any(d in g for g in groups)}
        # the generator's intent (planted groups) must agree with the
        # definition (Jaccard >= threshold components) or the input is bad
        if {r: sorted(m) for r, m in self.clusters.items()} != {**planted, **singletons}:
            raise ValueError("planted groups disagree with the Jaccard components")
        self.q = {d: quality(t) for d, t in docs.items()}

    def check(self, rows: list[tuple[int, int, int, float]]) -> str | None:
        """None when ``rows`` (cluster_rep, keep_doc_id, n_members,
        best_quality) match the planted clusters, else a reason."""
        if len(rows) != len(self.clusters):
            return f"dedup: {len(rows)} clusters, want {len(self.clusters)}"
        for rep, keep, n_members, best in rows:
            members = self.clusters.get(rep)
            if members is None:
                return f"dedup: unexpected cluster rep {rep}"
            if n_members != len(members) or keep not in members:
                return f"dedup: cluster {rep} keeps {keep} of {n_members}, want one of {members}"
            top = max(self.q[m] for m in members)
            if abs(best - top) > 1e-4 or abs(self.q[keep] - top) > 1e-4:
                return f"dedup: cluster {rep} keeps quality {best}, want {top:.4f}"
        return None

"""The benchmark workloads, driven through the engine's public API.

Each workload generates its inputs from the seed (``gen``), derives the
expected outputs independently (``oracle``), loads the inputs into an
engine session (``prepare``), and then runs one operation at a time in a
closed loop (``op``), checking every output. ``kinds`` is the repeating
op cycle and ``min_ops`` the fewest ops a timed loop runs: whole cycles,
about as many ops as the engine completes in a run's time, so that runs
hold the same ops and their medians do not swing with whether the time
ran out just before or just after one more op. ``layers`` runs the
traced per-layer measurements that need their own actions.
"""

from __future__ import annotations

import os
import shutil
import string
import subprocess
import sys
import time

import gen
import oracle

LETTERS = string.ascii_lowercase


class OpResult:
    __slots__ = ("kind", "seconds", "error")

    def __init__(self, kind: str, seconds: float, error: str | None):
        self.kind, self.seconds, self.error = kind, seconds, error


def _files_equal(out_dir: str, want: dict[str, bytes]) -> str | None:
    for c in LETTERS:
        path = os.path.join(out_dir, f"{c}.txt")
        try:
            with open(path, "rb") as fh:
                got = fh.read()
        except OSError as e:
            return f"{c}.txt: {e}"
        if got != want[c]:
            return f"{c}.txt differs from the oracle ({len(got)} vs {len(want[c])} bytes)"
    return None


def _chain(tracer, docs, source: str, with_index: bool):
    """Time the tokenize/index prefixes of a documents frame: each layer's
    execution time is the difference between consecutive prefixes.
    Returns per-layer values (seconds / counts)."""
    from pyspark.sql import functions as F

    from mapreduceindex_spark.functions.text import token_rows
    from mapreduceindex_spark.operators.inverted_index import doc_words, inverted_index

    out = {}
    t0 = time.perf_counter()
    with tracer.span(f"{source}.scan") as sp:
        docs.agg(F.count("*"), F.sum(F.length("text"))).collect()
    out["scan_s"] = time.perf_counter() - t0
    out["scan_tasks"] = sp["tasks"] if sp else 0
    t0 = time.perf_counter()
    with tracer.span("functions.text.token_rows") as sp:
        toks = token_rows(docs)
        tracer.planned(sp)
        n_tok = toks.agg(F.count("*"), F.sum(F.length("word"))).collect()[0][0]
    out["tokenize_s"] = time.perf_counter() - t0 - out["scan_s"]
    out["tokens"] = n_tok
    if not with_index:
        return out, None
    t0 = time.perf_counter()
    with tracer.span("operators.inverted_index.doc_words") as sp:
        pairs = doc_words(docs)
        tracer.planned(sp)
        n_pairs = pairs.count()
    t_map = time.perf_counter() - t0
    out["map_s"] = t_map - out["tokenize_s"] - out["scan_s"]
    out["pairs"] = n_pairs
    t0 = time.perf_counter()
    with tracer.span("operators.inverted_index.inverted_index") as sp:
        idx = inverted_index(docs, ordered=False)
        tracer.planned(sp)
        idx = idx.persist()
        n_words = idx.count()
    out["reduce_s"] = time.perf_counter() - t0 - t_map
    out["words"] = n_words
    out["shuffle_mb"] = sp["shuffle_bytes"] / 1e6 if sp else 0.0
    return out, idx


class BuildIndex:
    """Reference job: manifest of small files → 26 per-letter index files.

    The corpus carries planted duplicates; the traced run also takes it
    through the dedup layers, as dedup before indexing would."""

    name = "build_index"
    kinds = ("build",)
    min_ops = 4

    def __init__(self, work: str, seed: int, size: str):
        self.work = work
        g = gen.gen_build_index(seed, os.path.join(work, "input"), size)
        self.manifest, self.props, self.groups = g["manifest"], g["props"], g["groups"]
        self.docs = dict(enumerate(g["texts"], start=1))
        self.want = oracle.letter_files(oracle.postings(self.docs))
        self.out_dir = os.path.join(work, "out")

    def prepare(self, engine) -> None:
        pass  # the manifest and files are the input; nothing to load

    def warmup(self, engine, tracer) -> None:
        r = self.op(engine, tracer, 0)
        if r.error:
            raise RuntimeError(f"warm-up build failed: {r.error}")

    def _build(self, engine, tracer, out_dir: str) -> None:
        from mapreduceindex_spark.operators.inverted_index import inverted_index
        from mapreduceindex_spark.sinks.letter_sink import write_letter_files
        from mapreduceindex_spark.sources.manifest import corpus_from_manifest

        with tracer.span("sources.manifest.corpus_from_manifest") as sp:
            docs = corpus_from_manifest(engine.spark, self.manifest)
            tracer.planned(sp)
        with tracer.span("operators.inverted_index.inverted_index") as sp:
            idx = inverted_index(docs, ordered=False)
            tracer.planned(sp)
        with tracer.span("sinks.letter_sink.write_letter_files") as sp:
            write_letter_files(idx, out_dir)
            tracer.planned(sp)

    def op(self, engine, tracer, i: int) -> OpResult:
        shutil.rmtree(self.out_dir, ignore_errors=True)
        t0 = time.perf_counter()
        with tracer.span("op.build"):
            self._build(engine, tracer, self.out_dir)
        dt = time.perf_counter() - t0
        return OpResult("build", dt, _files_equal(self.out_dir, self.want))

    def layers(self, engine, tracer) -> dict:
        """Prefix chain (scan, tokenize, map, reduce, sink) on a warm
        session, then the dedup layers."""
        from mapreduceindex_spark.sinks.letter_sink import write_letter_files
        from mapreduceindex_spark.sources.manifest import corpus_from_manifest

        t0 = time.perf_counter()
        with tracer.span("sources.manifest.corpus_from_manifest"):
            docs = corpus_from_manifest(engine.spark, self.manifest)
        plan_ms = (time.perf_counter() - t0) * 1e3
        m, idx = _chain(tracer, docs, "sources.manifest", with_index=True)
        out_dir = os.path.join(self.work, "out_chain")
        t0 = time.perf_counter()
        with tracer.span("sinks.letter_sink.write_letter_files") as sp:
            write_letter_files(idx, out_dir)
        write_s = time.perf_counter() - t0
        idx.unpersist()
        err = _files_equal(out_dir, self.want)
        if err:
            raise RuntimeError(f"layer chain output wrong: {err}")
        return {
            **self._dedup_layers(tracer, docs),
            "sources.manifest.plan_ms": plan_ms,
            "sources.manifest.scan_s": m["scan_s"],
            "sources.manifest.tasks": m["scan_tasks"],
            "functions.text.tokenize_s": m["tokenize_s"],
            "functions.text.tokens": m["tokens"],
            "operators.inverted_index.map_s": m["map_s"],
            "operators.inverted_index.pairs": m["pairs"],
            "operators.inverted_index.reduce_s": m["reduce_s"],
            "operators.inverted_index.words": m["words"],
            "operators.inverted_index.shuffle_mb": m["shuffle_mb"],
            "sinks.letter_sink.write_s": write_s,
            "sinks.letter_sink.bytes": sum(len(b) for b in self.want.values()),
            "sinks.letter_sink.tasks": sp["tasks"],
        }

    def _dedup_layers(self, tracer, docs) -> dict:
        """The corpus's duplicate content through the dedup layers, each
        from cold caches as a new corpus would be; ``canonical_docs`` is
        checked against the planted groups."""
        from mapreduceindex_spark.functions import caching
        from mapreduceindex_spark.operators import dedup
        from mapreduceindex_spark.operators.text_analysis import quality_score

        want = oracle.DedupOracle(self.docs, self.groups)
        out, rows = {}, None
        for name, fn in (
            ("operators.dedup.exact_dedup", dedup.exact_dedup),
            ("operators.text_analysis.quality_score", quality_score),
            ("operators.dedup.near_dup_clusters", dedup.near_dup_clusters),
            ("operators.dedup.canonical_docs", dedup.canonical_docs),
        ):
            with tracer.span("functions.caching.release"):
                caching.release()
            t0 = time.perf_counter()
            with tracer.span(name):
                rows = [tuple(r) for r in fn(docs).collect()]
            out[f"{name}.exec_s"] = time.perf_counter() - t0
        err = want.check(rows)  # rows of canonical_docs, the last one run
        if err:
            raise RuntimeError(f"canonical_docs output wrong: {err}")
        with tracer.span("functions.caching.release"):
            caching.release()
        with tracer.span("operators.dedup.ngram_jaccard_pairs"):
            found = {(r[0], r[1]) for r in dedup.ngram_jaccard_pairs(docs).collect()}
        hit = len(found & want.planted_pairs)
        out["operators.dedup.pairs"] = len(found)
        out["operators.dedup.pair_recall"] = hit / len(want.planted_pairs) if want.planted_pairs else 1.0
        out["operators.dedup.pair_precision"] = hit / len(found) if found else 1.0
        return out

    def local1_build_s(self, engine, tracer) -> float:
        """Single-threaded baseline: the same build on a new ``local[1]``
        session of the already warm JVM (no warm-up build, to keep the
        traced run short)."""
        engine.start(cores=1)
        r = self.op(engine, tracer, 0)
        if r.error:
            raise RuntimeError(f"local[1] build wrong: {r.error}")
        return r.seconds

    def cli_s(self, root: str) -> float:
        """What a reference user pays per run: the one-shot CLI."""
        out_dir = os.path.join(self.work, "out_cli")
        shutil.rmtree(out_dir, ignore_errors=True)
        env = dict(os.environ, PYTHONPATH=root)
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, "-m", "mapreduceindex_spark", "4", "4", self.manifest, out_dir],
            cwd=root, env=env, check=True, timeout=150,
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        dt = time.perf_counter() - t0
        err = _files_equal(out_dir, self.want)
        if err:
            raise RuntimeError(f"CLI output wrong: {err}")
        return dt


class QueryUpdate:
    """One client, closed loop, ~90% reads / ~10% writes over a persisted
    corpus and a bucketed stored index."""

    name = "query_update"
    kinds = gen.OP_CYCLE
    min_ops = 2 * len(gen.OP_CYCLE)

    def __init__(self, work: str, seed: int, size: str):
        self.work = work
        g = gen.gen_query_update(seed, os.path.join(work, "input"), size)
        self.path, self.props, self.ops = g["path"], g["props"], g["ops"]
        self.warm_update = g["warm_update"]
        self.base = g["docs"]
        self.base_index = oracle.postings(self.base)
        self.bm25 = oracle.BM25(self.base)
        self.docs = None

    def prepare(self, engine) -> None:
        from mapreduceindex_spark.operators.inverted_index import inverted_index
        from mapreduceindex_spark.sinks.bucketed import write_bucketed_table

        spark = engine.spark
        self.docs = spark.read.parquet(self.path).persist()
        self.docs.count()
        # the live index model follows the stored index through writes
        self.model = {w: set(ids) for w, ids in self.base_index.items()}
        self.stores = [
            ("perfbench_store_a", os.path.join(self.work, "store_a")),
            ("perfbench_store_b", os.path.join(self.work, "store_b")),
        ]
        for _, path in self.stores:
            shutil.rmtree(path, ignore_errors=True)
        name, path = self.stores[0]
        write_bucketed_table(inverted_index(self.docs, ordered=False), name, "word", path=path)
        # checks are the benchmark's work, not set-up: the first checked
        # write compares every posting list, which covers the base index
        self.check_all = True

    def warmup(self, engine, tracer) -> None:
        warm = {o["op"]: o for o in reversed(self.ops) if o["op"] != "update"}
        for o in warm.values():
            r = self._read(engine, tracer, o)
            if r.error:
                raise RuntimeError(f"warm-up {o['op']} failed: {r.error}")
        self._write(engine, tracer, self.warm_update, check=False)

    def op(self, engine, tracer, i: int) -> OpResult:
        o = self.ops[i % len(self.ops)]
        if o["op"] == "update":
            return self._write(engine, tracer, o)
        return self._read(engine, tracer, o)

    def _read(self, engine, tracer, o: dict) -> OpResult:
        from mapreduceindex_spark.operators.inverted_index import (
            bm25_search,
            phrase_search_indexed,
            search_docs,
        )

        kind = o["op"]
        t0 = time.perf_counter()
        with tracer.span(f"op.{kind}"):
            if kind in ("search_any", "search_all"):
                with tracer.span("operators.inverted_index.search_docs") as sp:
                    df = search_docs(self.docs, o["terms"], mode=kind[7:])
                    tracer.planned(sp)
                    rows = [tuple(r) for r in df.collect()]
            elif kind == "bm25":
                with tracer.span("operators.inverted_index.bm25_search") as sp:
                    df = bm25_search(self.docs, o["query"])
                    tracer.planned(sp)
                    rows = [(r["doc_id"], r["score"]) for r in df.collect()]
            else:
                with tracer.span("operators.inverted_index.phrase_search_indexed") as sp:
                    df = phrase_search_indexed(self.docs, o["phrase"])
                    tracer.planned(sp)
                    rows = [tuple(r) for r in df.collect()]
        dt = time.perf_counter() - t0
        if kind in ("search_any", "search_all"):
            want = oracle.search_docs(self.base_index, o["terms"], kind[7:])
            err = None if rows == want else f"{kind} {o['terms']}: {rows[:3]}... want {want[:3]}..."
        elif kind == "bm25":
            err = oracle.check_bm25(self.bm25, o["query"], rows)
        else:
            want = oracle.phrase_search(self.base, o["phrase"])
            err = None if rows == want else f"phrase {o['phrase']!r}: {rows[:3]}... want {want[:3]}..."
        return OpResult(kind, dt, err)

    def _write(self, engine, tracer, o: dict, check: bool = True) -> OpResult:
        from mapreduceindex_spark.operators.inverted_index import index_delete, merge_index
        from mapreduceindex_spark.sinks.bucketed import read_table, write_bucketed_table

        spark = engine.spark
        (src, _), (dst, dst_path) = self.stores
        t0 = time.perf_counter()
        with tracer.span("op.update"):
            with tracer.span("sinks.bucketed.read_table") as sp:
                stored = read_table(spark, src)
                tracer.planned(sp)
            new = spark.createDataFrame(
                list(o["new_docs"].items()), "doc_id BIGINT, text STRING"
            )
            retire = spark.createDataFrame([(d,) for d in o["retire"]], "doc_id BIGINT")
            with tracer.span("operators.inverted_index.merge_index") as sp:
                merged = merge_index(stored, new, ordered=False)
                tracer.planned(sp)
                if sp is not None:
                    merged.count()  # traced only: the merge prefix's execution
            with tracer.span("operators.inverted_index.index_delete") as sp:
                kept = index_delete(merged, retire)
                tracer.planned(sp)
                if sp is not None:
                    kept.count()
            with tracer.span("sinks.bucketed.write_bucketed_table") as sp:
                write_bucketed_table(kept, dst, "word", path=dst_path)
                tracer.planned(sp)
        dt = time.perf_counter() - t0
        self.stores.reverse()
        touched = set()
        for doc_id, text in o["new_docs"].items():
            for w in set(oracle.doc_words(text)):
                self.model.setdefault(w, set()).add(doc_id)
                touched.add(w)
        gone = set(o["retire"])
        for w, ids in list(self.model.items()):
            if ids & gone:
                touched.add(w)
                ids -= gone
                if not ids:
                    del self.model[w]
        if not check:
            return OpResult("update", dt, None)
        if self.check_all:
            touched, self.check_all = None, False
        return OpResult("update", dt, self._check_store(spark, dst, touched))

    def _check_store(self, spark, table: str, touched: set[str] | None) -> str | None:
        """Compare the stored index with the postings model: totals always,
        and the full posting lists of ``touched`` words (all when None)."""
        from pyspark.sql import functions as F

        from mapreduceindex_spark.sinks.bucketed import read_table

        stored = read_table(spark, table)
        n, total = stored.agg(F.count("*"), F.sum("df")).collect()[0]
        want_total = sum(len(v) for v in self.model.values())
        if (n, total or 0) != (len(self.model), want_total):
            return f"stored index has {n} words / {total} postings, want {len(self.model)} / {want_total}"
        if touched is None:
            got = {r[0]: r[1] for r in stored.select("word", "doc_ids").collect()}
        else:
            got = {
                r[0]: r[1]
                for r in stored.filter(F.col("word").isin(sorted(touched))).select("word", "doc_ids").collect()
            }
        for w in self.model if touched is None else touched:
            if got.get(w) != (sorted(self.model[w]) if w in self.model else None):
                return f"stored postings of {w!r} differ from the model"
        return None

    def layers(self, engine, tracer) -> dict:
        vals, _ = _chain(tracer, self.docs, "input.persisted_corpus", with_index=False)
        return {
            "functions.text.tokenize_s": vals["tokenize_s"],
            "functions.text.tokens": vals["tokens"],
        }


WORKLOADS = {w.name: w for w in (BuildIndex, QueryUpdate)}

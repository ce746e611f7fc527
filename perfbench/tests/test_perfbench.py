"""Self-tests of the benchmark: generator determinism, oracle reference
cases, and a tiny-size smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(path)):
        dirnames.sort()
        for name in sorted(files):
            full = os.path.join(dirpath, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_a_function_of_the_seed(tmp_path, workload):
    make = gen.GENERATORS[workload]
    digests = {}
    for run, seed in (("a", 7), ("b", 7), ("c", 8)):
        out = tmp_path / run
        g = make(seed, str(out), "tiny")
        digests[run] = (_tree_digest(str(out)), json.dumps(g["props"], sort_keys=True))
    assert digests["a"] == digests["b"]
    assert digests["a"][0] != digests["c"][0]


def test_generator_plants_the_input_properties(tmp_path):
    g = gen.gen_build_index(3, str(tmp_path / "b"), "tiny")
    p = g["props"]
    assert len(p["empty_letters"]) >= 1
    assert p["top_word_df_share"] > 0.5  # the hot stop-word key
    assert p["clone_share"] == pytest.approx(0.1, abs=0.02)
    assert p["near_dup_share"] == pytest.approx(0.2, abs=0.02)
    # the planted groups are exactly the Jaccard >= 0.5 components
    oracle.DedupOracle(dict(enumerate(g["texts"], start=1)), g["groups"])
    q = gen.gen_query_update(3, str(tmp_path / "q"), "tiny")["props"]
    assert q["write_share"] == pytest.approx(0.1)


def test_oracle_normalizes_like_the_reference():
    assert oracle.normalize("That's") == "thats"
    assert oracle.normalize("123ab") == "ab"
    assert oracle.normalize("Hello,") == "hello"
    assert oracle.doc_words("42 -- That's 123ab") == ["thats", "ab"]


def test_oracle_letter_files_order_and_empty_letters():
    docs = {
        1: "beta alpha apple",
        2: "Apple, beta! 42",
        3: "apple banana",
    }
    files = oracle.letter_files(oracle.postings(docs))
    assert sorted(files) == [chr(c) for c in range(ord("a"), ord("z") + 1)]
    # df DESC, then word ASC on ties
    assert files["a"] == b"apple:[1 2 3]\nalpha:[1]\n"
    assert files["b"] == b"beta:[1 2]\nbanana:[3]\n"
    assert all(files[c] == b"" for c in "cdefghijklmnopqrstuvwxyz")


def test_oracle_search_and_phrase():
    docs = {1: "the cat sat", 2: "The cat, the cat!", 3: "dog"}
    index = oracle.postings(docs)
    assert oracle.search_docs(index, ["Cat", "dog"], "any") == [(1, 1), (2, 1), (3, 1)]
    assert oracle.search_docs(index, ["the", "cat"], "all") == [(1, 2), (2, 2)]
    assert oracle.phrase_search(docs, "the CAT") == [(2, 2), (1, 1)]


def test_dedup_oracle_checks_clusters():
    base = " ".join(f"w{chr(97 + i % 26)}{chr(97 + i // 26)}" for i in range(40))
    docs = {1: base, 2: base, 3: "completely different words here now"}
    o = oracle.DedupOracle(docs, [[1, 2]])
    q = round(oracle.quality(base), 4)
    assert o.check([(1, 1, 2, q), (3, 3, 1, round(oracle.quality(docs[3]), 4))]) is None
    assert o.check([(1, 3, 2, q), (3, 3, 1, 0.0)]) is not None
    with pytest.raises(ValueError):
        oracle.DedupOracle(docs, [[1, 3]])


def test_benchmark_json_lists_what_run_reports():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"])


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_tiny_smoke_run(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "0", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        want = {m["name"] for m in json.load(fh)["end_to_end"]}
    assert set(result["metrics"]) == want

"""Benchmark entry point.

    python3 perfbench/run.py --workload build_index --seed 1 --seconds 15 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed under ``.perfbench_work/``, starts the engine on ``local[min(nproc,4)]``,
sets up (session + load + warm-up) several times, then runs the
workload's operations in a closed loop for ``--seconds``, checking every
output against a pure-Python oracle. ``--workload all`` runs every
workload in turn.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` they are the per-layer ones
of a traced run, and the spans are written to
``.perfbench_work/traces/``. Lines before it are a human-readable report
(per-workload metric names, input properties, environment). The exit
code is 0 only when every operation succeeded and matched its oracle.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
from harness import median, percentile, tail_percentile  # noqa: E402
from workloads import WORKLOADS, OpResult  # noqa: E402

#: set-ups per run; ``setup_s`` is their median
SETUP_REPS = 3

#: the engine's modules, as traced layers (span names start with these)
LAYERS = (
    "sources.manifest",
    "functions.text",
    "operators.inverted_index",
    "operators.dedup",
    "operators.text_analysis",
    "sinks.letter_sink",
    "sinks.bucketed",
    "functions.caching",
)

INDEX_FNS = ("search_docs", "bm25_search", "phrase_search_indexed", "merge_index", "index_delete")

PER_LAYER = (
    ["session.start_s", "session.restart_s", "session.peak_rss_mb"]
    + ["sources.manifest." + m for m in ("plan_ms", "scan_s", "tasks")]
    + ["functions.text.tokenize_s", "functions.text.tokens"]
    + ["operators.inverted_index." + m for m in ("map_s", "pairs", "reduce_s", "words", "shuffle_mb")]
    + [f"operators.inverted_index.{f}.{m}" for f in INDEX_FNS for m in ("plan_ms", "exec_ms", "jobs", "tasks")]
    + [f"operators.dedup.{f}.exec_s" for f in ("exact_dedup", "near_dup_clusters", "canonical_docs")]
    + ["operators.dedup." + m for m in ("pairs", "pair_recall", "pair_precision")]
    + ["operators.text_analysis.quality_score.exec_s"]
    + ["sinks.letter_sink." + m for m in ("write_s", "bytes", "tasks")]
    + ["sinks.bucketed.write_ms", "sinks.bucketed.read_ms"]
    + ["functions.caching.live_frames", "functions.caching.cached_mb"]
    + ["spark.jobs", "spark.stages", "spark.tasks"]
    + [f"{layer}.self_s" for layer in LAYERS]
    + ["trace.overhead_pct", "build_index.local1_s", "build_index.cli_s"]
)


def unit_of(name: str) -> str:
    for suffix, unit in (
        ("ops_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
        ("_pct", "%"), ("recall", "ratio"), ("precision", "ratio"), ("bytes", "B"),
    ):
        if name.endswith(suffix):
            return unit
    return "count"


def run_loop(wl, engine, tracer, seconds: float, min_ops: int, i0: int = 0):
    """Closed loop, one client: the next op starts when the last returned.
    Runs for ``seconds``, and at least ``min_ops`` ops.
    Returns the results and the cache census after each op."""
    results, census = [], []
    end = time.perf_counter() + seconds
    i = i0
    while time.perf_counter() < end or i - i0 < min_ops:
        tracer.op_id = i
        try:
            r = wl.op(engine, tracer, i)
        except Exception as e:  # an op that raises is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            r = OpResult("error", 0.0, f"{type(e).__name__}: {e}")
        if r.error:
            print(f"FAILED op {i} ({r.kind}): {r.error}", file=sys.stderr)
        results.append(r)
        census.append(engine.cache_census())
        i += 1
    return results, census


def op_stats(wl, results) -> dict:
    """Headline numbers of a loop, from each op kind's median latency
    weighted by the kind's share of the workload's op cycle, so that a
    run's figures do not hinge on where in the cycle its time ran out.

    ``op_latency_ms`` covers the main ops (builds or reads);
    ``ops_per_s`` is the throughput of one client running the whole cycle,
    writes included, with no time between ops (oracle checks excluded).
    """
    ok = [r for r in results if not r.error]
    by_kind: dict[str, list[float]] = {}
    for r in ok:
        by_kind.setdefault(r.kind, []).append(r.seconds)
    med = {k: median(v) for k, v in by_kind.items()}
    main = [k for k in wl.kinds if k != "update"]
    cycle_s = sum(med.get(k, 0.0) for k in wl.kinds)
    return {
        "n": len(results),
        "failed": len(results) - len(ok),
        "op_latency_ms": sum(med.get(k, 0.0) for k in main) / len(main) * 1e3,
        "ops_per_s": len(wl.kinds) / cycle_s if cycle_s else 0.0,
        "main": [r.seconds for r in ok if r.kind != "update"],
        "updates": by_kind.get("update", []),
        "by_kind": by_kind,
    }


def report_lines(wl, st, setups, extra) -> list[str]:
    """Human-readable metric lines under the workload's own names."""
    lines = [f"setup_s {median(setups):.4f} s (median of set-ups {', '.join(f'{x:.3f}' for x in setups)})"]
    main = st["main"]
    if wl.name == "build_index":
        lines.append(f"build_s {median(main):.4f} s (median of {len(main)} builds)")
    else:
        q = tail_percentile(len(main))
        lines.append(f"query_p50_ms {median(main) * 1e3:.2f} ms (median of {len(main)} reads)")
        if q is None:
            lines.append("query tail: fewer than 20 reads, no percentile has ten beyond it")
        else:
            lines.append(f"query_p{q}_ms {percentile(main, q) * 1e3:.2f} ms (highest percentile with >=10 reads beyond it)")
        ups = st["updates"]
        lines.append(f"update_p50_ms {median(ups) * 1e3:.2f} ms (median of {len(ups)} writes)")
        for k, v in sorted(st["by_kind"].items()):
            lines.append(f"  {k}: n={len(v)} p50={median(v) * 1e3:.2f} ms")
    lines.append(f"op_latency_ms {st['op_latency_ms']:.2f} ms (median per main op kind, weighted by the op mix)")
    lines.append(f"ops_per_s {st['ops_per_s']:.4f} 1/s (one client running the op mix back to back)")
    lines.append(f"failed_frac {st['failed'] / max(st['n'], 1):.4f} ratio ({st['failed']} of {st['n']})")
    for k, v in extra.items():
        lines.append(f"{k} {v}")
    return lines


def traced_metrics(wl, engine, tracer, starts, peak_rss_mb, untraced, traced, census, root) -> dict:
    vals = dict.fromkeys(PER_LAYER, 0.0)
    vals["session.start_s"] = starts[0]  # cold: includes the JVM launch
    vals["session.restart_s"] = median(starts[1:])
    # the JVM and its Python workers, over the traced loop
    vals["session.peak_rss_mb"] = peak_rss_mb
    for f in INDEX_FNS:
        spans = tracer.named(f"operators.inverted_index.{f}")
        spans = [s for s in spans if s["op"] is not None and "plan_end" in s]
        if spans:
            p = f"operators.inverted_index.{f}."
            vals[p + "plan_ms"] = median((s["plan_end"] - s["start"]) * 1e3 for s in spans)
            vals[p + "exec_ms"] = median((s["end"] - s["plan_end"]) * 1e3 for s in spans)
            vals[p + "jobs"] = median(s["jobs"] for s in spans)
            vals[p + "tasks"] = median(s["tasks"] for s in spans)
    for name, key in (("sinks.bucketed.write_bucketed_table", "write_ms"), ("sinks.bucketed.read_table", "read_ms")):
        spans = tracer.named(name)
        if spans:
            vals[f"sinks.bucketed.{key}"] = median((s["end"] - s["start"]) * 1e3 for s in spans)
    if census:
        vals["functions.caching.live_frames"] = max(n for n, _ in census)
        vals["functions.caching.cached_mb"] = max(mb for _, mb in census)
    # Spark work per op: every span of the op (the op span and its children)
    per_op: dict[int, list[int]] = {}
    for s in tracer.spans:
        if s["op"] is not None and s["name"].startswith(("op.", "operators.", "sinks.", "sources.", "functions.")):
            acc = per_op.setdefault(s["op"], [0, 0, 0])
            acc[0] += s["jobs"]
            acc[1] += s["stages"]
            acc[2] += s["tasks"]
    if per_op:
        vals["spark.jobs"] = median(a[0] for a in per_op.values())
        vals["spark.stages"] = median(a[1] for a in per_op.values())
        vals["spark.tasks"] = median(a[2] for a in per_op.values())
    vals["trace.overhead_pct"] = overhead_pct(wl, untraced, traced)
    loop_self = tracer.self_times()  # before the layer chains add spans
    tracer.op_id = None
    vals.update(wl.layers(engine, tracer))
    for name, secs in loop_self.items():
        for layer in LAYERS:
            if name == layer or name.startswith(layer + "."):
                vals[f"{layer}.self_s"] += secs / len(traced)  # per op
                break
    if wl.name == "build_index":
        vals["build_index.cli_s"] = wl.cli_s(root)
        vals["build_index.local1_s"] = wl.local1_build_s(engine, harness.Tracer(engine, False))
    return vals


def overhead_pct(wl, untraced, traced) -> float:
    """Traced vs untraced latency, per op kind present in both halves
    (geometric mean of the per-kind median ratios), in percent."""
    # writes are left out: a traced write forces extra actions of its own
    u, t = op_stats(wl, untraced)["by_kind"], op_stats(wl, traced)["by_kind"]
    logs = [math.log(median(t[k]) / median(u[k])) for k in (u.keys() & t.keys()) - {"update"}]
    return (math.exp(sum(logs) / len(logs)) - 1) * 100 if logs else 0.0


def run_workload(name: str, seed: int, seconds: float, trace: bool, size: str, root: str) -> dict:
    work = os.path.join(root, ".perfbench_work", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pinned = harness.pin_env(work)
    env = harness.environment(root)
    env.update((k, pinned[k]) for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS"))
    engine = harness.Engine()
    try:
        t0 = time.perf_counter()
        wl = WORKLOADS[name](work, seed, size)
        gen_s = time.perf_counter() - t0
        off = harness.Tracer(engine, False)
        setups, starts = [], []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            starts.append(engine.start())
            wl.prepare(engine)
            wl.warmup(engine, off)
            setups.append(time.perf_counter() - t0)
        # the inputs and oracles are large and live to the end: keep the
        # collector from walking them during timed ops
        gc.collect()
        gc.freeze()
        # a traced run splits its time into an untraced and a traced half
        seconds, min_ops = (seconds / 2, wl.min_ops // 2) if trace else (seconds, wl.min_ops)
        results, census = run_loop(wl, engine, off, seconds, min_ops)
        st = op_stats(wl, results)
        extra = {"gen_s": f"{gen_s:.3f} s (inputs + oracle)"}
        traced = []
        if trace:
            tracer = harness.Tracer(engine, True)
            # memory is sampled here only: the sampler thread would share
            # the driver's interpreter with the untraced, timed loop
            with harness.RssSampler(engine.jvm_pid()) as rss:
                traced, census_t = run_loop(wl, engine, tracer, seconds, min_ops, i0=len(results))
            extra["peak_rss_mb"] = f"{rss.peak:.1f} MB"
            metrics = traced_metrics(
                wl, engine, tracer, starts, rss.peak, results, traced, census + census_t, root
            )
            tracer.write(
                os.path.join(root, ".perfbench_work", "traces", f"{name}-seed{seed}.json"),
                {"workload": name, "seed": seed, "per_layer": metrics},
            )
        else:
            metrics = {
                "setup_s": median(setups),
                "op_latency_ms": st["op_latency_ms"],
                "ops_per_s": st["ops_per_s"],
            }
        everything = results + traced
        lines = report_lines(wl, st, setups, extra)
        if traced:
            lines.append(f"traced ops: {len(traced)}, failed {sum(1 for r in traced if r.error)}")
        live = [n for n, _ in census]
        lines.append(f"functions.caching.live_frames after each op: first {live[:1]} last {live[-1:]} max {max(live, default=0)}")
        return {
            "workload": name,
            "attempted": len(everything),
            "failed": sum(1 for r in everything if r.error),
            "metrics": metrics,
            "lines": lines,
            "input": wl.props,
            "env": env,
        }
    finally:
        engine.shutdown()
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mapreduceindex_spark", "__init__.py")):
        print(f"engine package mapreduceindex_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    outs = []
    for name in names:
        out = run_workload(name, args.seed, args.seconds, bool(args.trace), args.size, ROOT)
        print(f"== {name} (seed {args.seed}, {args.seconds:g} s, trace {args.trace})")
        for line in out["lines"]:
            print("  " + line)
        print("  input " + json.dumps(out["input"], sort_keys=True))
        print("  env " + json.dumps(out["env"], sort_keys=True))
        outs.append(out)
    attempted = sum(o["attempted"] for o in outs)
    failed = sum(o["failed"] for o in outs)
    if len(outs) == 1:
        metrics = outs[0]["metrics"]
    else:
        metrics = {f"{o['workload']}.{k}": v for o in outs for k, v in o["metrics"].items()}
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

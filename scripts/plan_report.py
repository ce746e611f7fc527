"""Generate PLANS.md: an executed-plan audit of the headline queries.

For each selected query the report counts the plan features that decide
100 TB behavior — exchanges (shuffles), broadcast vs shuffle joins,
whole-stage-codegen spans, Python (Arrow) stages, pushed parquet filters
and pruned read schemas — and flags the anti-patterns (CartesianProduct,
row-at-a-time PythonUDF in a hot path). The full formatted plan of the
flagship is included verbatim.

Usage::

    python scripts/plan_report.py               # all queries -> PLANS.md
    ONLY=q1,q2 python scripts/plan_report.py out.md   # subset, own file

``ONLY`` restricts the audit to the named queries (as in
``scripts/verify_drive.py``); the optional argument is the output path
(default: PLANS.md at the repo root). A subset report written to its
own path diffs the touched queries between two checkouts without
rewriting the tracked PLANS.md.
"""

from __future__ import annotations

import os
import re
import sys

#: the checkout this script lives in — it runs that tree's code
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.01"

#: The audit covers the FULL batch registry, enumerated from
#: __spark_entry__.queries() in registry order. Streaming queries are
#: excluded here (their plans execute inside the streaming harness; the
#: stateful-plan properties are pinned by tests/test_plan_properties.py
#: and the recovery/eviction tests) and counted in the report banner.


def selected_queries(q):
    names = [n for n in q if not n.startswith("streaming_")]
    only = os.environ.get("ONLY")
    if only:
        wanted = set(only.split(","))
        names = [n for n in names if n in wanted]
    return names


def audit(plan: str, formatted: str) -> dict:
    # shared probes from the library (the CI lint gate uses the same
    # ones, so PLANS.md and the gate cannot drift); only the
    # formatted-plan codegen count and the raw pushed-filter tally are
    # report-specific
    from mapreduceindex_spark.plans import stats_from_text

    out = stats_from_text(plan)
    out["codegen_spans"] = len(
        set(re.findall(r"codegen id : (\d+)", formatted))
    )
    out["pushed_filters"] = len(
        [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m]
    )
    return out


def main() -> None:
    import __spark_entry__ as em
    from mapreduceindex_spark.session import get_spark

    spark = get_spark(app_name="plan_report")
    q = em.queries()
    names = selected_queries(q)
    n_streaming = len(q) - len(names)
    rows = []
    flagship_plan = ""
    for name in names:
        df = q[name](spark, SF)
        # collect() materializes THIS df's own QueryExecution, so AQE
        # finalizes its stages — codegen ids and runtime-chosen join
        # strategies only exist in the final plan (count()/a noop write
        # each spawn a fresh QueryExecution and leave this one initial).
        # All selected queries are small at sf0.01.
        df.collect()
        # the final AQE plan string appends the initial plan under an
        # "== Initial Plan ==" banner — audit only the final section
        plan = (
            df._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        a = audit(plan, formatted)
        rows.append((name, a))
        if name == "inverted_index":
            flagship_plan = formatted

    lines = [
        "# PLANS — executed-plan audit (generated by scripts/plan_report.py)",
        "",
        f"Fixture: `{SF}`. Counts from the AQE **final** plan after one",
        "materialization (runtime-chosen join strategies, coalesced",
        "exchanges, codegen span ids).",
        (
            f"Coverage: the {len(rows)} ONLY= queries (a subset of the batch"
            if os.environ.get("ONLY")
            else f"Coverage: ALL {len(rows)} batch registry queries (every"
        ),
        f"queries() entry not prefixed `streaming_`); the {n_streaming}",
        "streaming queries execute their plans inside the streaming",
        "harness and are audited by tests/test_plan_properties.py and",
        "the eviction/recovery tests instead.",
        "Anti-pattern columns (cartesian products, row-at-a-time Python)",
        "must be zero everywhere except declared Arrow codec/cogroup",
        "stages; `tests/test_plan_properties.py` enforces the same",
        "registry-wide.",
        "",
        "| query | shuffles | range | bcast joins | SMJ/SHJ | codegen spans | arrow stages | row-python | cartesian | pushed filters |",
        "| --- | --- | --- | --- | --- | --- | --- | --- | --- | --- |",
    ]
    for name, a in rows:
        lines.append(
            f"| {name} | {a['exchanges']} | {a['range_exchanges']} | "
            f"{a['broadcast_joins']} | {a['smj_or_shj']} | {a['codegen_spans']} | "
            f"{a['python_stages']} | {a['python_udf_rows']} | {a['cartesian']} | "
            f"{a['pushed_filters']} |"
        )
    lines += [
        "",
        "## Flagship (`inverted_index`) — formatted plan",
        "",
        "```",
        flagship_plan.strip(),
        "```",
        "",
    ]
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "PLANS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    bad = [(n, a) for n, a in rows if a["cartesian"] or a["python_udf_rows"]]
    print(out, "written;", "CLEAN" if not bad else f"ANTI-PATTERNS: {bad}")


if __name__ == "__main__":
    main()

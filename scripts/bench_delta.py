"""Round-over-round bench comparison: diff the two newest
BENCH_SELF_r*.json records and report per-query deltas, flagging
regressions beyond a noise threshold (single-run wall times on this box
vary ±30%, so only >1.4× median shifts are called out).

Usage: python scripts/bench_delta.py [threshold]
"""

from __future__ import annotations

import glob
import json
import os
import sys

#: the checkout this script lives in — its BENCH_SELF records are compared
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    threshold = float(sys.argv[1]) if len(sys.argv) > 1 else 1.4
    paths = sorted(glob.glob(os.path.join(REPO, "BENCH_SELF_r*.json")))
    if len(paths) < 2:
        print(f"need two records, have {paths}")
        return
    prev, cur = (json.load(open(p)) for p in paths[-2:])
    pq, cq = prev["queries"], cur["queries"]
    shared = sorted(set(pq) & set(cq))
    regressed = [
        (n, pq[n], cq[n]) for n in shared if cq[n] > pq[n] * threshold and cq[n] > 0.5
    ]
    improved = [
        (n, pq[n], cq[n]) for n in shared if pq[n] > cq[n] * threshold and pq[n] > 0.5
    ]
    print(
        json.dumps(
            {
                "prev": paths[-2].rsplit("/", 1)[-1],
                "cur": paths[-1].rsplit("/", 1)[-1],
                "total_prev": prev["value"],
                "total_cur": cur["value"],
                "n_shared": len(shared),
                "added": sorted(set(cq) - set(pq)),
                "removed": sorted(set(pq) - set(cq)),
                "regressed": [
                    {"q": n, "prev": a, "cur": b} for n, a, b in sorted(
                        regressed, key=lambda t: t[1] / max(t[2], 1e-9)
                    )
                ],
                "improved": [
                    {"q": n, "prev": a, "cur": b} for n, a, b in sorted(
                        improved, key=lambda t: t[2] / max(t[1], 1e-9)
                    )
                ],
            },
            indent=1,
        )
    )


if __name__ == "__main__":
    main()

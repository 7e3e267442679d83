#!/usr/bin/env python
"""Reduce ab_join_views.py outputs to a per-row A/B table.

    python summarize.py '<parent glob>' '<change glob>' <out.json>

Prints, per row, the median and quartiles of total_s on each side,
the change/parent median ratio, whether the change median lies
outside the parent's interquartile range, and the jobs per row and
per refresh (which do not depend on host load).
"""

from __future__ import annotations

import glob
import json
import statistics
import sys


def _load(pattern):
    return [json.load(open(p)) for p in sorted(glob.glob(pattern))]


def _q(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main() -> int:
    parent, change = _load(sys.argv[1]), _load(sys.argv[2])
    out = {}
    for name in parent[0]["rows"]:
        pa = [r["rows"][name]["total_s"] for r in parent]
        ch = [r["rows"][name]["total_s"] for r in change]
        (p1, pm, p3), (c1, cm, c3) = _q(pa), _q(ch)
        out[name] = {
            "parent_s": {"q1": p1, "median": pm, "q3": p3, "runs": pa},
            "change_s": {"q1": c1, "median": cm, "q3": c3, "runs": ch},
            "ratio": round(cm / pm, 3),
            "slower_than_parent_spread": cm > p3,
            "parent_jobs": [r["rows"][name]["jobs"] for r in parent],
            "change_jobs": [r["rows"][name]["jobs"] for r in change],
            "parent_refresh_jobs": [
                (x["mode"], x["jobs"]) for x in parent[0]["rows"][name]["refreshes"]
            ],
            "change_refresh_jobs": [
                (x["mode"], x["jobs"]) for x in change[0]["rows"][name]["refreshes"]
            ],
        }
        print(
            f"{name:36s} parent {pm:7.2f}s [{p1:.2f},{p3:.2f}]  "
            f"change {cm:7.2f}s [{c1:.2f},{c3:.2f}]  x{cm / pm:.2f}"
            f"{'  SLOWER' if cm > p3 else ''}  jobs "
            f"{out[name]['parent_jobs'][0]}->{out[name]['change_jobs'][0]}"
        )
    with open(sys.argv[3], "w") as f:
        json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

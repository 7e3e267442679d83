#!/usr/bin/env python
"""Time view bench rows (default: the seven join-view rows) in one
checkout.

    python ab_join_views.py <checkout> <sf_dir> <out.json> [row,row,...]

Starts a fresh local[$SPARK_GRAFT_CPUS] session from <checkout>'s
package, warms it the way bench.py does, then runs each row's
registry PHASES build + serve (bench.py's timed regions) once; a row
without PHASES runs as one query, timed as its build. Per
row it records build_s, serve_s, the Spark jobs the row submitted,
and the jobs of every view refresh inside it (each class's
``refresh`` is wrapped; jobs are counted from the DAG scheduler's job
id counter, so jobs submitted from helper threads are included).

Run it alternately against two checkouts (A B B A A B ...) to compare
them on one host; summarize.py reduces the JSON files.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROWS = [
    "join_matview_nation_revenue",
    "left_join_matview_revenue",
    "delta_join_matview_nation_revenue",
    "left_delta_matview_revenue",
    "chain_matview_region_revenue",
    "left_chain_matview_revenue",
    "delta_chain_matview_region_revenue",
]


def main() -> int:
    checkout, sf_dir, out_path = sys.argv[1:4]
    rows = sys.argv[4].split(",") if len(sys.argv) > 4 else ROWS
    sys.path.insert(0, os.path.abspath(checkout))
    from rds_to_datalake_project_spark.operators import matview
    from rds_to_datalake_project_spark.plans.registry import PHASES, QUERIES
    from rds_to_datalake_project_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark(
        app_name="ab_join_views",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sched = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs_submitted() -> int:
        return int(sched.nextJobId())

    refreshes: list[dict] = []

    def _wrap(cls):
        inner = cls.__dict__["refresh"]

        def refresh(self):
            j0, t0 = jobs_submitted(), time.perf_counter()
            info = inner(self)
            refreshes.append(
                {
                    "view": type(self).__name__,
                    "mode": info["mode"],
                    "jobs": jobs_submitted() - j0,
                    "s": round(time.perf_counter() - t0, 4),
                }
            )
            return info

        cls.refresh = refresh

    for obj in vars(matview).values():
        if isinstance(obj, type) and "refresh" in obj.__dict__:
            _wrap(obj)

    # bench.py's warmup: JVM/codegen path and the parquet committer
    QUERIES["order_priority_stats"](spark, sf_dir).count()
    spark.range(1).write.mode("overwrite").parquet(
        os.path.join(os.environ.get("TMPDIR", "/tmp"), "ab_warm")
    )
    out = {
        "checkout": os.path.basename(os.path.abspath(checkout)),
        "sf_dir": os.path.basename(sf_dir.rstrip("/")),
        "rows": {},
    }
    for name in rows:
        spark.catalog.clearCache()
        build, serve = PHASES.get(
            name, (QUERIES[name], lambda spark, sf_dir, df: df)
        )
        del refreshes[:]
        j0 = jobs_submitted()
        t0 = time.perf_counter()
        handle = build(spark, sf_dir)
        build_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        n = serve(spark, sf_dir, handle).count()
        serve_s = time.perf_counter() - t1
        out["rows"][name] = {
            "build_s": round(build_s, 4),
            "serve_s": round(serve_s, 4),
            "total_s": round(build_s + serve_s, 4),
            "rows": n,
            "jobs": jobs_submitted() - j0,
            "refreshes": list(refreshes),
        }
        print(f"# {name}: {build_s + serve_s:.3f}s", file=sys.stderr)
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

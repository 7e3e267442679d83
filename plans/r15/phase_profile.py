#!/usr/bin/env python
"""Split the matview_rewrite_rollup build into its phases in one
checkout: base initial_load, the CREATE statement, temp-view
publishes, the base upsert and every view refresh (the upsert's time
includes the refresh its AUTO hook runs).

    python phase_profile.py <checkout> <sf_dir> <out.json>

One session, three builds; run it alternately against two checkouts.
"""

import json
import sys
import time

checkout, sf_dir, out = sys.argv[1:4]
sys.path.insert(0, checkout)
from rds_to_datalake_project_spark.session import get_spark
from rds_to_datalake_project_spark.plans.registry import PHASES, QUERIES
from rds_to_datalake_project_spark import sql as S
from rds_to_datalake_project_spark.operators import matview, upsert
spark = get_spark(app_name="p", master="local[4]", shuffle_partitions=4, extra_conf={"spark.ui.showConsoleProgress": "false"})
T = {}
def wrap(obj, name, key):
    f = getattr(obj, name)
    def w(*a, **k):
        t0 = time.perf_counter()
        try:
            return f(*a, **k)
        finally:
            T.setdefault(key, []).append(round(time.perf_counter() - t0, 4))
    setattr(obj, name, w)
wrap(S, "_publish_matview", "publish")
wrap(S, "_create_matview_statement", "create_stmt")
wrap(upsert.KeyedTable, "initial_load", "initial_load")
wrap(upsert.KeyedTable, "upsert", "upsert")
wrap(matview.ChainMaterializedView, "refresh", "refresh")
for cls in vars(matview).values():
    if isinstance(cls, type) and "refresh" in cls.__dict__ and cls is not matview.ChainMaterializedView:
        wrap(cls, "refresh", "refresh")
QUERIES["order_priority_stats"](spark, sf_dir).count()
res = []
for rep in range(3):
    T.clear()
    build, serve = PHASES["matview_rewrite_rollup"]
    t0 = time.perf_counter(); h = build(spark, sf_dir); b = time.perf_counter() - t0
    res.append({"build": round(b, 4), **{k: v for k, v in T.items()}})
json.dump(res, open(out, "w"), indent=1)

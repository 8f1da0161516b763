#!/usr/bin/env python
"""Per-headliner profiling for the optimization rounds (guide §1).

For each headline query: DataFrame-BUILD time (driver-side Python/py4j/
planning work paid inside the bench's timed region), EXEC time (collect),
and the Spark job count per run — plus the formatted physical plan dumped
to a directory for before/after evidence.

Next to the jobs it lists each run's whole-stage codegen compiles (one
per generated-code cache miss). Runs go pass by pass over the query set,
so a query whose later runs still compile is missing the cache: either
the cache is smaller than the set's working set, or the query's generated
source changes from run to run.

Usage: python scripts/profile_headliners.py [out_dir] [name ...]
  SPARK_GRAFT_SF_DIR  data dir (default /root/testdata/sf0.1)
  PROFILE_N           runs per query (default 5)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatacw1_spark.plans import formatted_plan  # noqa: E402
from bigdatacw1_spark.queries import REGISTRY  # noqa: E402
from bigdatacw1_spark.session import get_spark  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    out_dir = args[0] if args else None
    names = args[1:] if len(args) > 1 else sorted(
        n for n, s in REGISTRY.items() if s.headline
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("PROFILE_N", "5"))

    spark = get_spark(app_name="profile-headliners")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    compiles = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    # Warm-up identical to bench.py
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "documents", "embeddings"):
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).schema

    # Runs go pass by pass over all names, as in a perfbench pass, so a run
    # after the first finds the codegen cache as the other queries left it.
    runs = {name: {"build": [], "exec": [], "jobs": [], "compiles": []} for name in names}
    plans = {}
    for i in range(n_runs):
        for name in names:
            r = runs[name]
            sc.setJobDescription(f"profile:{name}:{i}")
            j0 = len(tracker.getJobIdsForGroup(None) or [])
            c0 = compiles.getCount()
            t0 = time.perf_counter()
            df = REGISTRY[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.collect()
            t2 = time.perf_counter()
            r["jobs"].append(len(tracker.getJobIdsForGroup(None) or []) - j0)
            r["compiles"].append(compiles.getCount() - c0)
            r["build"].append(t1 - t0)
            r["exec"].append(t2 - t1)
            if name not in plans:
                plans[name] = formatted_plan(df)
    sc.setJobDescription(None)

    report = {}
    for name in names:
        builds, execs = runs[name]["build"], runs[name]["exec"]
        report[name] = {
            "build_ms_min": round(min(builds) * 1000, 1),
            "build_ms_mean": round(sum(builds) / len(builds) * 1000, 1),
            "exec_ms_min": round(min(execs) * 1000, 1),
            "exec_ms_mean": round(sum(execs) / len(execs) * 1000, 1),
            "total_ms_min": round(min(b + e for b, e in zip(builds, execs)) * 1000, 1),
            "jobs": runs[name]["jobs"][-1],
            "codegen_compiles": runs[name]["compiles"],
        }
        if out_dir:
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
                f.write(plans[name])
        print(f"{name}: {json.dumps(report[name])}", flush=True)
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

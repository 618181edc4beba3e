"""Time ONE registered query at an arbitrary SF dir: best-of-N warm
wall seconds, printed as a single JSON line. Meant to be driven per
query under an external `timeout` so a single blowup cannot stall a
whole scaling sweep (the sf10 protocol in SCALING.md):

    timeout 600 python tools/time_one.py <query> [sf_dir] [runs]

The line also splits off the build phase: `build_s` is the best run's
wall until the entry's DataFrame exists, before any action on it (an
entry's own eager jobs, such as index builds or pilot passes, count
here), and `py4j_calls` the driver-to-JVM round trips of that phase
(`session.count_py4j_calls`) in the last run. `spark_jobs` is the
number of Spark jobs the best run started, build and action together
(each run goes under its own job group).

Set AQE_TIME_COUNT=1 to measure plan execution throughput WITHOUT
driver materialization (df.count() instead of .collect()) — the right
measure for entries whose output is itself large (pair lists), where
collect() would time driver serialization rather than the engine.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/.scaling_sf10"
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    count_mode = os.environ.get("AQE_TIME_COUNT") == "1"

    from approximatequeryengine_spark import get_spark
    from approximatequeryengine_spark.session import count_py4j_calls
    from approximatequeryengine_spark.workload import QUERIES

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name=f"time-{name}", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES["exact_count"](spark, sf_dir).collect()  # warm session + footers

    sc = spark.sparkContext
    samples, builds, jobs, n_rows = [], [], [], None
    for i in range(runs):
        group = f"time-{name}-{i}"
        sc.setJobGroup(group, group)
        t0 = time.time()
        with count_py4j_calls(spark) as calls:
            df = QUERIES[name](spark, sf_dir)
        builds.append(round(time.time() - t0, 3))
        n_rows = df.count() if count_mode else len(df.collect())
        samples.append(round(time.time() - t0, 3))
        sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store fills from the listener bus asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    best = samples.index(min(samples))
    print(json.dumps({
        "query": name, "sf_dir": sf_dir, "best": samples[best],
        "samples": samples, "build_s": builds[best], "py4j_calls": calls.n,
        "spark_jobs": jobs[best],
        "rows": n_rows, "mode": "count" if count_mode else "collect",
    }))
    spark.stop()


if __name__ == "__main__":
    main()

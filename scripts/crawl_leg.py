#!/usr/bin/env python
"""Round-6 crawl-leg profiler: the EXACT bench.py run_crawl shape
(same cfg, same seeds, same warmup protocol) with an event log attached
so evlog_stages.py can attribute per-stage cost. Analysis only — all
A/B numbers quoted in OPTIMIZATION_r06.md come from the frozen
bench.py --crawl-only in a fresh JVM.

Env: SPARK_GRAFT_BENCH_TWO_WAVE=0/1, SPARK_GRAFT_EVENTLOG=<dir>.
Per-layer spans and per-round Spark-idle time come from
``python3 perfbench/run.py --trace 1``.
"""

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

import bench  # noqa: E402  (the frozen harness: reuse its cfg/protocol)


def main():
    from dnscrawler_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "20g")
    n = bench._cpus()
    extra = None
    ev_dir = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if ev_dir:
        os.makedirs(ev_dir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{ev_dir}",
        }
    spark = get_spark(
        app_name="crawl_leg_profile",  # no "bench": skip session warmup
        master=f"local[{n}]",
        shuffle_partitions=max(64, 2 * n),
        extra_conf=extra,
    )
    res = bench.run_crawl(spark)
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()

"""Solo-profile one or more keys: per-Spark-job wall breakdown.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/profile_key.py key [key...]

Runs each key (warmup at sf0.001, then timed at $SPARK_GRAFT_SF_DIR into
the noop sink) under its own job group, then dumps every Spark job the
key submitted — duration, task count and call site —
read from Spark's status store with the UI off, so the expensive jobs
inside a scenario key are visible without the interactive UI.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    keys = sys.argv[1:]
    from hadoop_tools_spark import all_queries  # noqa: F401
    from hadoop_tools_spark.registry import QUERIES
    from hadoop_tools_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile_key")
    spark.range(1).collect()
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store = jsc.statusStore()

    def jobs_in(group):
        jsc.listenerBus().waitUntilEmpty()
        out = []
        for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
            j = store.job(jid)
            start, end = j.submissionTime(), j.completionTime()
            dur = None
            if start.isDefined() and end.isDefined():
                dur = (end.get().getTime() - start.get().getTime()) / 1e3
            # the job's call site: its description is the group's key
            out.append((jid, dur, j.numTasks(), j.name()[:110]))
        return out

    for key in keys:
        # warmup
        try:
            QUERIES[key](spark, "/root/testdata/sf0.001").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception as e:
            print(f"warmup {key}: {type(e).__name__}: {e}", file=sys.stderr)
        spark.catalog.clearCache()
        group = f"profile.{key}"
        sc.setJobGroup(group, key)
        t0 = time.time()
        QUERIES[key](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        wall = time.time() - t0
        print(f"\n=== {key}: {wall:.2f}s total ===")
        tot = 0.0
        for jid, dur, ntasks, desc in jobs_in(group):
            tot += dur or 0
            print(f"  job {jid:4d}  {dur if dur is not None else -1:7.2f}s  "
                  f"tasks={ntasks:<5} {desc}")
        print(f"  (sum of job walls {tot:.2f}s; gaps = driver-side work)")
        spark.catalog.clearCache()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

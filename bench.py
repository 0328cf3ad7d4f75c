"""Headline benchmark harness (SURVEY.md §7 M7; driver-run per round).

Runs every registered query at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes end-to-end into the noop sink so the full physical
plan runs (scan + shuffle + agg) without driver-side collection cost.

Environment:

- ``SPARK_GRAFT_SF_DIR``: input directory (default: the sf0.1 test data);
- ``SPARK_GRAFT_WARMUP=0``: skip the untimed warmup pass at sf0.001;
- ``SPARK_GRAFT_BENCH_PASSES``: timed passes, the min per key is kept
  (default 2).

``BENCH_FULL.json`` holds every key's wall in ``queries`` and, for each
key with a non-negative wall, ``task_sec``: the executor task-seconds
of the pass whose wall was kept, read per job group from Spark's status
store (``perfbench/probes.py::StageProbe``) with the UI off.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hadoop_tools_spark import all_queries, registry  # noqa: E402
from hadoop_tools_spark.session import get_spark  # noqa: E402
from perfbench.probes import StageProbe  # noqa: E402

#: queries timed for the headline metric — one per major operator family.
HEADLINE = [
    "q1_pricing_summary",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    spark.range(1).collect()  # absorb session startup outside timings

    headline = [k for k in HEADLINE if k in registry.QUERIES]
    extra = [k for k in sorted(registry.QUERIES) if k not in headline]

    # Steady-state measurement: one untimed pass at the smallest SF
    # first, so the timed numbers reflect warm JIT/codegen rather than
    # first-touch compilation of each query's physical plan. Disable
    # with SPARK_GRAFT_WARMUP=0.
    if os.environ.get("SPARK_GRAFT_WARMUP", "1") != "0":
        warm_dir = "/root/testdata/sf0.001"
        if os.path.isdir(warm_dir):
            for key in headline + extra:
                try:
                    registry.QUERIES[key](spark, warm_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
                except Exception:  # warmup is best-effort
                    pass
            spark.catalog.clearCache()

    # Two timed passes, per-query MIN: transient host noise showed up
    # as a random single query spiking 10-40× (a different one each
    # run) while every other key held steady. The min of two
    # cache-isolated runs is the steady-state number; run-to-run
    # totals went from 97↔167 s swings to stable.
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    timings: dict[str, float] = {}
    task_secs: dict[str, float] = {}
    probe = StageProbe(spark)
    for i in range(n_passes):
        for key in headline + extra:
            fn = registry.QUERIES[key]
            group = f"bench.{i}.{key}"
            spark.sparkContext.setJobGroup(group, key)
            t0 = time.time()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # pragma: no cover - bench must always emit JSON
                print(f"bench error {key}: {type(e).__name__}: {e}", file=sys.stderr)
                timings.setdefault(key, -1.0)
            else:
                dt = round(time.time() - t0, 3)
                prev = timings.get(key)
                if prev is None or prev < 0 or dt < prev:
                    timings[key] = dt
                    # the kept pass's task time, read from the status
                    # store outside the timed region
                    task_secs[key] = round(probe.group(group)["task_s"], 3)
            # isolate measurements: operators cache intermediates for
            # reuse within one query; letting 90+ queries' caches
            # accumulate in a single JVM starves executor memory and
            # skews late queries
            spark.catalog.clearCache()
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Full per-key detail goes to a file; stdout gets ONE compact JSON
    # line. Round 1's 3.5 KB line overflowed the driver's stdout tail
    # capture and parsed as null, so the printed line is kept under
    # MAX_LINE bytes: slowest keys first, truncated to fit, with the
    # full dict always available in BENCH_FULL.json.
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"),
        "w",
    ) as fh:
        doc = {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "n_queries": len(timings),
            "queries": timings,
            "sf": sf_val,
            # executor task-seconds per key, same pass as the recorded
            # wall: task/wall >> 1 means the key parallelizes, task/wall
            # << 1 means the wall is driver/planning floor. Never
            # printed on the stdout line (size budget).
            "task_sec": {k: task_secs[k] for k in sorted(task_secs)},
        }
        json.dump(doc, fh, sort_keys=True)
        fh.write("\n")

    MAX_LINE = 1600
    shown: dict[str, float] = {}
    envelope = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "queries": shown,
        "sf": sf_val,
    }
    by_cost = sorted(timings, key=lambda k: -timings[k])
    for key in by_cost:
        shown[key] = round(timings[key], 2)
        if len(json.dumps(envelope, separators=(",", ":"))) > MAX_LINE:
            del shown[key]
            break
    print(json.dumps(envelope, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()

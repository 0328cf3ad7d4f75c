"""Memory-pressure rehearsal for the widest shuffles (VERDICT r6 ask #5).

The k×-gram explode (`llm_dedup_substring`), its hashed twin, and
`llm_tokenize_apply` had only ever run with 128 GiB free — "spills
instead of OOMing" was asserted, never demonstrated. This tool runs
them at sf1 inside a DELIBERATELY small JVM (local[8], 2 GiB heap —
per-core share ~256 MB against a ~6 M-row fixture) and asserts each
key completes AND actually spilled (memory/disk spill bytes from
Spark's status store, with the UI off), i.e. the execution-memory
manager degrades to disk instead of dying.

Runs each key in its OWN subprocess so a heap that does blow up fails
that key alone, and the JVM size is per-run (driver memory cannot
change after the gateway launches).

Usage: python tools/make_sf1.py /tmp/sf1 && \
       python tools/rehearse_memory.py [/tmp/sf1] [key ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: key -> expectation under a 2 GiB heap at sf1.
#: "spill": the shuffle working set exceeds exec memory — the key must
#:   complete AND report spill bytes > 0 (proves degradation to disk).
#: "bounded": the key's working set lives in Python-side Arrow batches
#:   (measured: llm_tokenize_apply peaks at 38 MB exec memory even in
#:   a 640 MB JVM) — the assertion is completion with peak execution
#:   memory far below the heap, i.e. the JVM side genuinely is narrow.
DEFAULT_KEYS = {
    "llm_dedup_substring": "spill",
    "llm_substring_dedup_hashed": "spill",
    "llm_tokenize_apply": "bounded",
}

_RUNNER = r"""
import json, sys, time
sys.path.insert(0, sys.argv[1])
import os
os.chdir(sys.argv[1])
key, sf_dir, heap = sys.argv[2], sys.argv[3], sys.argv[4]
from pyspark.sql import SparkSession
from hadoop_tools_spark import all_queries, registry
from hadoop_tools_spark.session import ensure_session_confs

spark = (
    SparkSession.builder.master("local[8]")
    .appName(f"mem-rehearsal-{key}")
    .config("spark.driver.memory", heap)
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
ensure_session_confs(spark)
t0 = time.time()
rows = registry.QUERIES[key](spark, sf_dir).count()
wall = time.time() - t0

# every stage of the run, from the status store (no UI server): all
# statuses, no task details, no quantiles
jsc = spark.sparkContext._jsc.sc()
jsc.listenerBus().waitUntilEmpty()
no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
stages = jsc.statusStore().stageList(None, False, False, no_quantiles, None)
stages = [stages.apply(i) for i in range(stages.size())]
mem_spill = sum(s.memoryBytesSpilled() for s in stages)
disk_spill = sum(s.diskBytesSpilled() for s in stages)
peak = max((s.peakExecutionMemory() for s in stages), default=0)
print("MEMJSON:" + json.dumps({
    "key": key, "rows": rows, "wall_s": round(wall, 1),
    "memory_spill_mb": round(mem_spill / 1048576, 1),
    "disk_spill_mb": round(disk_spill / 1048576, 1),
    "peak_exec_mem_mb": round(peak / 1048576, 1),
    "heap": heap,
}))
spark.stop()
"""


def run_key(key: str, sf_dir: str, heap: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _RUNNER, REPO, key, sf_dir, heap],
        capture_output=True,
        text=True,
        timeout=1800,
    )
    for line in out.stdout.splitlines():
        if line.startswith("MEMJSON:"):
            return json.loads(line[len("MEMJSON:"):])
    tail = (out.stderr or out.stdout)[-1500:]
    return {"key": key, "err": f"no result (rc={out.returncode}): {tail}"}


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/tmp/sf1"
    keys = (args[1:] if args and os.path.isdir(args[0]) else args) or DEFAULT_KEYS
    heap = os.environ.get("MEM_REHEARSAL_HEAP", "2g")
    results, bad = {}, []
    for key in keys:
        expect = DEFAULT_KEYS.get(key, "spill")
        r = run_key(key, sf_dir, heap)
        r["expect"] = expect
        results[key] = r
        print(key, json.dumps(r))
        if "err" in r:
            bad.append((key, "failed"))
        elif expect == "spill" and (
            r["memory_spill_mb"] + r["disk_spill_mb"] <= 0
        ):
            bad.append((key, "no spill — heap not under pressure, tighten it"))
        elif expect == "bounded" and r["peak_exec_mem_mb"] > 512:
            bad.append((key, "exec memory not bounded — not a narrow-JVM key"))
    print(json.dumps({"sf_dir": sf_dir, "heap": heap, "results": results}))
    if bad:
        print(f"MEM REHEARSAL ISSUES: {bad}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())

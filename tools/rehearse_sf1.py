"""sf1 scale rehearsal (VERDICT r2 ask #7).

Runs the headline scale-sensitive keys against a 10×-amplified sf1
directory (see tools/make_sf1.py), recording wall time, rows, Python
driver peak RSS, JVM peak heap and spill — evidence that the plans
survive a 10× scale-up rather than a design argument. Spill is read per
key job group from Spark's status store, with the UI off.

Usage: python tools/make_sf1.py /tmp/sf1 && \
       python tools/rehearse_sf1.py /tmp/sf1 [key ...]
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_KEYS = [
    "q5_local_supplier",
    "q8_market_share",
    "q21_waiting_supplier",
    "llm_tfidf",
    "llm_embed_neardup",
    "llm_neardup_lsh",
]


def jvm_peak_heap_mb(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    total = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().toString() == "Heap memory":
            peak = pool.getPeakUsage()
            if peak is not None:
                total += peak.getUsed()
    return total / (1024 * 1024)


#: whole-board gate (VERDICT r8 ask #6): a key whose sf1 wall exceeds
#: this multiple of the prior board's recorded wall is flagged — a
#: scale regression in a mid-cost key can no longer hide below the
#: PLANS_SF1 top-30 cut. Same threshold class as bench_ab's triage:
#: walls at second granularity on a shared box need a wide band.
BOARD_GATE_RATIO = 2.0
#: keys under this wall on BOTH boards are exempt from the ratio gate
#: (0.2 s -> 0.5 s is scheduler noise, not a plan change)
BOARD_GATE_MIN_S = 1.0
BOARD_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "SF1_BOARD.json",
)


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--accept-board"]
    accept_board = "--accept-board" in sys.argv[1:]
    args = [a for a in argv if a != "--all"]
    run_all = "--all" in argv
    if run_all and len(args) > 1:
        # a subset run must never replace the full-board baseline
        # (r9 review: it would erase every other key's prior wall)
        print("--all takes no explicit keys", file=sys.stderr)
        return 2
    sf_dir = args[0] if args else "/tmp/sf1"
    keys = args[1:] or (None if run_all else DEFAULT_KEYS)

    import __spark_entry__ as entry_mod
    from hadoop_tools_spark.session import get_spark
    from perfbench.probes import StageProbe

    spark = get_spark("sf1-rehearsal")
    probe = StageProbe(spark)
    qs = entry_mod.queries()
    if keys is None:
        keys = sorted(qs)
    results = {}
    for key in keys:
        spark.sparkContext.setJobGroup(key, key)
        t0 = time.time()
        try:
            n = qs[key](spark, sf_dir).count()
            err = None
        except Exception as e:
            n, err = -1, f"{type(e).__name__}: {str(e)[:150]}"
        wall = time.time() - t0
        results[key] = {
            "wall_s": round(wall, 2),
            "rows": n,
            "err": err,
            "py_rss_mb": round(
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1
            ),
            "jvm_peak_heap_mb": round(jvm_peak_heap_mb(spark), 1),
            # memory + disk spill of the key's job group (r11 verdict
            # ask #4), read from the status store with the UI off
            "spill_mb": round(probe.group(key)["spill_mb"], 1),
        }
        print(key, json.dumps(results[key]))
        spark.catalog.clearCache()
    print(json.dumps({"sf_dir": sf_dir, "results": results}))

    if run_all:
        # compare against the prior committed board, then replace it
        prior = {}
        if os.path.exists(BOARD_PATH):
            with open(BOARD_PATH) as fh:
                prior = json.load(fh).get("results", {})
        flagged = []
        for key, r in results.items():
            p = prior.get(key)
            if r["err"]:
                flagged.append((key, "ERR", r["err"]))
            elif p and not p.get("err"):
                if (
                    r["wall_s"] > BOARD_GATE_MIN_S
                    and p["wall_s"] > 0
                    and r["wall_s"] / max(p["wall_s"], BOARD_GATE_MIN_S)
                    > BOARD_GATE_RATIO
                ):
                    flagged.append(
                        (key, f"{r['wall_s']}s vs prior {p['wall_s']}s", "")
                    )
        total = round(sum(r["wall_s"] for r in results.values()), 1)
        # a flagged board does NOT replace the baseline (r9 review: it
        # would make a second run of the same regressed code report
        # clean); pass --accept-board after triaging to adopt it
        if not flagged or accept_board:
            with open(BOARD_PATH, "w") as fh:
                json.dump(
                    {
                        "sf_dir": sf_dir,
                        "total_wall_s": total,
                        "n_keys": len(results),
                        "results": results,
                    },
                    fh,
                    indent=1,
                    sort_keys=True,
                )
        print(
            json.dumps(
                {
                    "board": BOARD_PATH,
                    "board_replaced": not flagged or accept_board,
                    "total_wall_s": total,
                    "n_keys": len(results),
                    "gate_flagged": [
                        {"key": k, "why": w, "err": e} for k, w, e in flagged
                    ],
                }
            )
        )
        return 1 if flagged else 0
    return 0


if __name__ == "__main__":
    sys.exit(main())

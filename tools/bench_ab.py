"""Same-box A/B timing of registered keys: working tree vs a git rev.

Round-6 lesson (SURVEY §8 r6.13, BASELINE admission rule): a bench
total is only comparable same-box-same-day. When a key looks
regressed vs a recorded board, time it under BOTH code states on the
box AS IT IS NOW before concluding anything — a 36 s apparent r6
regression decomposed into ~24 s real (decimal-sum tax) and ~12 s
shared-box noise exactly this way.

Usage: python tools/bench_ab.py <git-rev> key [key ...]
       python tools/bench_ab.py <git-rev> --all [--json]

Creates a throwaway worktree for <git-rev> under /tmp, runs each side
in its own process (old first, then new — each with warmup and
min-of-2, cache-isolated), prints a per-key table and removes the
worktree. Keys missing on either side are reported, not fatal.

``--all`` runs the FULL registered board on both sides — the
box-independent round-close measurement (r6 verdict ask #1: recorded
boards from different days differ by a 1.2–1.4× box factor; only a
same-box-same-day A/B yields trustworthy per-key ratios). ``--json``
additionally writes ``BENCH_AB.json`` at the repo root
(``{"rev": ..., "ab": {key: {"old": s, "new": s, "ratio": r}}}``).
The table stands on its own: ``bench.py`` does not read it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: full-board ratio above which a mover is automatically re-A/B'd solo
TRIAGE_THRESHOLD = 1.3

_RUNNER = r"""
import sys, time, json, os
sys.path.insert(0, sys.argv[1])
os.chdir(sys.argv[1])
from hadoop_tools_spark import all_queries, registry
from hadoop_tools_spark.session import get_spark
keys = [k for k in sys.argv[2:] if k in registry.QUERIES]
missing = [k for k in sys.argv[2:] if k not in registry.QUERIES]
spark = get_spark("bench_ab")
spark.range(1).collect()
sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
for k in keys:  # warm pass at the smallest SF
    try:
        registry.QUERIES[k](spark, "/root/testdata/sf0.001").write.format(
            "noop").mode("overwrite").save()
    except Exception:
        pass
spark.catalog.clearCache()
best = {}
errors = set()
for _ in range(2):
    for k in keys:
        t0 = time.time()
        try:
            registry.QUERIES[k](spark, sf).write.format("noop").mode(
                "overwrite").save()
            t = time.time() - t0
            if k not in best or t < best[k]:
                best[k] = t
        except Exception as e:
            errors.add(k)
            print(f"ab error {k}: {e}", file=sys.stderr)
        spark.catalog.clearCache()
# a key is errored only if NO attempt succeeded; one flaky attempt
# must not poison (or overwrite) a valid measurement
for k in errors - set(best):
    best[k] = -1.0
print("ABJSON:" + json.dumps({"best": best, "missing": missing}))
spark.stop()
"""


def _run_side(tree: str, keys: list[str]) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _RUNNER, tree, *keys],
        capture_output=True,
        text=True,
    )
    for line in out.stdout.splitlines():
        if line.startswith("ABJSON:"):
            return json.loads(line[len("ABJSON:"):])
    raise RuntimeError(
        f"runner produced no result for {tree}:\n{out.stderr[-2000:]}"
    )


def main() -> None:
    args = sys.argv[1:]
    write_json = "--json" in args
    run_all = "--all" in args
    args = [a for a in args if a not in ("--json", "--all")]
    if not args or (not run_all and len(args) < 2):
        print(__doc__)
        sys.exit(2)
    rev, keys = args[0], args[1:]
    if run_all:
        sys.path.insert(0, REPO)
        from hadoop_tools_spark import all_queries, registry  # noqa: F401

        keys = sorted(registry.QUERIES)
    old_tree = f"/tmp/bench_ab_{rev.replace('/', '_')}"
    subprocess.run(
        ["git", "-C", REPO, "worktree", "add", "--force", old_tree, rev],
        check=True,
        capture_output=True,
    )
    triage: dict[str, dict] = {}
    try:
        old = _run_side(old_tree, keys)
        new = _run_side(REPO, keys)
        # automatic outlier triage (r7 verdict ask #7): any >1.3x mover
        # on the full board is re-A/B'd TARGETED — solo key, fresh
        # session per side, min-of-2 inside the runner — while the
        # worktree is still alive, so the triage verdict lands in the
        # artifact with zero manual steps. The solo re-run isolates the
        # key from board-order scheduling noise, which is what cleared
        # all six r7 movers by hand.
        movers = sorted(
            k for k in keys
            if (old["best"].get(k) or 0) > 0
            and (new["best"].get(k) or 0) > 0
            and new["best"][k] / old["best"][k] > TRIAGE_THRESHOLD
        )
        for k in movers:
            o2 = _run_side(old_tree, [k])["best"].get(k)
            n2 = _run_side(REPO, [k])["best"].get(k)
            ratio = (
                round(n2 / o2, 3)
                if o2 and n2 and o2 > 0 and n2 > 0 else None
            )
            triage[k] = {
                "board_ratio": round(new["best"][k] / old["best"][k], 3),
                "old": round(o2, 3) if o2 and o2 > 0 else None,
                "new": round(n2, 3) if n2 and n2 > 0 else None,
                "ratio": ratio,
                "verdict": (
                    "rerun-failed" if ratio is None
                    else "noise" if ratio <= TRIAGE_THRESHOLD
                    else "real?"
                ),
            }
    finally:
        subprocess.run(
            ["git", "-C", REPO, "worktree", "remove", "--force", old_tree],
            capture_output=True,
        )
        subprocess.run(
            ["git", "-C", REPO, "worktree", "prune"], capture_output=True
        )
    print(f"{'key':40s} {rev[:12]:>12s} {'worktree':>10s} {'ratio':>7s}")
    ab: dict[str, dict] = {}
    for k in keys:
        o, n = old["best"].get(k), new["best"].get(k)
        if o is None or n is None:
            print(f"{k:40s} {'—':>12s} {'—':>10s}   (missing on a side)")
            continue
        ratio = f"{n / o:6.2f}x" if o and o > 0 else "    —"
        print(f"{k:40s} {o:12.3f} {n:10.3f} {ratio:>7s}")
        ab[k] = {
            "old": round(o, 3),
            "new": round(n, 3),
            "ratio": round(n / o, 3) if o and o > 0 and n > 0 else None,
        }
    if triage:
        print(f"\ntriage re-runs (board ratio > {TRIAGE_THRESHOLD}x, solo):")
        for k, t in sorted(triage.items()):
            solo = f"{t['ratio']:.2f}x" if t["ratio"] else "—"
            # a rerun with no usable ratio is a MEASUREMENT failure —
            # it must not masquerade as a suspected real regression
            if t["ratio"] is None:
                verdict = "RERUN-FAILED"
            elif t["ratio"] <= TRIAGE_THRESHOLD:
                verdict = "noise"
            else:
                verdict = "REAL?"
            print(f"  {k:38s} board {t['board_ratio']:.2f}x "
                  f"-> solo {solo}  [{verdict}]")
    if old["missing"] or new["missing"]:
        print(f"missing old={old['missing']} new={new['missing']}")
    ok = [v["ratio"] for v in ab.values() if v["ratio"]]
    if ok:
        tot_o = sum(v["old"] for v in ab.values() if v["ratio"])
        tot_n = sum(v["new"] for v in ab.values() if v["ratio"])
        print(
            f"\n{len(ok)} keys A/B'd: total {tot_o:.1f} -> {tot_n:.1f} s "
            f"({tot_n / tot_o:.3f}x), worst {max(ok):.2f}x, "
            f">1.25x count {sum(1 for r in ok if r > 1.25)}"
        )
    if write_json:
        head = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True,
        ).stdout.strip()
        out_path = os.path.join(REPO, "BENCH_AB.json")
        payload = {"rev": rev, "head": head, "ab": ab}
        payload["triage_reruns"] = {
            "note": (
                f"machine-generated: every >{TRIAGE_THRESHOLD}x full-board "
                "mover re-A/B'd targeted (solo key, fresh session per "
                "side, min-of-2, same day) by tools/bench_ab.py itself"
            ),
            "reruns": triage,
        }
        with open(out_path, "w") as fh:
            json.dump(payload, fh, sort_keys=True)
            fh.write("\n")
        print(f"wrote {out_path}")


if __name__ == "__main__":
    main()

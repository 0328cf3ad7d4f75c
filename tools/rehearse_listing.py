"""Namespace-scale rehearsal for the distributed BFS listing
(VERDICT r6 ask #6).

`list_files_distributed` (sources/listing.py) claims bounded-driver
behavior — only directory *paths* ever return to the driver, capped by
the SpillFrontier — but had only walked testdata-sized trees. This
tool generates a synthetic ~10^6-entry local tree, walks it through
the distributed path exactly as ``hh find``/``hh du`` do, and asserts:

- correctness: file count and total bytes match the generator's math;
- flat driver RSS: the Python driver's VmRSS delta across the walk is
  a few tens of MB, not O(namespace) (10^6 paths would be ~100 MB as
  Python strings alone);
- bounded frontier: the in-memory frontier high-water mark never
  exceeds the cap, and with a cap smaller than the widest BFS level
  the walk genuinely spills to disk and still loses nothing;
- cache discipline: the final listing is persisted DISK_ONLY (never
  executor heap), per-round RDD caches are all released by the time
  the listing returns, and unpersisting the listing leaves ZERO
  persistent RDDs in the session.

A second row runs ``hh find ROOT -name '*.dat'`` (``cli.main``)
on the same tree: its wall, the Python driver's VmRSS delta across
the call and the Spark jobs it started, beside the distributed walk's
numbers. ``find`` walks on the driver until it has seen
``listing.FRONTIER_CAP`` entries; the 10^5 tree holds just more than
that, so the row prices a driver walk of one full budget plus the
hand-off of the few directories left.

A third row runs ``hh ls -R ROOT``: its wall, the Python driver's
VmRSS delta across the call and the entries it printed. ``ls`` lists
on the driver with one ``stat`` per entry on ``file://``.

A fourth row times each ``hh`` read verb (``stat``, ``test``, ``ls``,
glob ``ls``, ``ls -R``, ``du``, ``count``, ``find``) on one leaf
directory of the tree and its parent, warm: the median wall of
``VERB_RUNS`` runs and the gateway calls of one run, on ``file://``
(the local client: no Hadoop ``FileSystem`` call) and through a viewfs
mount of the same tree (Hadoop's ``FileSystem``, entry by entry).

The tree is deleted afterwards unless --keep.

Usage: python tools/rehearse_listing.py [--entries 1000000|100000|10000]
           [--root /tmp/ns_scale] [--cap 100000] [--keep]
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: Tree shape: L1 dirs, each holding L2 subdirs, each holding leaf
#: files of 1 byte. entries ≈ L1 + L1*L2 + L1*L2*files.
SHAPES = {
    # ~10^4: 10 + 100 + 9_900 = 10_010 entries
    10_000: (10, 10, 99),
    # ~10^5: 10 + 1_000 + 99_000 = 100_010 entries
    100_000: (10, 100, 99),
    # ~10^6: 100 + 10_000 + 990_000 = 1_000_100 entries
    1_000_000: (100, 100, 99),
}


def _populate_l1(job) -> int:
    """Worker: build one L1 subtree (L2 dirs + leaf files)."""
    l1_path, l2, files = job
    made = 0
    for j in range(l2):
        d = os.path.join(l1_path, f"d{j:04d}")
        os.makedirs(d, exist_ok=True)
        for k in range(files):
            fd = os.open(
                os.path.join(d, f"f{k:04d}.dat"),
                os.O_CREAT | os.O_WRONLY | os.O_TRUNC,
            )
            os.write(fd, b"x")
            os.close(fd)
            made += 1
    return made


def make_namespace_tree(root: str, entries: int) -> dict:
    """Generate the synthetic tree; returns expected-count math.

    Idempotent-ish: an existing root with the right marker is reused
    (generation of 10^6 files costs ~30 s even parallelized).
    """
    l1, l2, files = SHAPES[entries]
    marker = os.path.join(root, ".shape")
    want = f"{l1}x{l2}x{files}"
    if os.path.exists(marker) and open(marker).read() == want:
        return {"files": l1 * l2 * files, "dirs": l1 + l1 * l2,
                "bytes": l1 * l2 * files, "reused": True}
    if os.path.exists(root):
        shutil.rmtree(root)
    os.makedirs(root)
    jobs = []
    for i in range(l1):
        p = os.path.join(root, f"L{i:04d}")
        os.makedirs(p)
        jobs.append((p, l2, files))
    with multiprocessing.Pool(min(16, os.cpu_count() or 4)) as pool:
        made = sum(pool.map(_populate_l1, jobs))
    with open(marker, "w") as f:
        f.write(want)
    return {"files": made, "dirs": l1 + l1 * l2, "bytes": made,
            "reused": False}


def _vm_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for ln in f:
            if ln.startswith("VmRSS:"):
                return int(ln.split()[1]) / 1024.0
    return -1.0


def rehearse(spark, root: str, expected: dict, cap: int) -> dict:
    from pyspark.sql import functions as F

    from hadoop_tools_spark.sources.listing import list_files_distributed

    sc = spark.sparkContext
    base_rdds = sc._jsc.sc().getPersistentRDDs().size()
    rss0 = _vm_rss_mb()
    stats: dict = {}
    t0 = time.time()
    # marker file (.shape, 7 B) rides along: +1 file, +7 bytes
    listing = list_files_distributed(
        spark, root, frontier_cap=cap, stats=stats
    )
    walk_s = time.time() - t0
    rss1 = _vm_rss_mb()

    lv = listing.storageLevel
    disk_only = lv.useDisk and not lv.useMemory
    # per-round caches must already be gone; only the listing remains
    live_after_walk = sc._jsc.sc().getPersistentRDDs().size() - base_rdds

    # the two graded consumers, straight off the cached listing
    t1 = time.time()
    n_find = listing.filter(F.col("name").rlike(r"\.dat$")).count()
    du = (
        listing.withColumn(
            "child",
            F.regexp_extract("path", re_escape_root(root) + r"/([^/]+)", 1),
        )
        .groupBy("child")
        .agg(F.sum("size").alias("bytes"), F.count("*").alias("files"))
    )
    n_children = du.count()
    query_s = time.time() - t1

    listing.unpersist(True)
    live_after_release = (
        sc._jsc.sc().getPersistentRDDs().size() - base_rdds
    )
    rss2 = _vm_rss_mb()

    out = {
        "entries_expected": expected["files"] + 1,  # + .shape marker
        "rows": stats.get("rows"),
        "find_matches": n_find,
        "du_children": n_children,
        "rounds": stats.get("rounds"),
        "frontier_cap": cap,
        "frontier_peak_mem": stats.get("frontier_peak_mem"),
        "frontier_spilled": stats.get("frontier_spilled"),
        "walk_s": round(walk_s, 1),
        "query_s": round(query_s, 1),
        "driver_rss_before_mb": round(rss0, 1),
        "driver_rss_after_walk_mb": round(rss1, 1),
        "driver_rss_after_release_mb": round(rss2, 1),
        "listing_disk_only": disk_only,
        "persistent_rdds_after_walk": live_after_walk,
        "persistent_rdds_after_release": live_after_release,
    }
    # hard assertions — the rehearsal FAILS loudly, it doesn't narrate
    assert out["rows"] == out["entries_expected"], out
    assert n_find == expected["files"], out
    assert disk_only, f"listing persisted {lv}, want DISK_ONLY"
    assert live_after_walk == 1, out  # the listing itself, rounds freed
    assert live_after_release == 0, out
    assert stats["frontier_peak_mem"] <= cap, out
    # "flat" driver RSS: walking 10^6 entries must not grow the Python
    # driver by anything near the namespace's own footprint (10^6 paths
    # ≈ 120 MB as Python strings before Row overhead).
    assert rss1 - rss0 < 300, out
    return out


class Lines:
    """A text sink that counts the lines written to it."""

    n = 0

    def write(self, text):
        self.n += text.count("\n")


def rehearse_find(spark, root: str, expected: dict) -> dict:
    """``hh find ROOT -name '*.dat'`` on the tree: wall, driver RSS
    delta and Spark job count of the one command, and the wall of its
    driver walk alone (``listing.walk_dirs``)."""
    from hadoop_tools_spark import cli
    from hadoop_tools_spark.sources import listing

    t0 = time.time()
    unscanned = listing.walk_dirs(
        listing.DirLister(spark, root), listing.FindFilter("*.dat", None)
    )[1]
    walk_s = time.time() - t0

    sc = spark.sparkContext
    group = "rehearse_find"
    out = Lines()
    rss0 = _vm_rss_mb()
    sc.setJobGroup(group, "hh find")
    try:
        t0 = time.time()
        rc = cli.main(["find", root, "-name", "*.dat"], spark=spark, out=out)
        wall_s = time.time() - t0
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()
    row = {
        "find_driver_walk_s": round(walk_s, 2),
        "find_unscanned_dirs": len(unscanned),
        "find_wall_s": round(wall_s, 2),
        "find_driver_rss_delta_mb": round(_vm_rss_mb() - rss0, 1),
        "find_spark_jobs": jobs,
        "find_matches": out.n,
    }
    assert rc == 0 and out.n == expected["files"], row
    return row


def rehearse_ls(spark, root: str, expected: dict) -> dict:
    """``hh ls -R ROOT`` on the tree: wall, the Python driver's VmRSS
    delta across the call and the entries it printed."""
    from hadoop_tools_spark import cli

    out = Lines()
    rss0 = _vm_rss_mb()
    t0 = time.time()
    rc = cli.main(["ls", "-R", root], spark=spark, out=out)
    row = {
        "ls_r_wall_s": round(time.time() - t0, 2),
        "ls_r_driver_rss_delta_mb": round(_vm_rss_mb() - rss0, 1),
        "ls_r_entries": out.n,
    }
    # every file and directory below the root, + the .shape marker
    assert rc == 0 and out.n == expected["files"] + expected["dirs"] + 1, row
    return row


#: warm runs per verb in the per-verb row, after two untimed ones
VERB_RUNS = 15


def _verb_commands(root: str) -> dict[str, list[str]]:
    """The read verbs of the per-verb row, on the first leaf directory
    below ``root`` and its parent."""
    mid = f"{root}/L0000"
    leaf = f"{mid}/d0000"
    return {
        "stat": ["stat", "%b %F", f"{leaf}/f0000.dat"],
        "test_e": ["test", "-e", f"{leaf}/f0000.dat"],
        "test_d": ["test", "-d", leaf],
        "ls_leaf": ["ls", leaf],
        "ls_glob": ["ls", f"{leaf}/f000*.dat"],
        "ls_r_leaf": ["ls", "-R", leaf],
        "du_leaf": ["du", leaf],
        "du_mid": ["du", mid],
        "count_mid": ["count", mid],
        "find_leaf": ["find", leaf, "-name", "*.dat"],
    }


def _gateway_calls(spark, fn) -> int:
    """Gateway calls ``fn()`` makes from this thread, py4j's memory
    commands (sent from finalizers whenever GC runs) left out."""
    import threading

    from py4j import protocol

    client = spark.sparkContext._gateway._gateway_client
    send, me, calls = client.send_command, threading.get_ident(), [0]

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me and not command.startswith(
            protocol.MEMORY_COMMAND_NAME
        ):
            calls[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        fn()
    finally:
        client.__dict__.pop("send_command", None)
    return calls[0]


def _time_verbs(spark, root: str) -> dict:
    """``{verb: {"p50_ms", "calls"}}`` of :func:`_verb_commands`."""
    import statistics

    from hadoop_tools_spark import cli

    row = {}
    for verb, argv in _verb_commands(root).items():
        def run(argv=argv):
            rc = cli.main(argv, spark=spark, out=Lines())
            assert rc == 0, (argv, rc)

        run()
        run()
        walls = []
        for _ in range(VERB_RUNS):
            t0 = time.perf_counter()
            run()
            walls.append(1e3 * (time.perf_counter() - t0))
        row[verb] = {
            "p50_ms": round(statistics.median(walls), 2),
            "calls": _gateway_calls(spark, run),
        }
    return row


def rehearse_verbs(spark, root: str) -> dict:
    """The per-verb row: each read verb on ``file://`` and through a
    viewfs mount table that links ``/vroot`` to ``root``."""
    import uuid

    out = {"verbs_file": _time_verbs(spark, root)}
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    # FileSystem instances are cached per scheme and authority: a fresh
    # authority reads this mount table
    cluster = f"rehearse{uuid.uuid4().hex[:8]}"
    link = f"fs.viewfs.mounttable.{cluster}.link./vroot"
    old = conf.get("fs.defaultFS")
    conf.set(link, "file://" + os.path.abspath(root))
    conf.set("fs.defaultFS", f"viewfs://{cluster}/")
    try:
        out["verbs_viewfs"] = _time_verbs(spark, "/vroot")
    finally:
        conf.set("fs.defaultFS", old)
        conf.unset(link)
    return out


def re_escape_root(root: str) -> str:
    import re

    return re.escape(root.rstrip("/"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--entries", type=int, default=1_000_000,
                    choices=sorted(SHAPES))
    ap.add_argument("--root", default="/tmp/ns_scale")
    ap.add_argument("--cap", type=int, default=100_000)
    ap.add_argument("--keep", action="store_true")
    args = ap.parse_args()

    t0 = time.time()
    expected = make_namespace_tree(args.root, args.entries)
    print(f"tree ready in {time.time() - t0:.1f}s: {expected}",
          file=sys.stderr)

    from hadoop_tools_spark.session import get_spark

    spark = get_spark("listing-rehearsal")
    try:
        out = rehearse(spark, args.root, expected, args.cap)
        out.update(rehearse_find(spark, args.root, expected))
        out.update(rehearse_ls(spark, args.root, expected))
        out.update(rehearse_verbs(spark, args.root))
    finally:
        if not args.keep:
            shutil.rmtree(args.root, ignore_errors=True)
        spark.stop()
    print("LISTJSON:" + json.dumps(out))


if __name__ == "__main__":
    main()

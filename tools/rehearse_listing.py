"""Namespace-scale rehearsal of the ``hh`` listing verbs on a generated
~10^4, 10^5 or 10^6-entry local tree.

The first row runs ``hh find ROOT -name '*.dat'`` (``cli.main``) and
records its wall, the time to its first line, the most entries its
walk held pending (``DirLister.peak``), the peak of the Python
driver's VmRSS during the call above its value before (``PeakRss``)
and the Spark jobs it started, and asserts that it printed every match
and started no job. ``find`` walks on the driver in sorted path
order and prints each match as the walk reaches it, so its first line
comes after a few directory scans and its memory is the walk's pending
entries, not the tree.

A second row runs ``hh ls -R ROOT``: its wall, the peak of the Python
driver's VmRSS during the call above its value before and the entries
it printed. ``ls`` lists
on the driver with one ``stat`` per entry on ``file://``.

A third row times each ``hh`` read verb (``stat``, ``test``, ``ls``,
glob ``ls``, ``ls -R``, ``du``, ``count``, ``find``) on one leaf
directory of the tree and its parent, warm: the median wall of
``VERB_RUNS`` runs and the gateway calls of one run, on ``file://``
(the local client: no Hadoop ``FileSystem`` call) and through a viewfs
mount of the same tree (Hadoop's ``FileSystem``, entry by entry).

The tree is deleted afterwards unless --keep.

Usage: python tools/rehearse_listing.py [--entries 1000000|100000|10000]
           [--root /tmp/ns_scale] [--keep]
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import sys
import threading
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


class PeakRss:
    """The Python driver's VmRSS, sampled every few milliseconds while
    the ``with`` block runs: ``delta_mb`` is its peak above the value
    at entry, so memory the block frees before it returns still
    counts."""

    def __enter__(self):
        self.base = self.peak = _vm_rss_mb()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def _sample(self):
        while not self._stop.wait(0.005):
            self.peak = max(self.peak, _vm_rss_mb())

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _vm_rss_mb())

    @property
    def delta_mb(self) -> float:
        return round(self.peak - self.base, 1)


class Lines:
    """A text sink that counts the lines written to it and notes when
    the first one came."""

    n = 0
    first = None

    def write(self, text):
        if self.first is None:
            self.first = time.perf_counter()
        self.n += text.count("\n")


def rehearse_find(spark, root: str, expected: dict) -> dict:
    """``hh find ROOT -name '*.dat'`` on the tree: wall, time to the
    first line, the walk's peak of pending entries, the driver's peak
    RSS above its value before the call, and the Spark job count of
    the one command."""
    from hadoop_tools_spark import cli
    from hadoop_tools_spark.sources import listing

    listers, lister_class = [], listing.DirLister

    class Lister(lister_class):
        """The command's lister, kept to read its ``peak``."""

        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            listers.append(self)

    sc = spark.sparkContext
    group = "rehearse_find"
    out = Lines()
    sc.setJobGroup(group, "hh find")
    listing.DirLister = Lister
    try:
        with PeakRss() as rss:
            t0 = time.perf_counter()
            rc = cli.main(["find", root, "-name", "*.dat"], spark=spark, out=out)
            wall_s = time.perf_counter() - t0
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        listing.DirLister = lister_class
        sc._jsc.clearJobGroup()
    row = {
        "find_wall_s": round(wall_s, 2),
        "find_first_line_s": round(out.first - t0, 4),
        "find_heap_peak": max(lister.peak for lister in listers),
        "find_driver_rss_peak_delta_mb": rss.delta_mb,
        "find_spark_jobs": jobs,
        "find_matches": out.n,
    }
    assert rc == 0 and out.n == expected["files"] and jobs == 0, row
    return row


def rehearse_ls(spark, root: str, expected: dict) -> dict:
    """``hh ls -R ROOT`` on the tree: wall, the Python driver's peak
    VmRSS above its value before the call, and the entries it
    printed."""
    from hadoop_tools_spark import cli

    out = Lines()
    with PeakRss() as rss:
        t0 = time.perf_counter()
        rc = cli.main(["ls", "-R", root], spark=spark, out=out)
        wall_s = time.perf_counter() - t0
    row = {
        "ls_r_wall_s": round(wall_s, 2),
        "ls_r_driver_rss_peak_delta_mb": rss.delta_mb,
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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--entries", type=int, default=1_000_000,
                    choices=sorted(SHAPES))
    ap.add_argument("--root", default="/tmp/ns_scale")
    ap.add_argument("--keep", action="store_true")
    args = ap.parse_args()

    t0 = time.time()
    expected = make_namespace_tree(args.root, args.entries)
    print(f"tree ready in {time.time() - t0:.1f}s: {expected}",
          file=sys.stderr)

    from hadoop_tools_spark.session import get_spark

    spark = get_spark("listing-rehearsal")
    try:
        out = rehearse_find(spark, args.root, expected)
        out.update(rehearse_ls(spark, args.root, expected))
        out.update(rehearse_verbs(spark, args.root))
    finally:
        if not args.keep:
            shutil.rmtree(args.root, ignore_errors=True)
        spark.stop()
    print("LISTJSON:" + json.dumps(out))


if __name__ == "__main__":
    main()

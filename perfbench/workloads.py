"""Workload definitions: the keys of each query workload and the seeded
command sequence of ``hh_cli``, with the expected output of every
command derived from the tree manifest.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

#: scale factor of the generated tables for every query workload
SF = 0.01

#: Query workloads: a fixed subset of the keys the workload is named
#: for, sized so that a run holds several passes.
QUERY_WORKLOADS = {
    # write a Delta, Iceberg or snapshot table, then read it back
    "lakehouse_rw": [
        "sink_delta_append",
        "snapshot_timetravel",
        "scan_iceberg_table",
        "scan_delta_log",
        "merge_upsert",
    ],
}

CLI_WORKLOAD = "hh_cli"
WORKLOADS = tuple(QUERY_WORKLOADS) + (CLI_WORKLOAD,)

#: shape of the hh_cli tree: directories per level, files per directory
TREE_FANOUT = (8, 6, 5)
TREE_FILES = 13

#: command classes of hh_cli
POINT, WRITE, WALK, FIND = "point", "write", "walk", "find"


def key_order(keys: list[str], rng: random.Random) -> list[str]:
    """One pass's key order, drawn from the run's seeded generator."""
    order = list(keys)
    rng.shuffle(order)
    return order


@dataclass
class Command:
    """One ``hh`` invocation and what it must produce."""

    cls: str
    argv: list[str]
    rc: int = 0
    #: expected stdout lines, when the output is checked line by line
    lines: list[str] | None = None
    #: expected set of paths, one per output line (last field), when the
    #: output is checked as a listing
    paths: set[str] | None = None
    #: filesystem state after the command: path -> "dir" | "file" | None
    after: dict[str, str | None] = field(default_factory=dict)
    #: size of every file named in ``after``
    size: int | None = None


class Tree:
    """Manifest queries over ``datagen.make_tree`` output."""

    def __init__(self, manifest: dict):
        self.root = manifest["dirs"][0]
        self.dirs = list(manifest["dirs"])
        self.files = dict(manifest["files"])
        self.depth = {d: d[len(self.root):].count("/") for d in self.dirs}

    def under(self, d: str) -> tuple[list[str], list[str]]:
        """(descendant dirs, descendant files) of ``d``, ``d`` excluded."""
        pre = d + "/"
        return (
            [x for x in self.dirs if x.startswith(pre)],
            [x for x in self.files if x.startswith(pre)],
        )

    def children(self, d: str) -> set[str]:
        dirs, files = self.under(d)
        return {p for p in dirs + files if os.path.dirname(p) == d}

    def level(self, n: int) -> list[str]:
        return [d for d in self.dirs if self.depth[d] == n]

    def du(self, d: str) -> list[str]:
        rows = {}
        _dirs, files = self.under(d)
        for f in files:
            child = os.path.join(d, f[len(d) + 1:].split("/", 1)[0])
            b, n = rows.get(child, (0, 0))
            rows[child] = (b + self.files[f], n + 1)
        return [f"{b:>10} {n:>6} {c}" for c, (b, n) in sorted(rows.items())]

    def count(self, d: str) -> str:
        dirs, files = self.under(d)
        size = sum(self.files[f] for f in files)
        return f"{len(dirs) + 1:>12} {len(files):>12} {size:>15} {d}"


def cli_round(tree: Tree, rng: random.Random, wroot: str, put_src: str,
              put_size: int, tag: str) -> list[Command]:
    """One round of the hh_cli sequence: 16 point, 8 write, 6 walk and
    1 find command, in an order drawn from ``rng``. Every round holds the
    same commands, so rounds cost the same whatever the seed. The walks
    (``ls -R``, ``du``, ``count``) run on a leaf directory and on a
    directory one level above the leaves, so both the cost per entry and
    the cost per command show. Write commands work under ``wroot``,
    outside the walked tree, and leave it as they found it."""
    files = sorted(tree.files)
    deep = len(TREE_FANOUT)
    leaves, mids = tree.level(deep), tree.level(deep - 1)
    ops: list[Command] = []
    for f in rng.sample(files, 6):
        ops.append(Command(POINT, ["stat", "%b %F", f],
                           lines=[f"{tree.files[f]} regular file"]))
    for _ in range(5):
        p = rng.choice(files + tree.dirs)
        flag = rng.choice(("-e", "-d", "-f"))
        ok = flag == "-e" or (flag == "-d") == (p not in tree.files)
        ops.append(Command(POINT, ["test", flag, p], rc=0 if ok else 1, lines=[]))
    for d in rng.sample(leaves, 5):
        ops.append(Command(POINT, ["ls", d], paths=tree.children(d)))
    for target in (rng.choice(leaves), rng.choice(mids)):
        dirs, fs = tree.under(target)
        ops += [
            Command(WALK, ["ls", "-R", target], paths=set(dirs + fs)),
            Command(WALK, ["du", target], lines=tree.du(target)),
            Command(WALK, ["count", target], lines=[tree.count(target)]),
        ]
    target = rng.choice(leaves)
    _dirs, fs = tree.under(target)
    ops.append(Command(FIND, ["find", target, "-name", "*.log"],
                       lines=sorted(f for f in fs if f.endswith(".log"))))
    rng.shuffle(ops)

    writes: list[Command] = []
    for i in range(2):
        base = f"{wroot}/{tag}_{i}"
        sub, a, b = f"{base}/sub", f"{base}/sub/a.dat", f"{base}/sub/b.dat"
        writes += [
            Command(WRITE, ["mkdir", "-p", sub], after={sub: "dir"}),
            Command(WRITE, ["put", put_src, a], after={a: "file"}, size=put_size),
            Command(WRITE, ["mv", a, b], after={a: None, b: "file"}, size=put_size),
            Command(WRITE, ["rm", "-r", base], after={base: None}),
        ]
    n = len(ops) + len(writes)
    slots = set(rng.sample(range(n), len(writes)))
    w, o = iter(writes), iter(ops)
    return [next(w) if i in slots else next(o) for i in range(n)]


def check_command(cmd: Command, rc: int, text: str) -> str | None:
    """Why the output of ``cmd`` is wrong, or ``None`` if it is right."""
    if rc != cmd.rc:
        return f"rc {rc} != {cmd.rc}"
    lines = text.splitlines()
    if cmd.paths is not None:
        got = {ln.split()[-1] for ln in lines}
        if got != cmd.paths or len(lines) != len(cmd.paths):
            return f"{len(lines)} entries, expected {len(cmd.paths)}"
    elif cmd.lines is not None and lines != cmd.lines:
        return f"output {lines[:3]!r} != {cmd.lines[:3]!r}"
    for path, kind in cmd.after.items():
        state = "dir" if os.path.isdir(path) else "file" if os.path.isfile(path) else None
        if state != kind:
            return f"{path} is {state}, expected {kind}"
        if kind == "file" and cmd.size is not None and os.path.getsize(path) != cmd.size:
            return f"{path} has {os.path.getsize(path)} bytes"
    return None

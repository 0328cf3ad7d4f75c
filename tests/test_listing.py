"""The directory lister (``sources/listing.py::DirLister``) on the local
FileSystem against Hadoop's own local ``FileStatus``: ``hh ls -R`` and
``list_status_df`` must render every entry of an edge-case tree exactly
as ``_status_row`` over ``_hadoop_children`` does, and ``hh ls -R`` must
make a number of gateway calls that does not grow with the tree."""

from __future__ import annotations

import io
import os
import threading

import pytest

from hadoop_tools_spark import cli
from hadoop_tools_spark.sources import listing


@pytest.fixture()
def edge(tmp_path):
    """A tree of the entries a local listing can get wrong: a name with
    a space, a 0640 file of an unknown uid/gid (when run as root), a
    sticky 1777 and an empty directory, setuid / setgid files, a
    symlink to a file and to a directory, a broken symlink and checksum
    sidecars, which Hadoop hides."""
    root = tmp_path / "edge"
    (root / "sub" / "empty").mkdir(parents=True)
    (root / "sticky").mkdir()
    os.chmod(root / "sticky", 0o1777)
    (root / "with space.txt").write_text("x" * 10)
    (root / "unk.bin").write_text("y" * 5)
    os.chmod(root / "unk.bin", 0o640)
    if os.geteuid() == 0:
        os.chown(root / "unk.bin", 54321, 54322)
    (root / "suid").write_text("z")
    os.chmod(root / "suid", 0o4755)
    (root / "sgid").write_text("z")
    os.chmod(root / "sgid", 0o2644)
    (root / "target.txt").write_text("ttt")
    os.chmod(root / "target.txt", 0o600)
    (root / "link.txt").symlink_to(root / "target.txt")
    (root / "linkdir").symlink_to(root / "sub")
    (root / "broken").symlink_to(root / "missing")
    (root / ".a.bin.crc").write_text("crc")
    (root / "sub" / ".hidden").write_text("h")
    (root / "sub" / "big.dat").write_bytes(b"b" * 100_000)
    return str(root)


def _hadoop_rows(spark, root):
    """The reference: every row below ``root`` read from Hadoop's own
    ``FileStatus`` (``_status_row`` over ``_hadoop_children``)."""
    fs, jpath, _ = listing._hadoop_fs(spark, root)
    rows, stack = [], [jpath]
    while stack:
        for st in listing._hadoop_children(fs, stack.pop()):
            rows.append(listing._status_row(st))
            if st.isDirectory():
                stack.append(st.getPath())
    return sorted(rows)


def _ls(spark, *argv):
    out = io.StringIO()
    assert cli.main(["ls", *argv], spark=spark, out=out) == 0
    return out.getvalue().splitlines()


def test_local_lister_matches_hadoop_file_status(spark, edge):
    ref = _hadoop_rows(spark, edge)
    names = {r[1] for r in ref}
    # the reference hides sidecars and the broken link, follows links
    assert ".a.bin.crc" not in names and "broken" not in names
    assert {"link.txt", "linkdir", ".hidden", "big.dat"} <= names
    assert _ls(spark, "-R", edge) == [cli._fmt_status(r) for r in ref]
    got = listing.list_status_df(spark, edge, recursive=True).collect()
    assert sorted(tuple(r) for r in got) == ref
    # file matches of a glob operand get their rows from os.stat
    top = [r for r in ref if r[0].rsplit("/", 1)[0] == edge]
    assert _ls(spark, f"{edge}/*.txt") == [
        cli._fmt_status(r) for r in top if r[1].endswith(".txt")
    ]


def test_ls_recursive_gateway_calls_do_not_grow_with_entries(spark, tmp_path):
    """``hh ls -R`` on a local tree makes the same number of gateway
    calls for 11 entries as for 231: it lists with os.scandir, not one
    Java FileStatus (about 15 calls) per entry."""
    from py4j import protocol

    def tree(name, subdirs, files):
        root = tmp_path / name
        for i in range(subdirs):
            d = root / f"d{i:02d}"
            d.mkdir(parents=True)
            for j in range(files):
                (d / f"f{j:03d}.log").write_text("x")
        return str(root)

    small, big = tree("small", 1, 10), tree("big", 11, 20)
    client = spark.sparkContext._gateway._gateway_client
    send, me, calls = client.send_command, threading.get_ident(), [0]

    def counting(command, *args, **kwargs):
        # memory commands come from py4j's finalizers, whenever GC runs
        if threading.get_ident() == me and not command.startswith(
            protocol.MEMORY_COMMAND_NAME
        ):
            calls[0] += 1
        return send(command, *args, **kwargs)

    counts = []
    client.send_command = counting
    try:
        for root, entries in ((small, 11), (big, 231)):
            calls[0] = 0
            assert len(_ls(spark, "-R", root)) == entries
            counts.append(calls[0])
    finally:
        client.__dict__.pop("send_command", None)
    assert counts[0] == counts[1], counts

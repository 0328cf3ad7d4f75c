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


def _tree(tmp_path, name, subdirs, files):
    root = tmp_path / name
    for i in range(subdirs):
        d = root / f"d{i:02d}"
        d.mkdir(parents=True)
        for j in range(files):
            (d / f"f{j:03d}.log").write_text("x")
    return str(root)


def test_ls_recursive_gateway_calls_do_not_grow_with_entries(spark, tmp_path):
    """``hh ls -R`` on a local tree makes the same number of gateway
    calls for 11 entries as for 231: it lists with os.scandir, not one
    Java FileStatus (about 15 calls) per entry."""
    small, big = _tree(tmp_path, "small", 1, 10), _tree(tmp_path, "big", 11, 20)
    counts = []
    for root, entries in ((small, 11), (big, 231)):
        lines = []
        counts.append(_count_calls(
            spark, lambda root=root: lines.extend(_ls(spark, "-R", root))
        ))
        assert len(lines) == entries
    assert counts[0] == counts[1], counts


def _read_commands(root):
    """Every read verb the local client answers, on tree ``root``."""
    return [
        ["ls", root], ["ls", "-R", root], ["ls", f"{root}/*"],
        ["stat", STAT_FORMAT, root], ["test", "-e", root],
        ["test", "-d", root], ["test", "-f", root], ["du", root],
        ["du", "-h", root], ["count", root], ["find", root],
        ["find", root, "-name", "*.log"],
    ]


def test_local_read_verbs_make_few_gateway_calls(spark, tmp_path):
    """On the local FileSystem each read verb makes at most three
    gateway calls (the session's Hadoop configuration, its
    ``fs.defaultFS`` and, for a full row, ``fs.local.block.size``), as
    many on an 11-entry tree as on a 231-entry one."""
    small, big = _tree(tmp_path, "small", 1, 10), _tree(tmp_path, "big", 11, 20)
    for a, b in zip(_read_commands(small), _read_commands(big)):
        got = []
        for argv in (a, b):
            rc = []
            calls = _count_calls(spark, lambda argv=argv: rc.append(
                cli.main(argv, spark=spark, out=io.StringIO())
            ))
            got.append((rc[0], calls))
        assert got[0] == got[1] and got[0][1] <= 3, (a, got)
        assert got[0][0] == (1 if a[:2] == ["test", "-f"] else 0), a


def test_viewfs_ls_resolves_file_system_once(spark, tmp_path, monkeypatch):
    """Off the local FileSystem a command resolves its operand's
    FileSystem once: ``hh ls`` of a leaf directory behind a viewfs
    mount globs and lists through the same ``FileSystem``."""
    import uuid

    root = _tree(tmp_path, "v", 1, 3)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    cluster = f"c{uuid.uuid4().hex[:12]}"
    link = f"fs.viewfs.mounttable.{cluster}.link./vleaf"
    old = conf.get("fs.defaultFS")
    resolved = []
    hadoop_fs = listing._hadoop_fs

    def spy(spark, path):
        resolved.append(path)
        return hadoop_fs(spark, path)

    monkeypatch.setattr(listing, "_hadoop_fs", spy)
    conf.set(link, "file://" + root)
    conf.set("fs.defaultFS", f"viewfs://{cluster}/")
    try:
        lines = _ls(spark, "/vleaf/d00")
    finally:
        conf.set("fs.defaultFS", old)
        conf.unset(link)
    assert [line.split()[-1] for line in lines] == [
        f"/vleaf/d00/f{j:03d}.log" for j in range(3)
    ]
    assert resolved == ["/vleaf/d00"]


@pytest.fixture()
def parity(spark, edge, tmp_path, monkeypatch):
    """The edge tree plus a ``put``-written file (so a real ``.crc``
    sidecar exists), a dotfile and an empty directory; ``a.bin`` and
    ``bare`` are what ``[a-b]*`` matches beside the broken symlink."""
    monkeypatch.setenv("HTS_CWD_FILE", str(tmp_path / ".cwd"))
    src = tmp_path / "src.bin"
    src.write_bytes(b"p" * 700)
    assert cli.main(["put", str(src), f"{edge}/a.bin"], spark=spark) == 0
    with open(f"{edge}/.a.bin.crc", "rb") as fh:
        assert fh.read(4) == b"crc\x00"  # Hadoop's sidecar header
    (tmp_path / "edge" / ".dot").write_text("dot")
    (tmp_path / "edge" / "bare").mkdir()
    return edge


#: glob operands below the parity tree: each wildcard kind, a brace
#: that holds a ``/``, literals that name a sidecar and a dotfile, and
#: a match through a symlinked directory
GLOBS = (
    "*", "su?d", "[a-b]*", "{b,a}*", "{sub/*,link*}", "*/big.dat",
    "link*/*", ".a.bin.crc", ".dot", "", "sub", "no/such/*",
)

#: every specifier ``hh stat`` knows
STAT_FORMAT = "%b|%n|%o|%r|%u|%g|%y|%F"


def _runs(spark, capsys, commands):
    """(rc, stdout, stderr) of each argv in ``commands``."""
    got = []
    for argv in commands:
        capsys.readouterr()
        out = io.StringIO()
        rc = cli.main(argv, spark=spark, out=out)
        got.append((rc, out.getvalue(), capsys.readouterr().err))
    return got


def test_local_client_matches_hadoop_calls(spark, parity):
    """The local client's glob, listing and content summary equal what
    Hadoop's own calls return on the parity tree: ``globStatus`` rows,
    ``_status_row`` over ``_hadoop_children`` and
    ``getContentSummary``."""
    fs, _, jvm = listing._hadoop_fs(spark, parity)
    for glob in GLOBS:
        pattern = f"{parity}/{glob}".rstrip("/")
        lister = listing.DirLister(spark, pattern)
        assert lister.local
        matches = fs.globStatus(jvm.org.apache.hadoop.fs.Path(pattern))
        want = [listing._status_row(st) for st in matches or ()]
        assert lister.glob() == want, glob
    names = [r[1] for r in listing.DirLister(spark, f"{parity}/*").glob()]
    assert ".dot" in names and ".a.bin.crc" not in names
    for row in listing.DirLister(spark, f"{parity}/*").glob():
        lister = listing.DirLister(spark, row[0])
        if row[2]:
            assert sorted(lister.walk(lister.root(), True)) == _hadoop_rows(
                spark, row[0]
            ), row[0]
        cs = fs.getContentSummary(jvm.org.apache.hadoop.fs.Path(row[0]))
        assert lister.summary(lister.root()) == (
            cs.getLength(), cs.getFileCount(), cs.getDirectoryCount()
        ), row[0]


def test_local_read_verbs_match_hadoop_path(spark, parity, capsys, monkeypatch):
    """Every read verb prints the same stdout and stderr, with the same
    rc, from the local client as from Hadoop's FileSystem, on the
    parity tree and on a missing path."""
    entries = sorted(os.listdir(parity)) + ["sub/big.dat", "no/such"]
    commands = []
    for glob in GLOBS:
        pattern = f"{parity}/{glob}".rstrip("/")
        commands += [["ls", pattern], ["ls", "-R", pattern],
                     ["stat", STAT_FORMAT, pattern]]
    for name in entries + [""]:
        path = f"{parity}/{name}".rstrip("/")
        commands += [["test", flag, path] for flag in ("-e", "-d", "-f")]
        commands += [["du", path], ["du", "-h", path], ["count", path],
                     ["find", path], ["find", path, "-name", "*.txt"],
                     ["find", path, "-type", "d"]]
    commands.append(["count", f"{parity}/sub", f"{parity}/nope", parity])
    local = _runs(spark, capsys, commands)
    # every lister takes Hadoop's FileSystem, whatever the path
    monkeypatch.setattr(listing.DirLister, "_local_path", lambda self, path: None)
    hadoop = _runs(spark, capsys, commands)
    for argv, a, b in zip(commands, local, hadoop):
        assert a == b, argv
    for argv, (rc, out, _) in zip(commands, local):
        if argv[0] != "ls" and "no/such" in argv[-1]:
            # ls prints nothing for a glob with no match, with rc 0
            assert rc == 1 and out == "", argv


def _count_calls(spark, fn):
    """Gateway calls ``fn()`` makes from this thread; py4j's own memory
    commands, sent from finalizers whenever GC runs, are left out."""
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

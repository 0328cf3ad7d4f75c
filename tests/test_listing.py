"""The directory lister (``sources/listing.py::DirLister``) on the local
FileSystem against Hadoop's own local ``FileStatus``: ``hh ls -R`` and
``list_status_df`` must render every entry of an edge-case tree exactly
as ``_status_row`` over ``_hadoop_children`` does, and ``hh ls -R`` must
make a number of gateway calls that does not grow with the tree."""

from __future__ import annotations

import io
import os
import stat
import threading

import pytest

from hadoop_tools_spark import cli
from hadoop_tools_spark.sources import listing


def _edge_tree(root):
    """Build the edge tree at ``root`` (a ``pathlib.Path``): see
    :func:`edge`."""
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


@pytest.fixture()
def edge(tmp_path):
    """A tree of the entries a local listing can get wrong: a name with
    a space, a 0640 file of an unknown uid/gid (when run as root), a
    sticky 1777 and an empty directory, setuid / setgid files, a
    symlink to a file and to a directory, a broken symlink and checksum
    sidecars, which Hadoop hides."""
    return _edge_tree(tmp_path / "edge")


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


def test_walk_is_sorted_and_holds_only_pending_entries(spark, tmp_path):
    """``DirLister.walk`` yields a wide and deep tree in sorted path
    order while holding only pending entries: at most the sum, over the
    tree's depths, of the widest directory at each depth (3 levels of
    20 below the root, 10 files in each leaf, and a chain of 30 nested
    directories), where a walk-then-sort would hold all 4 450."""
    root = tmp_path / "wide"
    for i in range(20):
        for j in range(20):
            d = root / f"a{i:02d}" / f"b{j:02d}"
            d.mkdir(parents=True)
            for k in range(10):
                (d / f"f{k}.log").write_text("x")
    chain = root / "a05"
    for i in range(30):
        chain = chain / "c"
    chain.mkdir(parents=True)
    paths, widest = [], {}
    for d, dirs, files in os.walk(root):
        depth = d.count("/")
        widest[depth] = max(widest.get(depth, 0), len(dirs) + len(files))
        paths += [os.path.join(d, n) for n in dirs + files]
    bound = sum(widest.values())
    assert len(paths) == 4_450 and bound == 20 + 21 + 10 + 28
    for keep, want in (
        (None, sorted(paths)),
        (listing.FindFilter("f9*", None), sorted(
            p for p in paths if p.endswith("/f9.log")
        )),
    ):
        lister = listing.DirLister(spark, str(root))
        top = lister.status(lister.root(), brief=True)
        got = [row[0] for row in lister.walk(top, keep=keep, brief=True)]
        assert got == want
        assert 0 < lister.peak <= bound, (lister.peak, bound)


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


def _parity_tree(spark, edge, src):
    """Add to the edge tree at ``edge`` a file ``put`` from ``src`` (so
    a real ``.crc`` sidecar exists), a dotfile and an empty directory;
    ``a.bin`` and ``bare`` are what ``[a-b]*`` matches beside the
    broken symlink."""
    src.write_bytes(b"p" * 700)
    assert cli.main(["put", str(src), f"{edge}/a.bin"], spark=spark) == 0
    with open(f"{edge}/.a.bin.crc", "rb") as fh:
        assert fh.read(4) == b"crc\x00"  # Hadoop's sidecar header
    with open(f"{edge}/.dot", "w") as fh:
        fh.write("dot")
    os.mkdir(f"{edge}/bare")
    return edge


@pytest.fixture()
def parity(spark, edge, tmp_path, monkeypatch):
    """The edge tree plus a ``put``-written file, a dotfile and an
    empty directory (:func:`_parity_tree`)."""
    monkeypatch.setenv("HTS_CWD_FILE", str(tmp_path / ".cwd"))
    return _parity_tree(spark, edge, tmp_path / "src.bin")


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
        out = io.BytesIO() if argv[0] == "cat" else io.StringIO()
        rc = cli.main(argv, spark=spark, out=out)
        text = out.getvalue()
        if isinstance(text, bytes):
            text = text.decode("latin-1")
        got.append((rc, text, capsys.readouterr().err))
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
            assert list(lister.walk(row)) == _hadoop_rows(spark, row[0]), row[0]
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
        if "no/such" in argv[-1]:
            assert rc == 1 and out == "", argv


def _write_commands(r, src):
    """The write commands of the write-verb parity test on parity tree
    ``r``, with ``put`` sources from directory ``src``, in order; then
    Hadoop's ``cat`` and ``checksum`` of the files ``put`` wrote, which
    verify their sidecars."""
    return [
        # put: missing parents, 0 / 512 / 1500 bytes, into a directory
        # (and a symlinked one), over a file, over a put-written file,
        # over a stale sidecar and through a symlink to a file
        ["put", f"{src}/b0", f"{r}/p0/new/deep/b0"],
        ["put", f"{src}/b512", f"{r}/b512"],
        ["put", f"{src}/b1500", f"{r}/b1500"],
        ["put", f"{src}/b1500", f"{r}/sub"],
        ["put", f"{src}/b512", f"{r}/linkdir"],
        ["put", f"{src}/b512", f"{r}/with space.txt"],
        ["put", f"{src}/b1500", f"{r}/a.bin"],
        ["put", f"{src}/b512", f"{r}/stale.bin"],
        ["put", f"{src}/b512", f"{r}/link.txt"],
        # put that stays on Hadoop: a directory SRC, a SRC with a sidecar
        ["put", f"{src}/dir", f"{r}/pdir"],
        ["put", f"{src}/crc.bin", f"{r}/pcrc"],
        ["put", f"{src}/NOPE", f"{r}/x"],
        ["put", f"{src}/b512", f"{r}/unk.bin/x"],
        ["cat", f"{r}/p0/new/deep/b0", f"{r}/b512", f"{r}/sub/b1500",
         f"{r}/a.bin", f"{r}/stale.bin", f"{r}/target.txt"],
        ["checksum", f"{r}/b1500", f"{r}/sub/b512", f"{r}/stale.bin"],
        # mkdir: nested, existing, a file in the way, a broken symlink,
        # below a symlinked directory, one bad PATH among good ones
        ["mkdir", "-p", f"{r}/m/a/b"],
        ["mkdir", f"{r}/m2"],
        ["mkdir", "-p", f"{r}/sub"],
        ["mkdir", "-p", f"{r}/unk.bin/sub"],
        ["mkdir", "-p", f"{r}/unk.bin"],
        ["mkdir", "-p", f"{r}/broken/x"],
        ["mkdir", f"{r}/broken"],
        ["mkdir", "-p", f"{r}/linkdir/new"],
        ["mkdir", f"{r}/q1", f"{r}/unk.bin/q", f"{r}/q2"],
        # mv: a file with its sidecar into a directory and to a new
        # name, onto a file (refused), a missing SRC, onto a stale
        # sidecar, directories onto a new name, an empty and a
        # non-empty directory, symlinks, and into a missing parent
        ["mv", f"{r}/b512", f"{r}/m"],
        ["mv", f"{r}/b1500", f"{r}/renamed"],
        ["mv", f"{r}/renamed", f"{r}/with space.txt"],
        ["mv", f"{r}/NOPE", f"{r}/x"],
        ["mv", f"{r}/target.txt", f"{r}/stale_dst"],
        ["mv", f"{r}/m/a", f"{r}/ma"],
        ["mv", f"{r}/ma", f"{r}/bare"],
        ["mv", f"{r}/bare", f"{r}/sub"],
        ["mv", f"{r}/linkdir", f"{r}/linkdir2"],
        ["mv", f"{r}/broken", f"{r}/broken2"],
        ["mv", f"{r}/a.bin", f"{r}/no/parent/a.bin"],
        # rm: files with and without a sidecar, an empty and a non-empty
        # directory, a symlinked directory, missing PATHs, a broken
        # symlink, a tree, one bad PATH among good ones
        ["rm", f"{r}/with space.txt"],
        ["rm", f"{r}/m/b512"],
        ["rm", f"{r}/sub/empty"],
        ["rm", f"{r}/sub"],
        ["rm", "-r", f"{r}/linkdir2"],
        ["rm", f"{r}/NOPE"],
        ["rm", f"{r}/broken2"],
        ["rm", "-r", f"{r}/p0"],
        ["rm", f"{r}/q1", f"{r}/NOPE", f"{r}/q2"],
    ]


#: umask-mode values the write-verb parity test also runs under: octal,
#: and symbolic, which Hadoop parses
UMASKS = ("027", "u=rwx,g=rx,o=")


def _umask_commands(r, src, k):
    return [["mkdir", "-p", f"{r}/u{k}/v"], ["put", f"{src}/b1500", f"{r}/u{k}/v/w"]]


def _snapshot(root):
    """(relative path, type, mode bits, bytes or symlink target) of
    every entry below ``root``, checksum sidecars included."""
    rows = []
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            path = os.path.join(d, name)
            s = os.lstat(path)
            if stat.S_ISLNK(s.st_mode):
                body = os.readlink(path).replace(root, "ROOT")
            elif stat.S_ISDIR(s.st_mode):
                body = None
            else:
                with open(path, "rb") as fh:
                    body = fh.read()
            rows.append((os.path.relpath(path, root), stat.S_IFMT(s.st_mode),
                         stat.S_IMODE(s.st_mode), body))
    return sorted(rows)


def test_local_write_verbs_match_hadoop_path(spark, tmp_path, capsys, monkeypatch):
    """``put``, ``mkdir``, ``mv`` and ``rm`` leave the same tree (paths,
    types, mode bits, bytes, symlink targets and ``.crc`` sidecars) and
    print the same stdout and stderr, with the same rc, from Python as
    from Hadoop's FileSystem, on two copies of the parity tree, under
    the default and two other umasks. Hadoop's ``cat`` and ``checksum``
    read back what ``put`` wrote, so ``ChecksumFileSystem`` verifies
    the sidecars Python wrote."""
    monkeypatch.setenv("HTS_CWD_FILE", str(tmp_path / ".cwd"))
    src = tmp_path / "srcs"
    src.mkdir()
    data = bytes(range(256)) * 6
    for n in (0, 512, 1500):
        (src / f"b{n}").write_bytes(data[:n])
    (src / "dir").mkdir()
    (src / "dir" / "f").write_text("f")
    assert cli.main(["put", f"{src}/b512", f"{src}/crc.bin"], spark=spark) == 0
    conf = spark._jsc.hadoopConfiguration()
    old_umask = conf.get("fs.permissions.umask-mode")
    runs, trees = {}, {}
    for mode in ("local", "hadoop"):
        root = _parity_tree(spark, _edge_tree(tmp_path / mode / "edge"),
                            tmp_path / mode / "src.bin")
        with open(f"{root}/stale.bin", "w") as fh:
            fh.write("stale")
        for name in (".stale.bin.crc", ".stale_dst.crc"):
            with open(f"{root}/{name}", "wb") as fh:
                fh.write(b"crc\x00\x00\x00\x02\x00junk")
        if mode == "hadoop":
            # every lister takes Hadoop's FileSystem, whatever the path
            monkeypatch.setattr(listing.DirLister, "_local_path",
                                lambda self, path: None)
        got = _runs(spark, capsys, _write_commands(root, src))
        # a cached FileSystem keeps the umask of the configuration it
        # was made from: uncached, Hadoop reads the one set here
        conf.set("fs.file.impl.disable.cache", "true")
        try:
            for k, umask in enumerate(UMASKS):
                conf.set("fs.permissions.umask-mode", umask)
                got += _runs(spark, capsys, _umask_commands(root, src, k))
        finally:
            conf.set("fs.permissions.umask-mode", old_umask)
            conf.unset("fs.file.impl.disable.cache")
        runs[mode] = [tuple(x.replace(root, "ROOT") if isinstance(x, str) else x
                            for x in run) for run in got]
        trees[mode] = _snapshot(root)
    commands = _write_commands("ROOT", src)
    for k in range(len(UMASKS)):
        commands += _umask_commands("ROOT", src, k)
    assert len(runs["local"]) == len(commands)
    for argv, a, b in zip(commands, runs["local"], runs["hadoop"]):
        assert a == b, argv
    assert trees["local"] == trees["hadoop"]
    rcs = {
        tuple(argv): (rc, err) for argv, (rc, _, err) in zip(commands, runs["local"])
    }
    assert rcs[("put", f"{src}/NOPE", "ROOT/x")] == (
        1, f"put: {src}/NOPE: No such file or directory\n")
    assert rcs[("mkdir", "-p", "ROOT/unk.bin/sub")] == (
        1, "mkdir: ROOT/unk.bin/sub: Not a directory\n")
    assert rcs[("mkdir", "-p", "ROOT/unk.bin")] == (
        1, "mkdir: ROOT/unk.bin: File exists\n")
    assert rcs[("mv", "ROOT/NOPE", "ROOT/x")] == (
        1, "mv: ROOT/NOPE: No such file or directory\n")
    assert rcs[("mv", "ROOT/renamed", "ROOT/with space.txt")] == (1, "")
    assert rcs[("rm", "ROOT/sub")] == (1, "rm: ROOT/sub: Directory not empty\n")
    assert rcs[("rm", "ROOT/broken2")] == (
        1, "rm: ROOT/broken2: No such file or directory\n")
    modes = {row[0]: row[2] for row in trees["local"]}
    assert modes["m2"] == 0o755 and modes["renamed"] == modes[".renamed.crc"] == 0o644
    assert modes["u0/v"] == 0o750 and modes["u0/v/w"] == modes["u0/v/.w.crc"] == 0o640


def test_local_write_verbs_make_few_gateway_calls(spark, tmp_path):
    """On the local FileSystem ``mkdir -p``, ``put``, ``mv`` and ``rm
    -r`` each make a constant number of gateway calls, at most six, all
    of them configuration reads and none a Hadoop ``FileSystem`` call;
    ``rm -r`` makes as many for an 11-entry tree as for a 231-entry
    one."""
    src = tmp_path / "src.bin"
    src.write_bytes(b"s" * 1500)
    small, big = _tree(tmp_path, "small", 1, 10), _tree(tmp_path, "big", 11, 20)
    conf_reads = {"hadoopConfiguration", "get", "getInt"}

    def calls(argv):
        methods = []
        rc = []
        n = _count_calls(spark, lambda: rc.append(
            cli.main(argv, spark=spark, out=io.StringIO())
        ), methods)
        assert rc == [0] and set(methods) <= conf_reads, (argv, methods)
        return n

    for scheme in ("", "file://"):
        w = f"{scheme}{tmp_path}/w"
        commands = [["mkdir", "-p", f"{w}/a/b"], ["put", str(src), f"{w}/a/b/f"],
                    ["mv", f"{w}/a/b/f", f"{w}/a/g"], ["rm", "-r", f"{w}/a"]]
        first, second = ([calls(argv) for argv in commands] for _ in range(2))
        assert first == second and max(first) <= 6, (scheme, first, second)
        assert not os.path.exists(f"{tmp_path}/w/a")
    assert calls(["rm", "-r", small]) == calls(["rm", "-r", big])
    assert not os.path.exists(small) and not os.path.exists(big)


def _count_calls(spark, fn, methods=None):
    """Gateway calls ``fn()`` makes from this thread; py4j's own memory
    commands, sent from finalizers whenever GC runs, are left out. The
    name of each Java method called is appended to ``methods``, if
    given."""
    from py4j import protocol

    client = spark.sparkContext._gateway._gateway_client
    send, me, calls = client.send_command, threading.get_ident(), [0]

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me and not command.startswith(
            protocol.MEMORY_COMMAND_NAME
        ):
            calls[0] += 1
            if methods is not None:
                kind, _, name = command.split("\n")[:3]
                call = kind + "\n" == protocol.CALL_COMMAND_NAME
                methods.append(name if call else kind)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        fn()
    finally:
        client.__dict__.pop("send_command", None)
    return calls[0]

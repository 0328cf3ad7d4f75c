"""hh-compatible CLI (`python -m hadoop_tools_spark CMD`): every
subcommand of the reference's executable driven end-to-end against a
local namespace, with the pytest session's SparkSession injected so
tests don't pay per-command JVM startup."""

from __future__ import annotations

import io
import os

import pytest

from hadoop_tools_spark import cli


@pytest.fixture()
def ns(spark, tmp_path, monkeypatch):
    """A small namespace + isolated cwd state file."""
    monkeypatch.setenv("HTS_CWD_FILE", str(tmp_path / ".cwd"))
    base = tmp_path / "ns"
    (base / "logs").mkdir(parents=True)
    (base / "data").mkdir()
    (base / "logs" / "a.log").write_text("alpha\n")
    (base / "logs" / "b.log").write_text("beta\n")
    (base / "data" / "x.bin").write_bytes(b"\x00\x01\x02")
    return str(base)


def run(spark, *argv):
    out = io.StringIO()
    rc = cli.main(list(argv), spark=spark, out=out)
    return rc, out.getvalue()


def run_err(capsys, spark, *argv):
    """rc and stderr text of one command: usage errors print there."""
    capsys.readouterr()
    rc = cli.main(list(argv), spark=spark, out=io.StringIO())
    return rc, capsys.readouterr().err


def test_ls_glob_and_format(spark, ns):
    rc, txt = run(spark, "ls", f"{ns}/logs/*.log")
    assert rc == 0
    lines = txt.strip().splitlines()
    assert len(lines) == 2
    assert lines[0].endswith("a.log") and lines[1].endswith("b.log")
    assert lines[0].startswith("-rw")  # perm string rendered


def test_ls_directory_lists_children(spark, ns):
    rc, txt = run(spark, "ls", ns)
    names = [l.rsplit("/", 1)[-1] for l in txt.strip().splitlines()]
    assert names == ["data", "logs"]


def test_find_name_glob(spark, ns):
    rc, txt = run(spark, "find", ns, "-name", "*.log")
    assert rc == 0
    assert [p.rsplit("/", 1)[-1] for p in txt.strip().splitlines()] == [
        "a.log",
        "b.log",
    ]


def test_du_per_child_totals(spark, ns):
    rc, txt = run(spark, "du", ns)
    assert rc == 0
    by_child = {
        l.split()[-1].rsplit("/", 1)[-1]: int(l.split()[1])
        for l in txt.strip().splitlines()
    }
    assert by_child == {"data": 1, "logs": 2}


def test_cat_bytes(spark, ns):
    buf = io.BytesIO()
    rc = cli.main(["cat", f"{ns}/logs/a.log"], spark=spark, out=buf)
    assert rc == 0 and buf.getvalue() == b"alpha\n"


def test_mkdir_mv_rm_test_roundtrip(spark, ns):
    assert cli.main(["mkdir", f"{ns}/new/deep"], spark=spark) == 0
    assert cli.main(["test", "-d", f"{ns}/new/deep"], spark=spark) == 0
    assert cli.main(["mv", f"{ns}/new/deep", f"{ns}/new/moved"], spark=spark) == 0
    assert cli.main(["test", "-e", f"{ns}/new/deep"], spark=spark) == 1
    assert cli.main(["test", "-d", f"{ns}/new/moved"], spark=spark) == 0
    assert cli.main(["rm", "-r", f"{ns}/new"], spark=spark) == 0
    assert cli.main(["test", "-e", f"{ns}/new"], spark=spark) == 1


def test_get_put_roundtrip(spark, ns, tmp_path):
    local = tmp_path / "local.txt"
    local.write_text("roundtrip")
    assert cli.main(["put", str(local), f"{ns}/data/up.txt"], spark=spark) == 0
    assert cli.main(["test", "-f", f"{ns}/data/up.txt"], spark=spark) == 0
    dst = tmp_path / "fetched.txt"
    assert cli.main(["get", f"{ns}/data/up.txt", str(dst)], spark=spark) == 0
    assert dst.read_text() == "roundtrip"


def test_chmod(spark, ns):
    path = f"{ns}/logs/a.log"
    assert cli.main(["chmod", "600", path], spark=spark) == 0
    assert (os.stat(path).st_mode & 0o777) == 0o600
    assert cli.main(["chmod", "644", path], spark=spark) == 0


def test_cd_pwd_relative_resolution(spark, ns):
    assert cli.main(["cd", ns], spark=spark) == 0
    rc, txt = run(spark, "pwd")
    assert rc == 0 and txt.strip() == ns
    # relative path resolves against persisted cwd
    rc, txt = run(spark, "find", "logs", "-name", "*.log")
    assert len(txt.strip().splitlines()) == 2


def test_version_and_usage(spark):
    rc, txt = run(spark, "version")
    assert rc == 0 and "hh" in txt
    assert cli.main(["definitely-not-a-cmd"], out=io.StringIO()) == 2


def test_ls_recursive_flag(spark, ns):
    rc, txt = run(spark, "ls", "-R", ns)
    names = [l.rsplit("/", 1)[-1] for l in txt.strip().splitlines()]
    assert names == ["data", "x.bin", "logs", "a.log", "b.log"]


def test_find_type_filter(spark, ns):
    rc, txt = run(spark, "find", ns, "-type", "d")
    names = [p.rsplit("/", 1)[-1] for p in txt.strip().splitlines()]
    assert names == ["data", "logs"]
    rc, txt = run(spark, "find", ns, "-type", "f")
    assert all(
        p.rsplit("/", 1)[-1] in {"a.log", "b.log", "x.bin"}
        for p in txt.strip().splitlines()
    )
    # a file PATH prints itself when it passes the filters, like
    # `hadoop fs -find FILE`
    f = f"{ns}/logs/a.log"
    assert run(spark, "find", f) == (0, f + "\n")
    assert run(spark, "find", f, "-type", "f", "-name", "*.log") == (0, f + "\n")
    assert run(spark, "find", f, "-type", "d") == (0, "")
    assert run(spark, "find", f, "-name", "*.bin") == (0, "")


def test_find_missing_path_is_an_error(spark, ns, capsys):
    rc, txt = run(spark, "find", f"{ns}/no/such/path", "-name", "*.log")
    assert rc == 1 and txt == ""
    err = capsys.readouterr().err
    assert f"find: {ns}/no/such/path: No such file or directory" in err


def _find_tree(ns):
    """Three levels below ``ns`` beside the fixture's files, with a
    hidden file, an empty directory and a directory named like a log."""
    for d in ("logs/old/2024", "data/empty", "data/deep.log/er"):
        os.makedirs(os.path.join(ns, d))
    for f, text in (
        ("logs/old/c.log", "c"), ("logs/old/2024/d.log", "dd"),
        ("logs/old/2024/d.txt", "t"), ("data/.hidden.log", "h"),
        ("data/deep.log/er/z.bin", "z"),
    ):
        with open(os.path.join(ns, f), "w") as fh:
            fh.write(text)


FIND_FILTERS = (
    [], ["-name", "*.log"], ["-type", "f"], ["-type", "d"],
    ["-name", "[a-c]*", "-type", "f"],
)


def test_find_runs_no_spark_job_and_matches_os_walk(spark, ns):
    """find walks on the driver: no Spark job starts, and each filter's
    output equals a sorted os.walk of the tree."""
    import fnmatch

    _find_tree(ns)

    def walk(name=None, kind=None):
        out = []
        for d, dirs, files in os.walk(ns):
            for n, is_dir in [(x, True) for x in dirs] + [(x, False) for x in files]:
                if kind is not None and (kind == "d") != is_dir:
                    continue
                if name is not None and not fnmatch.fnmatchcase(n, name):
                    continue
                out.append(os.path.join(d, n))
        return "".join(p + "\n" for p in sorted(out))

    sc = spark.sparkContext
    group = "test_find_no_jobs"
    sc.setJobGroup(group, "find")
    try:
        got = [run(spark, "find", ns, *f) for f in FIND_FILTERS]
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()
    assert jobs == []
    for f, (rc, txt) in zip(FIND_FILTERS, got):
        opts = dict(zip(f[::2], f[1::2]))
        assert rc == 0
        assert txt == walk(opts.get("-name"), opts.get("-type")), f
    assert got[1][1].splitlines()[0] == f"{ns}/data/.hidden.log"


def test_find_prints_before_it_scans_the_last_directory(spark, ns, monkeypatch):
    """find prints each match as its walk reaches it, not after the
    walk: its first line is written while directories are still left
    to scan."""
    _find_tree(ns)
    n_dirs = 1 + sum(len(dirs) for _, dirs, _ in os.walk(ns))
    scans, at_write = [0], []
    scandir = os.scandir

    def counting(path):
        scans[0] += 1
        return scandir(path)

    class Out(io.StringIO):
        def write(self, text):
            at_write.append(scans[0])
            return super().write(text)

    monkeypatch.setattr(os, "scandir", counting)
    out = Out()
    assert cli.main(["find", ns, "-name", "*.log"], spark=spark, out=out) == 0
    assert scans[0] == n_dirs and out.getvalue().startswith(f"{ns}/data/")
    assert at_write[0] < n_dirs, (at_write[0], n_dirs)


def test_find_hides_checksum_sidecars_like_ls(spark, ns, tmp_path):
    """``hh put`` leaves a ``.NAME.crc`` sidecar, which ``ls -R`` hides
    as Hadoop's ChecksumFileSystem does; ``find`` prints the same
    paths."""
    src = tmp_path / "src.bin"
    src.write_bytes(b"abc")
    assert run(spark, "put", str(src), f"{ns}/data/a.bin")[0] == 0
    assert os.path.exists(f"{ns}/data/.a.bin.crc")
    rc, listed = run(spark, "ls", "-R", ns)
    want = sorted(line.split()[-1] for line in listed.splitlines())
    assert rc == 0 and f"{ns}/data/a.bin" in want
    assert run(spark, "find", ns) == (0, "".join(p + "\n" for p in want))


def test_scheme_less_path_under_viewfs_default_fs(spark, ns):
    """Whether a path is local is read from its resolved FileSystem,
    not from the path string: with ``fs.defaultFS`` a viewfs mount
    table that links ``/vdata`` to a local directory, ``/vdata`` lists
    through Hadoop, and ls, count and find all see the linked tree."""
    import uuid

    conf = spark.sparkContext._jsc.hadoopConfiguration()
    # FileSystem instances are cached per scheme and authority: a fresh
    # authority reads this test's mount table
    cluster = f"c{uuid.uuid4().hex[:12]}"
    link = f"fs.viewfs.mounttable.{cluster}.link./vdata"
    old = conf.get("fs.defaultFS")
    conf.set(link, "file://" + ns)
    conf.set("fs.defaultFS", f"viewfs://{cluster}/")
    try:
        ls = run(spark, "ls", "-R", "/vdata")
        count = run(spark, "count", "/vdata")
        found = run(spark, "find", "/vdata", "-name", "*.log")
    finally:
        conf.set("fs.defaultFS", old)
        conf.unset(link)
    assert ls[0] == 0
    assert [line.split()[-1] for line in ls[1].splitlines()] == [
        "/vdata/data", "/vdata/data/x.bin", "/vdata/logs",
        "/vdata/logs/a.log", "/vdata/logs/b.log",
    ]
    assert count[0] == 0 and count[1].split()[:2] == ["3", "3"]
    assert found == (0, "/vdata/logs/a.log\n/vdata/logs/b.log\n")


def test_cmd_count_content_summary(spark):
    """`hh count` prints DIR_COUNT FILE_COUNT CONTENT_SIZE PATH with
    totals matching an independent os.walk."""
    root = "/root/testdata/sf0.001"
    buf = io.StringIO()
    rc = cli.main(["count", root], spark=spark, out=buf)
    assert rc == 0
    out = buf.getvalue().strip().split()
    n_files = sum(len(fs) for _, _, fs in os.walk(root))
    n_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root)
        for f in fs
    )
    n_dirs = sum(1 for _ in os.walk(root))  # root included
    assert int(out[0]) == n_dirs
    assert int(out[1]) == n_files
    assert int(out[2]) == n_bytes
    assert out[3] == root


def test_tail_last_bytes(spark, ns):
    import io as _io

    buf = _io.BytesIO()
    rc = cli.main(["tail", "-c", "3", f"{ns}/logs/a.log"], spark=spark, out=buf)
    assert rc == 0 and buf.getvalue() == b"ha\n"
    # n larger than the file: whole file, no error
    buf = _io.BytesIO()
    rc = cli.main(["tail", "-c", "999", f"{ns}/logs/b.log"], spark=spark, out=buf)
    assert rc == 0 and buf.getvalue() == b"beta\n"
    # directory is an error like hadoop fs -tail
    buf = _io.BytesIO()
    rc = cli.main(["tail", f"{ns}/logs"], spark=spark, out=buf)
    assert rc == 1


def test_stat_format_specifiers(spark, ns):
    import io as _io

    out = _io.StringIO()
    rc = cli.main(
        ["stat", "%n %b %F", f"{ns}/logs/a.log"], spark=spark, out=out
    )
    assert rc == 0
    assert out.getvalue().strip() == "a.log 6 regular file"
    out = _io.StringIO()
    rc = cli.main(["stat", "%F", f"{ns}/logs"], spark=spark, out=out)
    assert rc == 0 and out.getvalue().strip() == "directory"
    out = _io.StringIO()
    rc = cli.main(["stat", "%n", f"{ns}/nope"], spark=spark, out=out)
    assert rc == 1


def test_checksum_matches_hashlib(spark, ns):
    import hashlib
    import io as _io

    out = _io.StringIO()
    rc = cli.main(["checksum", f"{ns}/logs/a.log"], spark=spark, out=out)
    assert rc == 0
    path, algo, digest, size = out.getvalue().strip().split("\t")
    raw = open(path.replace("file:", ""), "rb").read()
    assert algo == "MD5"
    assert digest == hashlib.md5(raw).hexdigest()
    assert int(size) == len(raw)
    # glob expands engine-side; missing path is rc 1
    out = _io.StringIO()
    rc = cli.main(["checksum", f"{ns}/logs/*.log"], spark=spark, out=out)
    assert rc == 0 and len(out.getvalue().strip().splitlines()) >= 2
    assert cli.main(["checksum", f"{ns}/nope"], spark=spark) == 1


def test_du_trailing_slash_and_count_file(spark, ns):
    """`du dir/` must not strip the root to '' (Path('') throws), and
    `count FILE` reports 0 directories like `hadoop fs -count`."""
    rc, txt = run(spark, "du", ns + "/")
    assert rc == 0
    children = {l.split()[-1].rsplit("/", 1)[-1] for l in txt.strip().splitlines()}
    assert children == {"data", "logs"}
    rc, txt = run(spark, "count", f"{ns}/logs/a.log")
    assert rc == 0
    dirs, files, _bytes, _path = txt.split()
    assert (dirs, files) == ("0", "1")
    # `du FILE` is one row for the file itself, like `hadoop fs -du FILE`
    rc, txt = run(spark, "du", f"{ns}/logs/a.log")
    assert rc == 0
    assert txt.split() == ["6", "1", f"{ns}/logs/a.log"]


def test_du_missing_path_is_an_error(spark, ns, capsys):
    rc, txt = run(spark, "du", f"{ns}/no/such/dir")
    assert rc == 1 and txt == ""
    err = capsys.readouterr().err
    assert f"du: {ns}/no/such/dir: No such file or directory" in err


def test_count_missing_path_is_an_error(spark, ns, capsys):
    # the missing operand fails; the one after it is still counted
    rc, txt = run(spark, "count", f"{ns}/nope", f"{ns}/logs")
    assert rc == 1
    assert txt.split() == ["1", "2", "11", f"{ns}/logs"]
    err = capsys.readouterr().err
    assert f"count: {ns}/nope: No such file or directory" in err


def test_du_count_run_no_spark_job_and_match_os_walk(spark, ns, tmp_path):
    """du and count read the filesystem's content summary: no Spark
    job starts, and the totals equal an os.walk of the tree. Hidden
    files count; the `.crc` sidecars the local filesystem writes beside
    each `hh put` file do not (ls and the listing skip them too)."""
    base = os.path.join(ns, "data")
    os.makedirs(os.path.join(base, "deep", "er"))
    os.makedirs(os.path.join(base, "empty", "also_empty"))
    with open(os.path.join(base, "deep", "er", "z.txt"), "w") as fh:
        fh.write("zz" * 50)
    with open(os.path.join(base, "deep", ".hidden"), "w") as fh:
        fh.write("h")
    src = tmp_path / "src.bin"
    src.write_bytes(b"p" * 700)
    assert run(spark, "put", str(src), f"{base}/deep/up.bin")[0] == 0
    assert os.path.exists(os.path.join(base, "deep", ".up.bin.crc"))

    def walk(top):
        dirs, files, size = 0, 0, 0
        for d, _, names in os.walk(top):
            dirs += 1
            for n in names:
                if not (n.startswith(".") and n.endswith(".crc")):
                    files += 1
                    size += os.path.getsize(os.path.join(d, n))
        return dirs, files, size

    sc = spark.sparkContext
    group = "test_du_count_no_jobs"
    sc.setJobGroup(group, "du and count")
    try:
        rc_count, count_txt = run(spark, "count", base)
        rc_du, du_txt = run(spark, "du", base)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()
    assert jobs == []
    assert rc_count == 0 and rc_du == 0
    dirs, files, size = walk(base)
    assert count_txt.split() == [str(dirs), str(files), str(size), base]
    assert (dirs, files, size) == (5, 4, 3 + 100 + 1 + 700)
    expected = []
    for name in sorted(os.listdir(base)):
        if name.startswith(".") and name.endswith(".crc"):
            continue
        path = os.path.join(base, name)
        if os.path.isdir(path):
            _, n, b = walk(path)
        else:
            n, b = 1, os.path.getsize(path)
        if n:
            expected.append(f"{b:>10} {n:>6} {path}")
    assert du_txt.splitlines() == expected
    assert [l.split()[-1] for l in expected] == [f"{base}/deep", f"{base}/x.bin"]


def test_cat_missing_path_is_an_error(spark, ns):
    rc, _ = run(spark, "cat", f"{ns}/no/such/file")
    assert rc == 1


def test_stat_format_with_literal_prefix(spark, ns):
    rc, txt = run(spark, "stat", "size=%b", f"{ns}/logs/a.log")
    assert rc == 0
    assert txt.strip() == "size=6"


def test_missing_operand_rc2(spark):
    assert run(spark, "put", "onearg")[0] == 2
    assert run(spark, "mv", "only")[0] == 2
    assert run(spark, "test")[0] == 2
    rc, _ = run(spark, "find", "/tmp", "-name")
    assert rc == 2
    # an option VALUE must not satisfy the operand count: `tail -c 100`
    # has no path and must be rc 2, not a silent rc-0 no-op
    assert run(spark, "tail", "-c", "100")[0] == 2
    assert run(spark, "cat")[0] == 2


def test_cli_spec_covers_every_command():
    """CLI_SPEC and COMMANDS must stay in lockstep — a new verb without
    a spec entry would bypass the operand gate."""
    assert set(cli.CLI_SPEC) == set(cli.COMMANDS)


def test_every_verb_missing_operand_is_rc2(spark):
    """Property over ALL verbs: any argv consisting only of the verb's
    declared options (flags, and each value_opt WITH its value) has
    zero operands, so every verb with min_operands >= 1 must return
    rc 2 — the class fix for the old hand-kept-tables regression where
    `tail -c 100` silently exited 0."""
    for verb, spec in cli.CLI_SPEC.items():
        if spec["min_operands"] < 1:
            continue
        variants = [[]]
        variants += [[f] for f in sorted(spec["flags"])]
        variants += [[v, "123"] for v in sorted(spec["value_opts"])]
        if spec["flags"] or spec["value_opts"]:
            variants.append(
                sorted(spec["flags"])
                + [t for v in sorted(spec["value_opts"]) for t in (v, "9")]
            )
        for extra in variants:
            rc, _ = run(spark, verb, *extra)
            assert rc == 2, (verb, extra, rc)


def test_one_missing_of_two_operands_is_rc2(spark):
    """Verbs needing two operands must reject exactly-one even when
    options pad the argv."""
    for verb in ("put", "mv", "chmod", "chown", "chgrp"):
        assert cli.CLI_SPEC[verb]["min_operands"] == 2
        rc, _ = run(spark, verb, "only-one")
        assert rc == 2, verb


def test_unknown_option_is_rc2_not_swallowed(spark, capsys):
    """A typo'd option must be rejected, not silently treated as a
    flag while its intended value is miscounted as an operand (the r8
    review's `hh tail -C 100` case — '100' would have become the
    path)."""
    rc, txt = run_err(capsys, spark, "tail", "-C", "100")
    assert rc == 2 and "unknown option" in txt
    assert run(spark, "ls", "-Q")[0] == 2
    assert run(spark, "rm", "-rf", "x")[0] == 2  # -rf is not -r


def test_double_dash_terminates_options(spark, ns, tmp_path, capsys):
    """POSIX `--` end-of-options: tokens after it are operands even if
    they start with '-', so a file literally named '-x' is reachable
    (ADVICE r8 — previously any '-'-token not in the verb's flags was
    rejected outright with no escape hatch)."""
    import io as _io

    weird = os.path.join(ns, "data", "-x")
    with open(weird, "w") as f:
        f.write("dashfile\n")

    # cat -- -x reads the file instead of rejecting an unknown option
    buf = _io.BytesIO()
    rc = cli.main(["cat", "--", weird], spark=spark, out=buf)
    assert rc == 0 and buf.getvalue() == b"dashfile\n"

    # test/rm reach it too; rm -r before `--` still parses as the flag
    assert cli.main(["test", "-f", "--", weird], spark=spark) == 0
    assert cli.main(["rm", "--", weird], spark=spark) == 0
    assert cli.main(["test", "-e", "--", weird], spark=spark) == 1

    # ls -- -R lists a literal '-R' operand (here: missing -> no rows,
    # rc 1 like a glob with no matches), NOT a recursive listing
    rc, txt = run(spark, "ls", "--", os.path.join(ns, "nope-*"))
    assert rc == 1 and txt.strip() == ""

    # the forced operands COUNT for the min_operands gate
    assert cli.main(["cat", "--"], spark=spark) == 2
    # and an unknown option BEFORE `--` is still rejected
    rc, txt = run_err(capsys, spark, "ls", "-Q", "--", ns)
    assert rc == 2 and "unknown option" in txt

    # parse unit surface: forced tokens are operands
    args = cli.parse("rm", ["-r", "--", "-x", "-y"])
    assert args.flags == {"-r"} and args.operands == ["-x", "-y"]


def test_tail_non_numeric_count_is_rc2(spark, ns):
    """`hh tail -c foo FILE` must report usage rc 2, not traceback
    out of main() with ValueError (r9 review)."""
    rc, _ = run(spark, "tail", "-c", "foo", f"{ns}/logs/a.log")
    assert rc == 2


def test_bad_option_value_and_surplus_operand_are_rc2(spark, ns, capsys):
    """An option value its check rejects and an operand past the verb's
    maximum are usage errors, not an unfiltered `find`, a raw
    Py4JJavaError from seeking past EOF, or a silently ignored
    operand."""
    a, b = f"{ns}/logs/a.log", f"{ns}/logs/b.log"
    for argv, msg in (
        (["find", ns, "-type", "x"], "-type: invalid value 'x'"),
        (["tail", "-c", "-5", a], "-c: invalid value '-5'"),
        (["ls", a, b], "too many operands"),
        (["du", a, b], "too many operands"),
        (["find", a, b], "too many operands"),
        (["test", "-e", a, f"{ns}/nope"], "too many operands"),
    ):
        rc, txt = run_err(capsys, spark, *argv)
        assert (rc, txt) == (2, f"hh {argv[0]}: {msg}\n"), argv


def test_chmod_changes_every_path(spark, ns):
    paths = [f"{ns}/logs/a.log", f"{ns}/logs/b.log"]
    assert cli.main(["chmod", "600", *paths], spark=spark) == 0
    assert [os.stat(p).st_mode & 0o777 for p in paths] == [0o600, 0o600]


def test_chmod_invalid_mode_is_rc2_and_changes_nothing(spark, ns, capsys):
    """A mode that is not octal is a usage error caught before any
    path changes, not a raw ValueError out of the first change."""
    paths = [f"{ns}/logs/a.log", f"{ns}/logs/b.log"]
    before = [os.stat(p).st_mode & 0o777 for p in paths]
    rc, txt = run_err(capsys, spark, "chmod", "9z", *paths)
    assert (rc, txt) == (2, "hh chmod: invalid mode '9z'\n")
    assert [os.stat(p).st_mode & 0o777 for p in paths] == before


def test_usage_error_with_binary_out_is_rc2(spark, capsys):
    """Usage errors print to stderr, so a binary ``out`` (the stream
    `cat` and `tail` write to) still gets rc 2, not a TypeError."""
    capsys.readouterr()
    assert cli.main(["cat"], spark=spark, out=io.BytesIO()) == 2
    assert capsys.readouterr().err == "hh cat: missing operand\n"


def test_test_takes_exactly_one_of_d_e_f(spark, ns, capsys):
    """`test` has no `-z`: it is an unknown option like any other, and
    a predicate count other than one is a usage error."""
    a = f"{ns}/logs/a.log"
    rc, txt = run_err(capsys, spark, "test", "-z", a)
    assert rc == 2 and "unknown option '-z'" in txt
    for argv in (["test", a], ["test", "-e", "-f", a]):
        rc, txt = run_err(capsys, spark, *argv)
        assert (rc, txt) == (2, "hh test: expected one of -d|-e|-f\n"), argv


def test_cp_copies_within_fs(spark, ns, tmp_path):
    rc, _ = run(spark, "cp", f"{ns}/logs/a.log", f"{ns}/logs/a2.log")
    assert rc == 0
    assert (
        open(f"{ns}/logs/a2.log").read() == open(f"{ns}/logs/a.log").read()
    )
    # recursive directory copy
    rc, _ = run(spark, "cp", f"{ns}/logs", f"{ns}/logs_copy")
    assert rc == 0
    rc, txt = run(spark, "ls", f"{ns}/logs_copy")
    assert rc == 0 and "a.log" in txt and "b.log" in txt
    # missing operand -> usage gate
    rc, _ = run(spark, "cp", f"{ns}/logs/a.log")
    assert rc == 2


def test_getmerge_concatenates_in_name_order(spark, ns, tmp_path):
    dst = str(tmp_path / "merged.txt")
    rc, _ = run(spark, "getmerge", f"{ns}/logs", dst)
    assert rc == 0
    a = open(f"{ns}/logs/a.log").read()
    b = open(f"{ns}/logs/b.log").read()
    assert open(dst).read() == a + b  # name order: a.log then b.log

    dst2 = str(tmp_path / "merged_nl.txt")
    rc, _ = run(spark, "getmerge", "-nl", f"{ns}/logs", dst2)
    assert rc == 0
    assert open(dst2).read() == a + "\n" + b + "\n"

    # missing source dir is an error, not a crash
    rc, _ = run(spark, "getmerge", f"{ns}/nope", str(tmp_path / "x"))
    assert rc == 1


def test_cp_refuses_existing_destination_without_f(spark, ns):
    """`hh cp` without -f must not clobber (the `hadoop fs -cp`
    contract, r10 ADVICE fix); -f overwrites."""
    src, dst = f"{ns}/logs/a.log", f"{ns}/logs/b.log"
    before = open(dst).read()
    rc, _ = run(spark, "cp", src, dst)
    assert rc == 1
    assert open(dst).read() == before  # untouched
    rc, _ = run(spark, "cp", "-f", src, dst)
    assert rc == 0
    assert open(dst).read() == open(src).read()
    # copying INTO an existing dir guards the effective target too
    rc, _ = run(spark, "cp", src, f"{ns}/logs")
    assert rc == 1


def test_df_reports_capacity(spark):
    """`hh df` prints the `hadoop fs -df` columns with sane numbers;
    -h switches to human units."""
    rc, txt = run(spark, "df", "/")
    assert rc == 0
    lines = txt.strip().splitlines()
    assert lines[0].split() == ["Filesystem", "Size", "Used",
                                "Available", "Use%"]
    parts = lines[1].split()
    cap, used, avail = int(parts[1]), int(parts[2]), int(parts[3])
    assert cap > 0 and 0 <= used <= cap and 0 <= avail <= cap
    assert parts[4].endswith("%")
    rc, txt = run(spark, "df", "-h")
    assert rc == 0 and any(
        u in txt for u in ("K", "M", "G", "T")
    )
    # operand gate: unknown option still rejected
    rc, _ = run(spark, "df", "-z")
    assert rc == 2

"""``hh``-style command-line interface (SURVEY.md §2.A).

The reference ships an ``hh`` executable whose subcommands (ls, find,
du, cat, get, put, mkdir, mv, rm, chmod, chown, chgrp, test, cd, pwd,
version) this module mirrors one-for-one over the engine's library
surface, so a user of the reference can run the same commands here:

    python -m hadoop_tools_spark ls '/data/*/logs'
    python -m hadoop_tools_spark du /data
    python -m hadoop_tools_spark test -e /data && echo exists

Argv is parsed once: :func:`main` hands the tokens after the verb to
:func:`parse`, which reads the verb's options, option values and
operand counts from :data:`CLI_SPEC` and rejects a bad argv with rc 2,
so every handler receives an already-checked :class:`Args`.

Every read verb goes through one client per operand,
:class:`~.sources.listing.DirLister`. Globs follow the component-wise
HDFS semantics of ``FileSystem.globStatus`` (``*`` ``?`` ``[a-b]``
``{a,b}``, a ``{…}`` holding a ``/`` expanded first, results sorted by
path), which the reference reimplemented client-side too; relative
paths resolve against the persisted working directory (``cd`` /
``pwd``), matching the reference's dotfile behavior.

Latency note: the reference's pitch is skipping the JVM for metadata
commands. When an operand resolves to the local FileSystem (a
``file:`` path, or a scheme-less one while ``fs.defaultFS`` is
``file:``), ``ls``, ``stat``, ``test``, ``du``, ``count`` and ``find``
are answered in Python from ``os.scandir`` and ``os.stat``, with at
most three gateway calls (the configuration reads) and none per entry,
and ``mkdir``, ``put``, ``mv`` and ``rm`` act with ``os`` calls that
write and move ``.crc`` sidecars as Hadoop does
(:mod:`~.sources.fsops`); every other scheme goes through Hadoop's
``FileSystem``, and so do ``cat``, ``tail`` and ``checksum``, which
verify the sidecars, and the other write verbs everywhere. Each
command still needs a SparkSession for its configuration, and a cold
one costs seconds: scripted/interactive use should hold one session
(the functions all accept an injected ``spark``), and data processing
belongs in the DataFrame API, not subprocess calls.
"""

from __future__ import annotations

import errno
import heapq
import os
import re
import sys
from typing import NamedTuple

from .sources import fsops, session_state
from .sources.listing import human_size

VERSION = "hadoop-tools-spark 1.0 (hh-compatible CLI)"


class Args(NamedTuple):
    """One parsed argv: the flags given, each value option's checked
    value, and the operands in order."""

    flags: set
    opts: dict
    operands: list


class UsageError(Exception):
    """An argv its verb's CLI_SPEC rejects; ``main`` prints it, rc 2."""


def _spark(spark=None):
    if spark is not None:
        return spark
    from .session import get_spark

    return get_spark("hh")


def _norm_root(root: str) -> str:
    """Display root for du/count: the trailing slash stripped WITHOUT
    emptying the filesystem root (``'/'.rstrip('/')`` is ``''``, and
    ``Path('')`` throws)."""
    return root.rstrip("/") or "/"


def _glob_status(spark, pattern: str, hadoop: bool = False):
    """Expand an HDFS glob with the component-wise semantics of
    ``FileSystem.globStatus``: ``(lister, rows)``, the operand's
    :class:`~.sources.listing.DirLister` and the rows of its matches,
    sorted by path. ``hadoop`` keeps a local operand on Hadoop's
    ``FileSystem``, for the verbs that read file contents."""
    from .sources.listing import DirLister

    lister = DirLister(spark, pattern, hadoop=hadoop)
    return lister, lister.glob()


def _expand(spark, verb: str, operands, dirs: bool = False, hadoop: bool = False):
    """Glob-expand each operand (``_glob_status``) with `hadoop fs`'s
    errors on stderr: ``VERB: ARG: No such file or directory`` for an
    operand that matches nothing and, unless ``dirs``, ``VERB: PATH: Is
    a directory`` for each directory match, which is dropped. Returns
    ``([(lister, rows), ...], rc)`` in operand order, leaving out the
    operands with no match kept; rc is 1 after any error, else 0."""
    groups, rc = [], 0
    for arg in operands:
        lister, matches = _glob_status(spark, session_state.resolve(arg), hadoop)
        if not matches:
            print(f"{verb}: {arg}: No such file or directory", file=sys.stderr)
            rc = 1
        kept = []
        for row in matches:
            if not dirs and row[2]:
                print(f"{verb}: {lister.ref(row)}: Is a directory", file=sys.stderr)
                rc = 1
            else:
                kept.append(row)
        if kept:
            groups.append((lister, kept))
    return groups, rc


def _fmt_status(row) -> str:
    """One ``hh ls`` line for a row in ``FILE_STATUS_SCHEMA`` order."""
    import datetime as _dt

    path, _, is_dir, size, owner, group, perm, mtime_ms = row[:8]
    mtime = _dt.datetime.fromtimestamp(
        mtime_ms / 1000, _dt.timezone.utc
    ).strftime("%Y-%m-%d %H:%M")
    return (
        f"{'d' if is_dir else '-'}{perm} {owner:<8} {group:<8} "
        f"{human_size(size):>10} {mtime} {path}"
    )


def cmd_ls(args, spark=None, out=sys.stdout):
    """``hh ls [-R] [GLOB]``: one line per entry, sorted by path.

    A glob argument expands first (``_expand``: an operand that matches
    nothing is an error, rc 1, as in ``hadoop fs -ls``); each matched
    directory is listed (children printed; with ``-R``, recursively),
    each matched file printed directly — the reference's semantics.
    Matches and rows come from the one
    :class:`~.sources.listing.DirLister` of the operand: on the local
    FileSystem it reads ``os.scandir`` and one ``stat`` per entry,
    elsewhere ``listStatusIterator`` pages; checksum sidecars are
    hidden either way. Each match's walk comes out sorted, and the
    walks are merged as they go, so lines print as the walk reaches
    them.
    """
    spark = _spark(spark)
    (arg,) = args.operands or ["."]
    groups, rc = _expand(spark, "ls", [arg], dirs=True)
    for lister, matches in groups:
        walks = [lister.walk(row, "-R" in args.flags) for row in matches]
        for row in heapq.merge(*walks, key=lambda r: r[0]):
            print(_fmt_status(row), file=out)
    return rc


def cmd_find(args, spark=None, out=sys.stdout):
    """``hh find PATH [-name GLOB] [-type f|d]``: print the sorted
    paths of the entries below PATH that pass the filters; a file PATH
    prints itself when it passes them, like ``hadoop fs -find FILE``.

    One driver walk (:meth:`~.sources.listing.DirLister.walk`:
    ``os.scandir`` on the local FileSystem, ``listStatusIterator``
    pages elsewhere) yields the entries in path order, and each match
    prints as the walk pops it: the first line comes after a few
    directory scans, the walk holds only the directories and matches
    it has listed and not yet reached, and no Spark job starts, on
    any scheme and at any tree size."""
    from .sources.listing import DirLister, FindFilter

    spark = _spark(spark)
    (arg,) = args.operands or ["."]
    keep = FindFilter(args.opts.get("-name"), args.opts.get("-type"))
    lister = DirLister(spark, session_state.resolve(arg))
    st = lister.status(lister.root(), brief=True)
    if st is None:
        print(f"find: {arg}: No such file or directory", file=sys.stderr)
        return 1
    for row in lister.walk(st, keep=keep, brief=True):
        print(row[0], file=out)
    return 0


def cmd_du(args, spark=None, out=sys.stdout):
    """``hh du [-h] [PATH]``: bytes and file count per child of PATH,
    sorted by child; children that hold no files are skipped. One
    listing of PATH, then one content summary per child directory
    (:meth:`~.sources.listing.DirLister.summary`): the aggregate the
    NameNode computes server-side on HDFS, a Python walk on the local
    FileSystem, so no entry below a child reaches the CLI row by row
    and no Spark job runs. A file PATH prints one row for itself, like
    ``hadoop fs -du FILE``. Raw byte counts by default; ``-h`` renders
    human-readable sizes (upstream ``hh du`` flag parity)."""
    from .sources.listing import DirLister

    spark = _spark(spark)
    (arg,) = args.operands or ["."]
    root = _norm_root(session_state.resolve(arg))
    lister = DirLister(spark, root)
    st = lister.status(lister.root(), brief=True)
    if st is None:
        print(f"du: {arg}: No such file or directory", file=sys.stderr)
        return 1
    if not st[2]:
        rows = [(root, st[3], 1)]
    else:
        prefix = root if root.endswith("/") else root + "/"
        rows = []
        for child in lister.children(lister.root(), brief=True):
            if child[2]:
                size, files, _ = lister.summary(lister.ref(child))
            else:
                size, files = child[3], 1
            if files:
                rows.append((prefix + child[1], size, files))
    for path, size, files in sorted(rows):
        shown = human_size(size) if "-h" in args.flags else str(size)
        print(f"{shown:>10} {files:>6} {path}", file=out)
    return 0


def cmd_count(args, spark=None, out=sys.stdout):
    """``hh count PATH...``: the ContentSummary triple — DIR_COUNT
    FILE_COUNT CONTENT_SIZE PATH, like ``hadoop fs -count``. One
    content summary per PATH (``getContentSummary`` off the local
    FileSystem), as in the reference; its directory count includes
    PATH itself when PATH is a directory (``hadoop fs -count FILE``
    prints 0 dirs)."""
    from .sources.listing import DirLister

    spark = _spark(spark)
    rc = 0
    for arg in args.operands or ["."]:
        root = _norm_root(session_state.resolve(arg))
        lister = DirLister(spark, root)
        try:
            size, files, dirs = lister.summary(lister.root())
        except FileNotFoundError:
            print(f"count: {arg}: No such file or directory", file=sys.stderr)
            rc = 1
            continue
        print(f"{dirs:>12} {files:>12} {size:>15} {root}", file=out)
    return rc


def cmd_cat(args, spark=None, out=None):
    """``hh cat FILE...``: emit file bytes to stdout via the Hadoop
    input stream (any scheme) — ``tail`` from offset 0. Reads cross
    the py4j bridge whole-file (py4j cannot fill a caller-supplied
    buffer in place); a production bulk-read is ``spark.read`` — this
    is the CLI parity path for small files."""
    return _emit(_spark(spark), "cat", args.operands, out)


def cmd_tail(args, spark=None, out=None):
    """``hh tail [-c BYTES] FILE...``: emit the last BYTES (default
    1 KiB) of a file — `hadoop fs -tail` parity."""
    return _emit(_spark(spark), "tail", args.operands, out,
                 args.opts.get("-c", 1024))


def _emit(spark, verb: str, operands, out, last=None):
    """Write the bytes of every file the operands match to ``out``
    (stdout's byte buffer by default) through the Hadoop input stream:
    whole, or only the ``last`` bytes after one seek to ``len - last``,
    so a tail reads just the tail block no matter how large the file
    is (the whole point on HDFS). A missing operand or a directory
    match is an error (rc 1) like `hadoop fs -cat`, not a py4j crash.
    Reads stay on Hadoop's ``FileSystem`` on every scheme: on
    ``file://`` its ``ChecksumFileSystem`` verifies the bytes against
    their ``.crc`` sidecar."""
    raw = out or getattr(sys.stdout, "buffer", sys.stdout)
    groups, rc = _expand(spark, verb, operands, hadoop=True)
    for lister, matches in groups:
        for row in matches:
            stream = lister.fs.open(lister.ref(row))
            try:
                if last is not None:
                    stream.seek(max(0, row[3] - last))
                data = lister.jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
                raw.write(bytes(data))
            finally:
                stream.close()
    return rc


def cmd_checksum(args, spark=None, out=sys.stdout):
    """``hh checksum PATH...``: per-file content md5 —
    `hdfs dfs -checksum` parity. The digest job runs in the engine
    (binaryFile source: one task per matched file, computed where the
    file lives); the driver only streams (path, md5, size) result
    rows, so a huge tree checksums in parallel with nothing but the
    report crossing to the client. Directory matches are skipped."""
    from pyspark.sql import functions as F

    spark = _spark(spark)
    groups, rc = _expand(spark, "checksum", args.operands, dirs=True, hadoop=True)
    for lister, matches in groups:
        targets = [lister.ref(row).toString() for row in matches if not row[2]]
        if not targets:
            continue
        df = (
            spark.read.format("binaryFile")
            .load(targets)
            .select(
                "path",
                F.md5(F.col("content")).alias("md5"),
                F.length(F.col("content")).cast("long").alias("size"),
            )
            .orderBy("path")
        )
        for r in df.toLocalIterator():
            print(f"{r.path}\tMD5\t{r.md5}\t{r.size}", file=out)
    return rc


def cmd_stat(args, spark=None, out=sys.stdout):
    """``hh stat [FORMAT] PATH...``: print file metadata per a
    `hadoop fs -stat` format string (default ``%y``). Specifiers:
    %b size, %n name, %o block size, %r replication, %u owner,
    %g group, %y mtime (UTC), %F type."""
    import datetime as _dt

    spark = _spark(spark)
    operands, fmt = args.operands, "%y"
    # a format like 'size=%b' need not START with '%' — any first
    # operand containing a specifier (and followed by >=1 path) is the
    # format
    if len(operands) >= 2 and "%" in operands[0]:
        fmt, operands = operands[0], operands[1:]
    groups, rc = _expand(spark, "stat", operands, dirs=True)
    # each field is read only if the format names it: off the local
    # FileSystem a row reads its fields from Java one by one, and Hadoop's
    # local FileStatus forks an `ls -ld` for the first owner or group
    fields = {
        "%b": lambda r: str(r[3]),
        "%n": lambda r: r[1],
        "%o": lambda r: str(r[9]),
        "%r": lambda r: str(r[8]),
        "%u": lambda r: r[4],
        "%g": lambda r: r[5],
        "%y": lambda r: _dt.datetime.fromtimestamp(
            r[7] / 1000, _dt.timezone.utc
        ).strftime("%Y-%m-%d %H:%M:%S"),
        "%F": lambda r: "directory" if r[2] else "regular file",
    }
    for _, matches in groups:
        for row in matches:
            line = fmt
            for k, field in fields.items():
                if k in line:
                    line = line.replace(k, field(row))
            print(line, file=out)
    return rc


def cmd_get(args, spark=None, **_):
    """``hh get SRC [DST]``: copy to local filesystem."""
    src, *dst = args.operands
    src = session_state.resolve(src)
    dst = dst[0] if dst else src.rsplit("/", 1)[-1]
    fsops.copy_to_local(_spark(spark), src, dst)
    return 0


def _refused(verb: str, arg: str, err: OSError) -> int:
    """Print a write verb's error as `hadoop fs` does, ``VERB: ARG:
    strerror``, on stderr; rc 1."""
    print(f"{verb}: {arg}: {err.strerror}", file=sys.stderr)
    return 1


def cmd_put(args, spark=None, **_):
    """``hh put SRC DST``: copy a local file to DST, or into DST when
    it is a directory, with its checksum sidecar; missing parents are
    created. On the local FileSystem this is Python file I/O
    (:func:`~.sources.fsops.copy_from_local`). A missing SRC, or a
    file where a directory of DST should be, is an error (rc 1)."""
    src, dst = args.operands
    try:
        fsops.copy_from_local(_spark(spark), src, session_state.resolve(dst))
    except OSError as err:
        return _refused("put", src if isinstance(err, FileNotFoundError) else dst, err)
    return 0


def cmd_mkdir(args, spark=None, **_):
    """``hh mkdir [-p] PATH...`` (always -p, like the reference): one
    ``mkdir`` per missing directory on the local FileSystem. A file in
    the way is an error (rc 1), reported per PATH."""
    spark = _spark(spark)
    rc = 0
    for p in args.operands:
        try:
            if not fsops.mkdirs(spark, session_state.resolve(p)):
                rc = 1
        except OSError as err:
            rc = _refused("mkdir", p, err)
    return rc


def cmd_mv(args, spark=None, **_):
    """``hh mv SRC DST``: rename SRC to DST, or into DST when it is a
    directory; a file takes its checksum sidecar along. An existing
    file DST is left as it is (rc 1); a missing SRC is an error."""
    src, dst = args.operands
    try:
        ok = fsops.rename(
            _spark(spark), session_state.resolve(src), session_state.resolve(dst)
        )
    except OSError as err:
        return _refused("mv", src if isinstance(err, FileNotFoundError) else dst, err)
    return 0 if ok else 1


def cmd_rm(args, spark=None, **_):
    """``hh rm [-r] PATH...``: a file goes with its checksum sidecar, a
    symlink as a link. A missing PATH (or a broken symlink), and a
    non-empty directory without ``-r``, are errors, reported per PATH
    (rc 1)."""
    spark = _spark(spark)
    rc = 0
    for p in args.operands:
        try:
            if not fsops.delete(spark, session_state.resolve(p), "-r" in args.flags):
                raise FileNotFoundError(errno.ENOENT, os.strerror(errno.ENOENT))
        except OSError as err:
            rc = _refused("rm", p, err)
    return rc


def cmd_chmod(args, spark=None, **_):
    """``hh chmod OCTAL PATH...``."""
    mode, *paths = args.operands
    if not re.fullmatch(r"[0-7]{1,4}", mode):
        # checked before any path changes: a bad mode changes nothing
        print(f"hh chmod: invalid mode {mode!r}", file=sys.stderr)
        return 2
    spark = _spark(spark)
    for p in paths:
        fsops.set_permission(spark, session_state.resolve(p), mode)
    return 0


def cmd_chown(args, spark=None, **_):
    """``hh chown OWNER[:GROUP] PATH...``."""
    spark = _spark(spark)
    owner_group, *paths = args.operands
    owner, _, group = owner_group.partition(":")
    for p in paths:
        resolved = session_state.resolve(p)
        fsops.set_owner(spark, resolved, owner or None, group or None)
    return 0


def cmd_chgrp(args, spark=None, **_):
    """``hh chgrp GROUP PATH...``."""
    spark = _spark(spark)
    group, *paths = args.operands
    for p in paths:
        fsops.set_owner(spark, session_state.resolve(p), None, group)
    return 0


def cmd_test(args, spark=None, **_):
    """``hh test -d|-e|-f PATH``: predicate via exit code, from one
    status lookup of PATH (``getFileStatus`` off the local
    FileSystem)."""
    from .sources.listing import DirLister

    (flag,) = args.flags
    lister = DirLister(_spark(spark), session_state.resolve(args.operands[0]))
    st = lister.status(lister.root(), brief=True)
    ok = st is not None and (flag == "-e" or st[2] == (flag == "-d"))
    return 0 if ok else 1


def cmd_cd(args, **_):
    """``hh cd PATH``: persist the working directory."""
    session_state.cd(args.operands[0])
    return 0


def cmd_pwd(args, out=sys.stdout, **_):
    """``hh pwd``."""
    print(session_state.pwd(), file=out)
    return 0


def cmd_cp(args, spark=None, **_):
    """``hh cp [-f] SRC DST``: filesystem-side copy (FileUtil.copy —
    the `hadoop fs -cp` call), recursive for directories. Without
    ``-f`` an existing destination is an error, as in `hadoop fs
    -cp`."""
    src, dst = args.operands
    try:
        ok = fsops.fs_copy(
            _spark(spark),
            session_state.resolve(src),
            session_state.resolve(dst),
            overwrite="-f" in args.flags,
        )
    except FileExistsError as e:
        print(f"cp: {e}", file=sys.stderr)
        return 1
    return 0 if ok else 1


def cmd_getmerge(args, spark=None, **_):
    """``hh getmerge [-nl] SRCDIR LOCALDST``: concatenate a dir's
    files (name order) into one local file; ``-nl`` newline-separates
    parts."""
    src, dst = args.operands
    try:
        fsops.getmerge(
            _spark(spark), session_state.resolve(src), dst,
            newline="-nl" in args.flags,
        )
    except FileNotFoundError as e:
        print(f"getmerge: {e}: No such file or directory",
              file=sys.stderr)
        return 1
    return 0


def cmd_df(args, spark=None, out=sys.stdout, **_):
    """``hh df [-h] [PATH]``: filesystem capacity report (the
    `hadoop fs -df` columns); ``-h`` human-readable units."""
    (arg,) = args.operands or ["/"]
    d = fsops.fs_df(_spark(spark), session_state.resolve(arg))

    def fmt(n: int) -> str:
        if "-h" not in args.flags:
            return str(n)
        for unit in ("", "K", "M", "G", "T", "P"):
            if abs(n) < 1024:
                return f"{n:.1f}{unit}" if unit else str(n)
            n /= 1024.0
        return f"{n:.1f}E"

    print("Filesystem  Size  Used  Available  Use%", file=out)
    print(
        f"{d['filesystem']}  {fmt(d['capacity'])}  {fmt(d['used'])}  "
        f"{fmt(d['remaining'])}  {d['pct_used']:.0f}%",
        file=out,
    )
    return 0


def cmd_version(args, out=sys.stdout, **_):
    print(VERSION, file=out)
    return 0


COMMANDS = {
    "ls": cmd_ls,
    "find": cmd_find,
    "du": cmd_du,
    "count": cmd_count,
    "cat": cmd_cat,
    "tail": cmd_tail,
    "stat": cmd_stat,
    "checksum": cmd_checksum,
    "get": cmd_get,
    "put": cmd_put,
    "cp": cmd_cp,
    "getmerge": cmd_getmerge,
    "mkdir": cmd_mkdir,
    "mv": cmd_mv,
    "rm": cmd_rm,
    "chmod": cmd_chmod,
    "chown": cmd_chown,
    "chgrp": cmd_chgrp,
    "test": cmd_test,
    "cd": cmd_cd,
    "pwd": cmd_pwd,
    "df": cmd_df,
    "version": cmd_version,
}


def _byte_count(value: str) -> int:
    """``tail -c``'s value: a non-negative byte count."""
    n = int(value)
    if n < 0:
        raise ValueError(value)
    return n


def _file_type(value: str) -> str:
    """``find -type``'s value: ``f`` (file) or ``d`` (directory)."""
    if value not in ("f", "d"):
        raise ValueError(value)
    return value


def _spec(lo, hi, *flags, values=None, one_flag=False):
    """One CLI_SPEC entry: ``lo``..``hi`` operands and ``flags``."""
    return {"flags": set(flags), "value_opts": values or {},
            "min_operands": lo, "max_operands": hi, "one_flag": one_flag}


#: Per-verb argv SPEC: the only place a verb's options, option values
#: and operand counts are declared, read only by :func:`parse`, the
#: only argv parser. ``flags`` are boolean options; ``value_opts`` map
#: an option that consumes the NEXT argv token to the function that
#: checks and converts that value (a ValueError makes it invalid);
#: ``min_operands`` and ``max_operands`` (None: no limit) bound the
#: operand count, so no handler indexes past its operands or ignores a
#: surplus one; a ``one_flag`` verb takes exactly one of its flags.
CLI_SPEC = {
    "ls": _spec(0, 1, "-R"),
    "find": _spec(0, 1, values={"-name": str, "-type": _file_type}),
    "du": _spec(0, 1, "-h"),
    "count": _spec(0, None),
    "cat": _spec(1, None),
    "tail": _spec(1, None, values={"-c": _byte_count}),
    # stat's FORMAT is an operand: it need not start with '%'
    "stat": _spec(1, None),
    "checksum": _spec(1, None),
    "get": _spec(1, 2),
    "put": _spec(2, 2),
    "cp": _spec(2, 2, "-f"),
    "getmerge": _spec(2, 2, "-nl"),
    "mkdir": _spec(1, None, "-p"),
    "mv": _spec(2, 2),
    "rm": _spec(1, None, "-r"),
    # the mode / owner / group operand comes first, then PATH...
    "chmod": _spec(2, None),
    "chown": _spec(2, None),
    "chgrp": _spec(2, None),
    # test's predicate is an option, not an operand
    "test": _spec(1, 1, "-e", "-d", "-f", one_flag=True),
    "cd": _spec(1, 1),
    "pwd": _spec(0, 0),
    "df": _spec(0, 1, "-h"),
    "version": _spec(0, 0),
}


def parse(verb: str, argv: list[str]) -> Args:
    """Parse the tokens after ``verb`` against ``CLI_SPEC[verb]``.

    Up to the first literal ``--``, a ``value_opts`` token takes the
    next token as its value, any other token starting with '-' must be
    one of the verb's flags, and the rest are operands; every token
    after ``--`` is an operand, so a file literally named ``-x`` is
    reachable as ``hh rm -- -x`` (the POSIX and `hadoop fs`
    convention). Raises UsageError for an unknown option, a missing or
    invalid option value, a missing operand, too many operands, or a
    ``one_flag`` verb not given exactly one flag."""
    spec = CLI_SPEC[verb]
    zone, forced = argv, []
    if "--" in argv:
        i = argv.index("--")
        zone, forced = argv[:i], argv[i + 1:]
    flags, opts, operands = set(), {}, []
    tokens = iter(zone)
    for tok in tokens:
        if tok in spec["value_opts"]:
            value = next(tokens, None)
            if value is None:
                raise UsageError(f"{tok}: missing operand")
            try:
                opts[tok] = spec["value_opts"][tok](value)
            except ValueError:
                raise UsageError(f"{tok}: invalid value {value!r}") from None
        elif not tok.startswith("-"):
            operands.append(tok)
        elif tok in spec["flags"]:
            flags.add(tok)
        else:
            raise UsageError(f"unknown option {tok!r}")
    operands += forced
    if len(operands) < spec["min_operands"]:
        raise UsageError("missing operand")
    hi = spec["max_operands"]
    if hi is not None and len(operands) > hi:
        raise UsageError("too many operands")
    if spec["one_flag"] and len(flags) != 1:
        raise UsageError(f"expected one of {'|'.join(sorted(spec['flags']))}")
    return Args(flags, opts, operands)


def main(argv=None, spark=None, out=None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if not argv or argv[0] in ("-h", "--help") or argv[0] not in COMMANDS:
        print(
            "usage: python -m hadoop_tools_spark "
            f"{{{'|'.join(COMMANDS)}}} [ARGS]",
            file=sys.stderr,
        )
        return 0 if argv and argv[0] in ("-h", "--help") else 2
    verb = argv[0]
    try:
        args = parse(verb, argv[1:])
    except UsageError as err:
        # stderr, as `hadoop fs` does: `out` may be a binary stream
        print(f"hh {verb}: {err}", file=sys.stderr)
        return 2
    kwargs = {}
    if spark is not None:
        kwargs["spark"] = spark
    if out is not None:
        kwargs["out"] = out
    return COMMANDS[verb](args, **kwargs)


if __name__ == "__main__":
    raise SystemExit(main())

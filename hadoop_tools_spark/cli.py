"""``hh``-style command-line interface (SURVEY.md §2.A).

The reference ships an ``hh`` executable whose subcommands (ls, find,
du, cat, get, put, mkdir, mv, rm, chmod, chown, chgrp, test, cd, pwd,
version) this module mirrors one-for-one over the engine's library
surface, so a user of the reference can run the same commands here:

    python -m hadoop_tools_spark ls '/data/*/logs'
    python -m hadoop_tools_spark du /data
    python -m hadoop_tools_spark test -e /data && echo exists

Glob expansion uses Hadoop's own ``FileSystem.globStatus`` — the
exact component-wise HDFS glob semantics (``*`` ``?`` ``[a-b]``
``{a,b}``) the reference reimplemented client-side; relative paths
resolve against the persisted working directory (``cd`` / ``pwd``),
matching the reference's dotfile behavior.

Latency note: the reference's pitch is skipping JVM startup for
metadata commands; a cold SparkSession costs seconds. The CLI is the
*surface* parity layer — scripted/interactive use should hold one
session (the functions all accept an injected ``spark``), and data
processing belongs in the DataFrame API, not subprocess calls.
"""

from __future__ import annotations

import sys

from .sources import fsops, session_state
from .sources.listing import human_size

VERSION = "hadoop-tools-spark 1.0 (hh-compatible CLI)"


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


def _not_found(err) -> bool:
    """Whether a ``Py4JJavaError`` wraps Hadoop's missing-path error."""
    name = err.java_exception.getClass().getName()
    return name == "java.io.FileNotFoundException"


def _glob_status(spark, pattern: str):
    """Expand an HDFS glob via FileSystem.globStatus (native
    component-wise semantics); returns a list of Java FileStatus."""
    from .sources.listing import _hadoop_fs

    fs, jpath, _ = _hadoop_fs(spark, pattern)
    matches = fs.globStatus(jpath)
    return list(matches) if matches is not None else []


def _fmt_status(st) -> str:
    perm = st.getPermission().toString()
    kind = "d" if st.isDirectory() else "-"
    size = human_size(int(st.getLen()))
    import datetime as _dt

    mtime = _dt.datetime.fromtimestamp(
        st.getModificationTime() / 1000, _dt.timezone.utc
    ).strftime("%Y-%m-%d %H:%M")
    return (
        f"{kind}{perm} {st.getOwner():<8} {st.getGroup():<8} "
        f"{size:>10} {mtime} {st.getPath().toUri().getPath()}"
    )


def cmd_ls(args, spark=None, out=sys.stdout):
    """``hh ls [-R] [GLOB]``: one line per entry, sorted by path.

    A glob argument expands first; each matched directory is listed
    (children printed; with ``-R``, recursively), each matched file
    printed directly — the reference's semantics.
    """
    from .sources.listing import _hadoop_fs

    spark = _spark(spark)
    zone, forced = posix_split(args)
    recursive = "-R" in zone
    pos = [a for a in zone if a != "-R"] + forced
    target = session_state.resolve(pos[0] if pos else ".")
    rows = []
    for st in _glob_status(spark, target):
        if st.isDirectory():
            fs, _, _ = _hadoop_fs(spark, target)
            stack = [st.getPath()]
            while stack:
                for child in fs.listStatus(stack.pop()):
                    rows.append(child)
                    if recursive and child.isDirectory():
                        stack.append(child.getPath())
        else:
            rows.append(st)
    for st in sorted(rows, key=lambda s: s.getPath().toUri().getPath()):
        print(_fmt_status(st), file=out)
    return 0


def cmd_find(args, spark=None, out=sys.stdout):
    """``hh find PATH [-name GLOB] [-type f|d]``: print the sorted
    paths of the entries below PATH that pass the filters; a file PATH
    prints itself when it passes them, like ``hadoop fs -find FILE``.

    The walk runs on the driver (:func:`walk_dirs`: ``os.scandir`` on
    local schemes, ``listStatusIterator`` pages otherwise) and keeps
    only the matching paths, so a small tree starts no Spark job. Past
    ``FRONTIER_CAP`` entries on a local scheme, the directories not
    yet scanned seed the distributed walk (``list_files_distributed``),
    whose rows the same :class:`FindFilter` filters on executors; the
    matches found so far join them, and the sorted result streams out
    through ``toLocalIterator``, so a 10^8-file tree runs in bounded
    driver memory."""
    from py4j.protocol import Py4JJavaError

    from .io import local_rows_df
    from .sources import listing

    spark = _spark(spark)
    zone, forced = posix_split(args)
    name_glob = type_flag = None
    if "-name" in zone:
        if zone.index("-name") + 1 >= len(zone):
            print("hh find: -name: missing operand", file=sys.stderr)
            return 2
        name_glob = zone[zone.index("-name") + 1]
    if "-type" in zone:
        if zone.index("-type") + 1 >= len(zone):
            print("hh find: -type: missing operand", file=sys.stderr)
            return 2
        type_flag = zone[zone.index("-type") + 1]
    pos, skip = [], False
    for a in zone:
        if skip:
            skip = False
        elif a in ("-name", "-type"):
            skip = True
        else:
            pos.append(a)
    pos += forced
    arg = pos[0] if pos else "."
    root = session_state.resolve(arg)
    keep = listing.FindFilter(name_glob, type_flag)
    fs, jpath, _ = listing._hadoop_fs(spark, root)
    try:
        st = fs.getFileStatus(jpath)
    except Py4JJavaError as err:
        if not _not_found(err):
            raise
        print(f"find: {arg}: No such file or directory", file=sys.stderr)
        return 1
    if not st.isDirectory():
        path = st.getPath()
        if keep(path.getName(), False):
            print(path.toUri().getPath(), file=out)
        return 0
    paths, unscanned = listing.walk_dirs(spark, root, keep)
    if not unscanned:
        for path in sorted(paths):
            print(path, file=out)
        return 0
    walked = listing.list_files_distributed(
        spark, unscanned, include_dirs=True, keep=keep
    )
    try:
        df = walked.select("path")
        if paths:
            seen = local_rows_df(spark, [(p,) for p in paths], "path string")
            df = seen.union(df)
        for r in df.orderBy("path").toLocalIterator():
            print(r.path, file=out)
    finally:
        # the distributed walk returns a persisted listing; release it
        # once rendered, blocking so repeated invocations cannot stack
        # pending frees
        walked.unpersist(True)
    return 0


def cmd_du(args, spark=None, out=sys.stdout):
    """``hh du [-h] [PATH]``: bytes and file count per child of PATH,
    sorted by child; children that hold no files are skipped. One
    ``listStatus`` of PATH, then one ``getContentSummary`` per child
    directory — the aggregate the NameNode computes server-side on
    HDFS (the JVM on ``file://``), so no entry below a child reaches
    the driver and no Spark job runs. A file PATH prints one row for
    itself, like ``hadoop fs -du FILE``. Raw byte counts by default;
    ``-h`` renders human-readable sizes (upstream ``hh du`` flag
    parity)."""
    from py4j.protocol import Py4JJavaError

    from .sources.listing import _hadoop_fs

    spark = _spark(spark)
    zone, forced = posix_split(args)
    human = "-h" in zone
    args = [a for a in zone if a != "-h"] + forced
    arg = args[0] if args else "."
    root = _norm_root(session_state.resolve(arg))
    fs, jpath, _ = _hadoop_fs(spark, root)
    try:
        st = fs.getFileStatus(jpath)
        children = fs.listStatus(jpath) if st.isDirectory() else None
    except Py4JJavaError as err:
        if not _not_found(err):
            raise
        print(f"du: {arg}: No such file or directory", file=sys.stderr)
        return 1
    if children is None:
        rows = [(root, st.getLen(), 1)]
    else:
        prefix = root if root.endswith("/") else root + "/"
        rows = []
        for child in children:
            path = child.getPath()
            if child.isDirectory():
                summary = fs.getContentSummary(path)
                size, files = summary.getLength(), summary.getFileCount()
            else:
                size, files = child.getLen(), 1
            if files:
                rows.append((prefix + path.getName(), size, files))
    for path, size, files in sorted(rows):
        shown = human_size(size) if human else str(size)
        print(f"{shown:>10} {files:>6} {path}", file=out)
    return 0


def cmd_count(args, spark=None, out=sys.stdout):
    """``hh count PATH...``: the ContentSummary triple — DIR_COUNT
    FILE_COUNT CONTENT_SIZE PATH, like ``hadoop fs -count``. One
    ``getContentSummary`` call per PATH, as in the reference; its
    directory count includes PATH itself when PATH is a directory
    (``hadoop fs -count FILE`` prints 0 dirs)."""
    from py4j.protocol import Py4JJavaError

    from .sources.listing import _hadoop_fs

    spark = _spark(spark)
    zone, forced = posix_split(args)
    rc = 0
    for arg in (zone + forced) or ["."]:
        root = _norm_root(session_state.resolve(arg))
        fs, jpath, _ = _hadoop_fs(spark, root)
        try:
            summary = fs.getContentSummary(jpath)
        except Py4JJavaError as err:
            if not _not_found(err):
                raise
            print(f"count: {arg}: No such file or directory", file=sys.stderr)
            rc = 1
            continue
        print(
            f"{summary.getDirectoryCount():>12} {summary.getFileCount():>12} "
            f"{summary.getLength():>15} {root}",
            file=out,
        )
    return rc


def cmd_cat(args, spark=None, out=None):
    """``hh cat FILE``: emit file bytes to stdout via the Hadoop
    input stream (any scheme). Reads cross the py4j bridge whole-file
    (py4j cannot fill a caller-supplied buffer in place); a
    production bulk-read is ``spark.read`` — this is the CLI parity
    path for small files."""
    from .sources.listing import _hadoop_fs

    spark = _spark(spark)
    raw = out or getattr(sys.stdout, "buffer", sys.stdout)
    jvm = spark._jvm
    rc = 0
    zone, forced = posix_split(args)
    for arg in zone + forced:
        path = session_state.resolve(arg)
        matches = _glob_status(spark, path) or []
        if not matches:
            # match `hadoop fs -cat`: a missing path is an error, not
            # silent empty output with rc 0
            print(f"cat: {arg}: No such file or directory", file=sys.stderr)
            rc = 1
        for st in matches:
            if st.isDirectory():
                # match `hadoop fs -cat` semantics: directories are an
                # error, not a crash (fs.open on a dir raises a raw
                # py4j exception otherwise)
                print(
                    f"cat: {st.getPath().toString()}: Is a directory",
                    file=sys.stderr,
                )
                rc = 1
                continue
            fs, _, _ = _hadoop_fs(spark, path)
            stream = fs.open(st.getPath())
            try:
                data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
                raw.write(bytes(data))
            finally:
                stream.close()
    return rc


def cmd_tail(args, spark=None, out=None):
    """``hh tail [-c BYTES] FILE``: emit the last BYTES (default 1 KiB)
    of a file — `hadoop fs -tail` parity. Seeks straight to
    ``len - n`` on the Hadoop input stream, so only the tail block is
    read no matter how large the file is (the whole point on HDFS)."""
    from .sources.listing import _hadoop_fs

    spark = _spark(spark)
    raw = out or getattr(sys.stdout, "buffer", sys.stdout)
    zone, forced = posix_split(args)
    n = 1024
    if "-c" in zone:
        i = zone.index("-c")
        if i + 1 >= len(zone):
            print("hh tail: -c: missing operand", file=sys.stderr)
            return 2
        try:
            n = int(zone[i + 1])
        except ValueError:
            print(
                f"hh tail: -c: invalid byte count {zone[i + 1]!r}",
                file=sys.stderr,
            )
            return 2
        zone = zone[:i] + zone[i + 2:]
    args = zone + forced
    jvm = spark._jvm
    rc = 0
    for arg in args:
        path = session_state.resolve(arg)
        matches = _glob_status(spark, path) or []
        if not matches:
            print(f"tail: {arg}: No such file or directory", file=sys.stderr)
            rc = 1
        for st in matches:
            if st.isDirectory():
                print(
                    f"tail: {st.getPath().toString()}: Is a directory",
                    file=sys.stderr,
                )
                rc = 1
                continue
            fs, _, _ = _hadoop_fs(spark, path)
            stream = fs.open(st.getPath())
            try:
                start = max(0, int(st.getLen()) - n)
                stream.seek(start)
                data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
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
    report crossing to the client."""
    from pyspark.sql import functions as F

    spark = _spark(spark)
    rc = 0
    zone, forced = posix_split(args)
    for arg in zone + forced:
        path = session_state.resolve(arg)
        matches = _glob_status(spark, path) or []
        if not matches:
            print(
                f"checksum: {arg}: No such file or directory",
                file=sys.stderr,
            )
            rc = 1
            continue
        targets = [
            st.getPath().toString()
            for st in matches
            if not st.isDirectory()
        ]
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
    """``hh stat [FORMAT] PATH``: print file metadata per a
    `hadoop fs -stat` format string (default ``%y``). Specifiers:
    %b size, %n name, %o block size, %r replication, %u owner,
    %g group, %y mtime (UTC), %F type."""
    import datetime as _dt

    spark = _spark(spark)
    zone, forced = posix_split(args)
    args = zone + forced
    fmt = "%y"
    # a format like 'size=%b' need not START with '%' — any first arg
    # containing a specifier (and followed by >=1 path) is the format
    if len(args) >= 2 and "%" in args[0]:
        fmt, args = args[0], args[1:]
    rc = 0
    for arg in args:
        path = session_state.resolve(arg)
        matches = _glob_status(spark, path) or []
        if not matches:
            print(f"stat: {arg}: No such file or directory", file=sys.stderr)
            rc = 1
        for st in matches:
            mtime = _dt.datetime.fromtimestamp(
                st.getModificationTime() / 1000, _dt.timezone.utc
            ).strftime("%Y-%m-%d %H:%M:%S")
            subs = {
                "%b": str(int(st.getLen())),
                "%n": st.getPath().getName(),
                "%o": str(int(st.getBlockSize())),
                "%r": str(int(st.getReplication())),
                "%u": st.getOwner(),
                "%g": st.getGroup(),
                "%y": mtime,
                "%F": "directory" if st.isDirectory() else "regular file",
            }
            line = fmt
            for k, v in subs.items():
                line = line.replace(k, v)
            print(line, file=out)
    return rc


def cmd_get(args, spark=None, **_):
    """``hh get SRC [DST]``: copy to local filesystem."""
    zone, forced = posix_split(args)
    pos = zone + forced
    src = session_state.resolve(pos[0])
    dst = pos[1] if len(pos) > 1 else src.rsplit("/", 1)[-1]
    fsops.copy_to_local(_spark(spark), src, dst)
    return 0


def cmd_put(args, spark=None, **_):
    """``hh put SRC DST``: copy from local filesystem."""
    zone, forced = posix_split(args)
    pos = zone + forced
    fsops.copy_from_local(_spark(spark), pos[0], session_state.resolve(pos[1]))
    return 0


def cmd_mkdir(args, spark=None, **_):
    """``hh mkdir [-p] PATH`` (always -p, like the reference)."""
    zone, forced = posix_split(args)
    paths = [a for a in zone if a != "-p"] + forced
    ok = all(fsops.mkdirs(_spark(spark), session_state.resolve(p)) for p in paths)
    return 0 if ok else 1


def cmd_mv(args, spark=None, **_):
    """``hh mv SRC DST``."""
    zone, forced = posix_split(args)
    pos = zone + forced
    ok = fsops.rename(
        _spark(spark),
        session_state.resolve(pos[0]),
        session_state.resolve(pos[1]),
    )
    return 0 if ok else 1


def cmd_rm(args, spark=None, **_):
    """``hh rm [-r] PATH...``."""
    zone, forced = posix_split(args)
    recursive = "-r" in zone
    ok = True
    for p in [a for a in zone if a != "-r"] + forced:
        ok = fsops.delete(_spark(spark), session_state.resolve(p), recursive) and ok
    return 0 if ok else 1


def cmd_chmod(args, spark=None, **_):
    """``hh chmod OCTAL PATH``."""
    zone, forced = posix_split(args)
    pos = zone + forced
    fsops.set_permission(_spark(spark), session_state.resolve(pos[1]), pos[0])
    return 0


def cmd_chown(args, spark=None, **_):
    """``hh chown OWNER[:GROUP] PATH``."""
    zone, forced = posix_split(args)
    pos = zone + forced
    owner, _, group = pos[0].partition(":")
    fsops.set_owner(
        _spark(spark), session_state.resolve(pos[1]), owner or None, group or None
    )
    return 0


def cmd_chgrp(args, spark=None, **_):
    """``hh chgrp GROUP PATH``."""
    zone, forced = posix_split(args)
    pos = zone + forced
    fsops.set_owner(_spark(spark), session_state.resolve(pos[1]), None, pos[0])
    return 0


def cmd_test(args, spark=None, **_):
    """``hh test -e|-d|-f PATH``: predicate via exit code."""
    preds = {"-e": fsops.exists, "-d": fsops.is_dir, "-f": fsops.is_file}
    zone, forced = posix_split(args)
    pos = zone[1:] + forced
    if not zone or zone[0] not in preds or not pos:
        print("hh test: expected -e|-d|-f PATH", file=sys.stderr)
        return 2
    flag, path = zone[0], session_state.resolve(pos[0])
    spark = _spark(spark)
    return 0 if preds[flag](spark, path) else 1


def cmd_cd(args, **_):
    """``hh cd PATH``: persist the working directory."""
    zone, forced = posix_split(args)
    pos = zone + forced
    session_state.cd(pos[0] if pos else "/")
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
    zone, forced = posix_split(args)
    pos = [a for a in zone if not a.startswith("-")] + forced
    try:
        ok = fsops.fs_copy(
            _spark(spark),
            session_state.resolve(pos[0]),
            session_state.resolve(pos[1]),
            overwrite="-f" in zone,
        )
    except FileExistsError as e:
        print(f"cp: {e}", file=sys.stderr)
        return 1
    return 0 if ok else 1


def cmd_getmerge(args, spark=None, **_):
    """``hh getmerge [-nl] SRCDIR LOCALDST``: concatenate a dir's
    files (name order) into one local file; ``-nl`` newline-separates
    parts."""
    zone, forced = posix_split(args)
    newline = "-nl" in zone
    pos = [a for a in zone if not a.startswith("-")] + forced
    try:
        fsops.getmerge(
            _spark(spark), session_state.resolve(pos[0]), pos[1],
            newline=newline,
        )
    except FileNotFoundError as e:
        print(f"getmerge: {e}: No such file or directory",
              file=sys.stderr)
        return 1
    return 0


def cmd_df(args, spark=None, out=sys.stdout, **_):
    """``hh df [-h] [PATH]``: filesystem capacity report (the
    `hadoop fs -df` columns); ``-h`` human-readable units."""
    zone, forced = posix_split(args)
    human = "-h" in zone
    pos = [a for a in zone if not a.startswith("-")] + forced
    path = session_state.resolve(pos[0]) if pos else "/"
    d = fsops.fs_df(_spark(spark), path)

    def fmt(n: int) -> str:
        if not human:
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


#: Per-command option SPEC — the one place a verb's surface is
#: declared: ``flags`` are boolean options, ``value_opts`` consume the
#: NEXT argv token as a value (which must not count as an operand, or
#: ``hh tail -c 100`` with no path passes the gate and silently exits
#: 0), ``min_operands`` is the minimum non-option token count
#: (validated up front so a genuine IndexError inside a handler
#: surfaces as the bug it is). The parser derives operand counting
#: from this spec, so a new verb or option cannot silently regress
#: the missing-operand gate the way the old hand-kept pair of tables
#: could (one table knew about -c, the other didn't).
CLI_SPEC = {
    "ls": {"flags": {"-R"}, "value_opts": set(), "min_operands": 0},
    "find": {"flags": set(), "value_opts": {"-name", "-type"},
             "min_operands": 0},
    "du": {"flags": {"-h"}, "value_opts": set(), "min_operands": 0},
    "count": {"flags": set(), "value_opts": set(), "min_operands": 0},
    "cat": {"flags": set(), "value_opts": set(), "min_operands": 1},
    "tail": {"flags": set(), "value_opts": {"-c"}, "min_operands": 1},
    "stat": {"flags": set(), "value_opts": set(), "min_operands": 1},
    "checksum": {"flags": set(), "value_opts": set(), "min_operands": 1},
    "get": {"flags": set(), "value_opts": set(), "min_operands": 1},
    "put": {"flags": set(), "value_opts": set(), "min_operands": 2},
    "cp": {"flags": {"-f"}, "value_opts": set(), "min_operands": 2},
    "getmerge": {"flags": {"-nl"}, "value_opts": set(),
                 "min_operands": 2},
    "mkdir": {"flags": {"-p"}, "value_opts": set(), "min_operands": 1},
    "mv": {"flags": set(), "value_opts": set(), "min_operands": 2},
    "rm": {"flags": {"-r"}, "value_opts": set(), "min_operands": 1},
    "chmod": {"flags": set(), "value_opts": set(), "min_operands": 2},
    "chown": {"flags": set(), "value_opts": set(), "min_operands": 2},
    "chgrp": {"flags": set(), "value_opts": set(), "min_operands": 2},
    # test's predicate (-e/-d/-f/-z) is an option, not an operand
    "test": {"flags": {"-e", "-d", "-f", "-z"}, "value_opts": set(),
             "min_operands": 1},
    "cd": {"flags": set(), "value_opts": set(), "min_operands": 1},
    "pwd": {"flags": set(), "value_opts": set(), "min_operands": 0},
    "df": {"flags": {"-h"}, "value_opts": set(), "min_operands": 0},
    "version": {"flags": set(), "value_opts": set(), "min_operands": 0},
}


def posix_split(args: list[str]) -> tuple[list[str], list[str]]:
    """POSIX end-of-options split: ``(option_zone, forced_operands)``.
    The first literal ``--`` terminates option parsing — every token
    after it is an operand even if it starts with '-' (so a file
    literally named ``-x`` is reachable as ``hh rm -- -x``, matching
    POSIX/hadoop-fs convention). Without ``--`` the whole argv is the
    option zone, exactly as before."""
    if "--" in args:
        i = args.index("--")
        return args[:i], args[i + 1 :]
    return args, []


def count_operands(cmd: str, args: list[str]) -> tuple[int, list[str]]:
    """(non-option token count, unknown options) of ``args`` per the
    command's CLI_SPEC (a value_opt swallows its following token). An
    option token not in the verb's declared flags|value_opts is
    UNKNOWN — rejected up front, so a typo'd `-C` can't be silently
    swallowed while its intended value is miscounted as the operand.
    `stat`'s %-format and chmod's octal mode don't start with '-', so
    they count as operands as before. Tokens after a ``--`` terminator
    all count as operands (posix_split)."""
    spec = CLI_SPEC[cmd]
    zone, forced = posix_split(args)
    n, skip, unknown = len(forced), False, []
    for a in zone:
        if skip:
            skip = False
        elif a in spec["value_opts"]:
            skip = True
        elif not a.startswith("-"):
            n += 1
        elif a not in spec["flags"]:
            unknown.append(a)
    return n, unknown


def main(argv=None, spark=None, out=None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if not argv or argv[0] in ("-h", "--help") or argv[0] not in COMMANDS:
        print(
            "usage: python -m hadoop_tools_spark "
            f"{{{'|'.join(COMMANDS)}}} [ARGS]",
            file=out or sys.stderr,
        )
        return 0 if argv and argv[0] in ("-h", "--help") else 2
    n_ops, unknown = count_operands(argv[0], argv[1:])
    if unknown:
        print(
            f"hh {argv[0]}: unknown option {unknown[0]!r}",
            file=out or sys.stderr,
        )
        return 2
    if n_ops < CLI_SPEC[argv[0]]["min_operands"]:
        print(f"hh {argv[0]}: missing operand", file=out or sys.stderr)
        return 2
    kwargs = {}
    if spark is not None:
        kwargs["spark"] = spark
    if out is not None:
        kwargs["out"] = out
    return COMMANDS[argv[0]](argv[1:], **kwargs)


if __name__ == "__main__":
    raise SystemExit(main())

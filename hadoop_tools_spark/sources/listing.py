"""Filesystem namespace → DataFrame (SURVEY.md §2.A, §4.3).

The reference's surface is HDFS metadata queries (``hh ls/find/du``)
answered by a native RPC client. Spark-first re-expression: materialize
the namespace as a ``FileStatus`` DataFrame and let every metadata
query be a relational query over it. The Hadoop ``FileSystem`` API is
reached through the driver JVM (py4j), so the same code paths speak
``file://`` locally and ``hdfs://``/``s3a://`` on a cluster — HA
failover, config, and auth are inherited from Spark's Hadoop client
(the reference reimplemented all three by hand). One lister,
:class:`DirLister`, reads every directory; on the local FileSystem it
reads ``os.scandir`` and one ``stat`` per entry.

Scale: a 10^8-entry namespace cannot be listed from one driver loop.
:func:`walk_dirs` walks on the driver until it has seen
:data:`FRONTIER_CAP` entries, then hands the directories it has not
scanned to :func:`list_files_distributed`, which ships them to
executors in BFS rounds — only *directory names* return to the driver
per round (tiny); file rows stay distributed in RDDs that are unioned
and only then become a DataFrame.
"""

from __future__ import annotations

import collections
import functools
import grp
import os
import pwd
import re
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: Directory paths a BFS frontier holds in memory before it spills
#: (:class:`_SpillFrontier`), and the entries a driver-side walk
#: (:func:`walk_dirs`) sees before it hands the rest of the tree to
#: the distributed walk. ``tools/rehearse_listing.py --entries 100000``
#: on 4 vCPUs (a 100 011-entry local tree): the driver walk of one
#: budget takes 0.6 s and grows the Python driver's RSS by 4.5-6.5 MB;
#: the distributed walk of the same tree takes 56-63 s in a fresh
#: session. ``hh find`` past the budget pays the distributed walk's
#: Spark jobs (8 there, for the one directory left): 6.5-7.1 s.
FRONTIER_CAP = 100_000

#: FileStatus schema (SURVEY §1.2) — mirrors HDFS protobuf fields.
FILE_STATUS_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("is_dir", T.BooleanType(), False),
        T.StructField("size", T.LongType(), False),
        T.StructField("owner", T.StringType(), True),
        T.StructField("group", T.StringType(), True),
        T.StructField("perm", T.StringType(), True),
        T.StructField("mtime_ms", T.LongType(), True),
        T.StructField("replication", T.IntegerType(), True),
        T.StructField("block_size", T.LongType(), True),
    ]
)


def glob_to_regex(pat: str) -> str:
    """HDFS glob → anchored regex.

    Semantics (Hadoop ``GlobFilter``): ``*`` / ``?`` match within a
    path component (never ``/``), ``[abc]``/``[a-b]``/``[^a]`` char
    classes, ``{a,b}`` alternation (nestable), ``\\`` escapes.
    Property-tested in tests/test_glob.py.
    """
    i, n, out = 0, len(pat), []
    depth = 0
    while i < n:
        c = pat[i]
        if c == "*":
            out.append("[^/]*")
        elif c == "?":
            out.append("[^/]")
        elif c == "\\" and i + 1 < n:
            out.append(re.escape(pat[i + 1]))
            i += 1
        elif c == "[":
            k = pat.find("]", i + 2)  # ']' right after '[' is literal
            if k == -1:
                out.append(re.escape(c))
            else:
                body = pat[i + 1 : k]
                if body.startswith("!"):  # glob negation spelling
                    body = "^" + body[1:]
                out.append("[" + body + "]")
                i = k
        elif c == "{":
            depth += 1
            out.append("(?:")
        elif c == "}" and depth:
            depth -= 1
            out.append(")")
        elif c == "," and depth:
            out.append("|")
        else:
            out.append(re.escape(c))
        i += 1
    return "^" + "".join(out) + "$"


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def _status_row(st) -> tuple:
    p = st.getPath()
    return (
        p.toUri().getPath(),
        p.getName(),
        st.isDirectory(),
        int(st.getLen()),
        st.getOwner(),
        st.getGroup(),
        st.getPermission().toString(),
        int(st.getModificationTime()),
        int(st.getReplication()),
        int(st.getBlockSize()),
    )


def _hadoop_children(fs, jpath):
    """The Java ``FileStatus`` of each entry of directory ``jpath``,
    drained through ``listStatusIterator`` (paged ``getListing`` on
    HDFS)."""
    it = fs.listStatusIterator(jpath)
    while it.hasNext():
        yield it.next()


def _stat_entries(it):
    """``(path, name, stat_result)`` of each entry of the open
    ``os.scandir`` iterator ``it`` that Hadoop's local ``listStatus``
    shows, as it shows it: ``stat()`` follows symlinks, an entry whose
    stat fails (a broken symlink, an entry removed mid-scan) is
    skipped, and checksum sidecars (``.NAME.crc``) are hidden, as
    ``ChecksumFileSystem`` hides them. Errors are handled per entry: a
    bad entry never hides its siblings."""
    with it:
        for e in it:
            name = e.name
            if name.startswith(".") and name.endswith(".crc"):
                continue
            try:
                s = e.stat()
            except OSError:
                continue
            yield e.path, name, s


class DirLister:
    """The one directory lister of ``hh ls``, :func:`walk_dirs` and
    :func:`list_status_df`: rows in :data:`FILE_STATUS_SCHEMA` order.

    On the local FileSystem (``fs.getScheme() == "file"``, read from
    the resolved FileSystem, not from the path string) a directory is
    read with ``os.scandir`` and one ``stat`` per entry, rendered as
    Hadoop's local ``FileStatus`` renders it. That ``FileStatus`` forks
    an ``ls -ld`` per entry for its owner, group and permission when no
    native Hadoop library is loaded. Every other scheme drains
    ``listStatusIterator`` pages into :func:`_status_row`. An entry is
    named by a *ref*: its local path on the local FileSystem, its Java
    ``Path`` elsewhere.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.fs, self.jpath, _ = _hadoop_fs(spark, path)
        self.local = self.fs.getScheme() == "file"
        self._names: dict = {}

    @functools.cached_property
    def block_size(self) -> int:
        """The local FileSystem's default block size: one call per
        lister, and none for a walk that reads only brief rows."""
        return int(self.fs.getDefaultBlockSize(self.jpath))

    def ref(self, jpath):
        """The ref of Java ``Path`` ``jpath``."""
        if not self.local:
            return jpath
        return self.fs.makeQualified(jpath).toUri().getPath()

    def root(self):
        """The ref of the path the lister was made for."""
        return self.ref(self.jpath)

    def _name(self, lookup, key: int) -> str:
        """The name ``lookup`` (``pwd.getpwuid`` or ``grp.getgrgid``)
        gives id ``key``, cached per id; the number when it has none,
        as ``ls -ld`` prints it."""
        k = (lookup, key)
        if k not in self._names:
            try:
                self._names[k] = lookup(key)[0]
            except KeyError:
                self._names[k] = str(key)
        return self._names[k]

    def _local_row(self, path: str, name: str, s) -> tuple:
        mode = s.st_mode
        return (
            path,
            name,
            stat.S_ISDIR(mode),
            s.st_size,
            self._name(pwd.getpwuid, s.st_uid),
            self._name(grp.getgrgid, s.st_gid),
            # FsPermission keeps no setuid / setgid bit: it reads an
            # 's' as 'x' and an 'S' as '-'
            stat.filemode(mode & ~(stat.S_ISUID | stat.S_ISGID))[1:],
            s.st_mtime_ns // 1_000_000,
            1,
            self.block_size,
        )

    def row(self, st) -> tuple:
        """The row of one Java ``FileStatus`` the caller holds, such as
        a glob match; on the local FileSystem it is read with
        ``os.stat``, as the lister reads a directory's entries."""
        if not self.local:
            return _status_row(st)
        jpath = st.getPath()
        path = self.ref(jpath)
        return self._local_row(path, jpath.getName(), os.stat(path))

    def children(self, ref, brief: bool = False):
        """``(row, ref)`` of each entry of directory ``ref``. A
        ``brief`` row holds only ``path, name, is_dir``: all a walk
        that keeps paths reads, and off the local FileSystem five
        gateway calls per entry, not thirteen."""
        if not self.local:
            for st in _hadoop_children(self.fs, ref):
                p = st.getPath()
                if brief:
                    row = (p.toUri().getPath(), p.getName(), st.isDirectory())
                else:
                    row = _status_row(st)
                yield row, p
            return
        try:
            entries = _stat_entries(os.scandir(ref))
        except NotADirectoryError:
            # as in Hadoop, the listing of a file is the file itself
            entries = [(ref, ref.rsplit("/", 1)[-1], os.stat(ref))]
        for path, name, s in entries:
            if brief:
                yield (path, name, stat.S_ISDIR(s.st_mode)), path
            else:
                yield self._local_row(path, name, s), path

    def walk(self, ref, recursive: bool):
        """Rows of the entries of directory ``ref`` and, if
        ``recursive``, of every directory below it (depth first)."""
        stack = [ref]
        while stack:
            for row, child in self.children(stack.pop()):
                if recursive and row[2]:
                    stack.append(child)
                yield row


def list_status_df(
    spark: SparkSession,
    path: str,
    recursive: bool = False,
    glob: str | None = None,
) -> DataFrame:
    """Namespace listing of directory ``path`` (any scheme) through
    :class:`DirLister`; with ``recursive``, of every directory below
    it too.

    On the local FileSystem the lister reads each directory with
    ``os.scandir`` and one ``stat`` per entry. Elsewhere each
    directory is drained through ``listStatusIterator`` — Hadoop's
    paged listing protocol: against HDFS the RemoteIterator issues
    ``getListing`` RPCs of ``dfs.ls.limit`` entries (default 1000)
    with a startAfter cursor, exactly the paged
    ``getListing``/``remainingEntries`` loop the reference drives
    natively — so a 10^6-entry directory streams in pages instead of
    materializing one giant RPC response. Glob filters on entry
    *name*, mirroring ``hh ls GLOB`` component matching.
    """
    lister = DirLister(spark, path)
    rx = re.compile(glob_to_regex(glob)) if glob else None
    rows = [
        row for row in lister.walk(lister.root(), recursive)
        if rx is None or rx.match(row[1])
    ]
    from ..io import local_rows_df

    return local_rows_df(spark, rows, FILE_STATUS_SCHEMA)


def _scan_local_dirs(paths):
    """Executor-side scandir over local paths: yields ``('d'|'f', path,
    size, mtime_ms)`` rows (0, 0 for a directory) for the entries
    :func:`_stat_entries` shows, so the distributed walk sees the
    entries the driver's :class:`DirLister` sees. A directory that
    cannot be opened is skipped.
    """
    for d in paths:
        try:
            it = os.scandir(d)
        except OSError:
            continue
        for path, _name, s in _stat_entries(it):
            if stat.S_ISDIR(s.st_mode):
                yield ("d", path, 0, 0)
            else:
                yield ("f", path, s.st_size, s.st_mtime_ns // 1_000_000)


class FindFilter:
    """The ``hh find`` test on one entry: ``-name`` (an HDFS glob over
    the entry's name, :func:`glob_to_regex`) and ``-type f|d``. The
    driver walk calls it directly and the distributed walk runs the
    same instance on executors, so the two cannot disagree."""

    def __init__(self, name_glob: str | None, type_flag: str | None):
        self.rx = None
        if name_glob is not None:
            self.rx = re.compile(glob_to_regex(name_glob))
        self.want_dir = {"f": False, "d": True}.get(type_flag)

    def __call__(self, name, is_dir):
        return (self.want_dir is None or is_dir == self.want_dir) and (
            self.rx is None or self.rx.match(name) is not None
        )


def walk_dirs(lister: DirLister, keep) -> tuple[list[str], list[str]]:
    """Driver-side BFS below the directory ``lister`` was made for:
    ``(paths, unscanned)``.

    ``paths`` are the paths of the entries for which ``keep(name,
    is_dir)`` holds; nothing else is kept. Each directory is read with
    :meth:`DirLister.children`: ``os.scandir`` on the local FileSystem,
    whose entries the executors' :func:`_scan_local_dirs` sees alike,
    and ``listStatusIterator`` pages elsewhere. On the local
    FileSystem, the one :func:`list_files_distributed` can continue,
    the walk stops once it has seen more than :data:`FRONTIER_CAP`
    entries and returns the directories it has not scanned. A
    directory whose scan crossed the budget is among them and
    contributes nothing to ``paths``, so ``paths`` and a walk of
    ``unscanned`` cover the tree exactly once, and the driver holds at
    most a budget of paths.
    """
    budget = FRONTIER_CAP if lister.local else None
    paths, todo, seen = [], collections.deque([lister.root()]), 0
    while todo:
        d = todo.popleft()
        found, subdirs = [], []
        for (path, name, is_dir), ref in lister.children(d, brief=True):
            seen += 1
            if budget is not None and seen > budget:
                todo.appendleft(d)
                return paths, list(todo)
            if is_dir:
                subdirs.append(ref)
            if keep(name, is_dir):
                found.append(path)
        paths += found
        todo.extend(subdirs)
    return paths, []


class _SpillFrontier:
    """Driver-side BFS frontier with a hard in-memory cap.

    Up to ``cap`` directory paths live in a deque; overflow appends to
    a newline-delimited temp file on local disk. Pops drain memory
    first, then refill from the spill file in ``cap``-sized batches —
    so a 10^6-dir level costs the driver ``cap`` strings plus one open
    file handle, never ~100 MB of path strings. ``peak_mem`` records
    the high-water mark for the bounded-memory pytest.
    """

    def __init__(self, cap: int = FRONTIER_CAP):
        self.cap = cap
        self.mem: "collections.deque[str]" = collections.deque()
        self.peak_mem = 0
        self.spilled = 0
        #: high-water mark of on-disk frontier lines — unlike
        #: ``spilled`` (which resets on refill) this is monotonic, so
        #: rehearsals can assert "the walk really did spill".
        self.peak_spilled = 0
        self._spill = None  # lazily-created tempfile (append handle)

    def push(self, path: str) -> None:
        if len(self.mem) < self.cap:
            self.mem.append(path)
            self.peak_mem = max(self.peak_mem, len(self.mem))
        else:
            if self._spill is None:
                import tempfile

                self._spill = tempfile.TemporaryFile(
                    mode="w+", prefix="hts-frontier-"
                )
            self._spill.write(path + "\n")
            self.spilled += 1
            self.peak_spilled = max(self.peak_spilled, self.spilled)

    def _refill(self) -> None:
        if self.mem or not self.spilled:
            return
        # stream the spill back in one cap-sized batch; rewrite the
        # remainder to a fresh spill file (sequential IO, no seeks)
        self._spill.seek(0)
        old, self._spill = self._spill, None
        self.spilled = 0
        for i, line in enumerate(old):
            if i < self.cap:
                self.mem.append(line.rstrip("\n"))
            else:
                self.push(line.rstrip("\n"))
        old.close()

    def pop_chunk(self, n: int) -> list[str]:
        self._refill()
        chunk = [self.mem.popleft() for _ in range(min(n, len(self.mem)))]
        return chunk

    def __bool__(self) -> bool:
        return bool(self.mem) or self.spilled > 0

    def close(self) -> None:
        if self._spill is not None:
            self._spill.close()
            self._spill = None


def list_files_distributed(
    spark: SparkSession,
    root: str | list[str],
    max_rounds: int = 100_000,
    frontier_cap: int = FRONTIER_CAP,
    include_dirs: bool = False,
    stats: dict | None = None,
    keep=None,
) -> DataFrame:
    """Distributed BFS namespace walk (the 10^8-file path).

    ``root`` is one local directory or a list of seed directories,
    such as the ones a :func:`walk_dirs` left unscanned; the listing
    holds the entries below the seeds, not the seeds themselves. Each
    round parallelizes (a chunk of) the current directory
    frontier across executors; executors scan their directories and
    emit files + child dirs. Only child-dir *paths* return to the
    driver — streamed via ``toLocalIterator`` into a
    :class:`_SpillFrontier` that holds at most ``frontier_cap`` paths
    in memory and spills the rest to local disk, so driver RSS is
    bounded regardless of how wide a namespace level is. File rows
    remain distributed and are unioned lazily. Local-scheme
    implementation uses ``os.scandir`` on executors; an ``hdfs://``
    deployment swaps the scan function for a WebHDFS/libhdfs call —
    the orchestration is scheme-agnostic.

    ``keep``, if given, is a ``keep(name, is_dir)`` test such as
    :class:`FindFilter`: executors drop the rows it rejects before the
    listing is persisted.

    ``stats``, if given, receives the walk's observability counters
    (``rounds``, ``frontier_peak_mem``, ``frontier_spilled``,
    ``rows``) — the namespace-scale rehearsal
    (tools/rehearse_listing.py) asserts bounded-driver behavior
    through these rather than by monkeypatching internals.
    """
    from pyspark import StorageLevel

    sc = spark.sparkContext
    frontier = _SpillFrontier(cap=frontier_cap)
    for seed in [root] if isinstance(root, str) else root:
        frontier.push(seed)
    file_rdds = []
    round_rdds = []
    rounds = 0
    try:
        while frontier and rounds < max_rounds:
            rounds += 1
            chunk = frontier.pop_chunk(frontier_cap)
            rdd = sc.parallelize(chunk, max(1, min(len(chunk), 64))).mapPartitions(
                _scan_local_dirs
            )
            # MEMORY_AND_DISK, not the MEMORY_ONLY default: a wide
            # level's rows must spill, not evict-and-RESCAN (a second
            # scandir could see a changed filesystem)
            rdd = rdd.persist(StorageLevel.MEMORY_AND_DISK)
            round_rdds.append(rdd)
            # coalesce the (paths-only) dirs pull so toLocalIterator
            # costs a handful of jobs per round, not one per scan
            # partition. The Python driver never holds more than the
            # SpillFrontier cap; the JVM driver transiently holds one
            # coalesced partition (~1/4 of the round's child dirs)
            # while serving it to Python.
            dirs = (
                rdd.filter(lambda r: r[0] == "d")
                .map(lambda r: r[1])
                .coalesce(4)
            )
            for p in dirs.toLocalIterator():
                frontier.push(p)
            if include_dirs:
                file_rdds.append(rdd)
            else:
                file_rdds.append(rdd.filter(lambda r: r[0] == "f"))
    finally:
        if stats is not None:
            stats["rounds"] = rounds
            stats["frontier_peak_mem"] = frontier.peak_mem
            stats["frontier_spilled"] = frontier.peak_spilled
        frontier.close()
    if not file_rdds:
        if stats is not None:
            stats["rows"] = 0
        from ..io import local_rows_df

        return local_rows_df(spark, [], FILE_STATUS_SCHEMA)
    union = sc.union(file_rdds).map(
        lambda r: (
            r[1],
            r[1].rsplit("/", 1)[-1],
            r[0] == "d",
            r[2],
            None,
            None,
            None,
            r[3],
            1,
            0,
        )
    )
    if keep is not None:
        union = union.filter(lambda r: keep(r[1], r[2]))
    # materialize the final listing to DISK_ONLY, then release every
    # round's cache deterministically — the per-round RDDs previously
    # stayed pinned in executor memory for the session's lifetime.
    # DISK_ONLY keeps a 10^8-row namespace out of executor heap; the
    # caller streams it once (find/ls) or aggregates it (du).
    out = spark.createDataFrame(union, FILE_STATUS_SCHEMA).persist(
        StorageLevel.DISK_ONLY
    )
    n = out.count()
    if stats is not None:
        stats["rows"] = n
    for rdd in round_rdds:
        rdd.unpersist(True)
    return out


def human_size(n: int) -> str:
    """`hh ls` human-readable sizes (binary units, one decimal)."""
    size = float(n)
    for unit in ("B", "K", "M", "G", "T", "P"):
        if size < 1024 or unit == "P":
            return f"{size:.1f}{unit}" if unit != "B" else f"{int(size)}B"
        size /= 1024
    return f"{size:.1f}P"

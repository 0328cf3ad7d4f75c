"""Filesystem namespace → DataFrame (SURVEY.md §2.A, §4.3).

The reference's surface is HDFS metadata queries (``hh ls/find/du``)
answered by a native RPC client. Spark-first re-expression: materialize
the namespace as a ``FileStatus`` DataFrame and let every metadata
query be a relational query over it. The Hadoop ``FileSystem`` API is
reached through the driver JVM (py4j), so the same code paths speak
``file://`` locally and ``hdfs://``/``s3a://`` on a cluster — HA
failover, config, and auth are inherited from Spark's Hadoop client
(the reference reimplemented all three by hand). One client,
:class:`DirLister`, globs, stats, summarizes and lists every operand;
on the local FileSystem it answers from ``os.scandir`` and ``os.stat``
in Python, with no Hadoop ``FileSystem`` call.

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
import string

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


class _JavaRow:
    """A Java ``FileStatus`` read as a :data:`FILE_STATUS_SCHEMA` row:
    each field costs its gateway calls on first use, so a reader of two
    fields (``stat %b``, ``cat``) pays for two, not all ten."""

    #: how the row reads each field of the schema, in order
    FIELDS = (
        lambda r: r.jpath.toUri().getPath(),
        lambda r: r.jpath.getName(),
        lambda r: r.st.isDirectory(),
        lambda r: int(r.st.getLen()),
        lambda r: r.st.getOwner(),
        lambda r: r.st.getGroup(),
        lambda r: r.st.getPermission().toString(),
        lambda r: int(r.st.getModificationTime()),
        lambda r: int(r.st.getReplication()),
        lambda r: int(r.st.getBlockSize()),
    )

    def __init__(self, st):
        self.st = st
        self._got: dict = {}

    @functools.cached_property
    def jpath(self):
        """The entry's Java ``Path``: its ref off the local FileSystem."""
        return self.st.getPath()

    def __getitem__(self, i):
        if isinstance(i, slice):
            return tuple(self[j] for j in range(len(self.FIELDS))[i])
        if i not in self._got:
            self._got[i] = self.FIELDS[i](self)
        return self._got[i]


def _status_row(st) -> tuple:
    """The row of one Java ``FileStatus``, every field read."""
    return tuple(_JavaRow(st))


def _hadoop_children(fs, jpath):
    """The Java ``FileStatus`` of each entry of directory ``jpath``,
    drained through ``listStatusIterator`` (paged ``getListing`` on
    HDFS)."""
    it = fs.listStatusIterator(jpath)
    while it.hasNext():
        yield it.next()


def _not_found(err) -> bool:
    """Whether a ``Py4JJavaError`` wraps Hadoop's missing-path error."""
    name = err.java_exception.getClass().getName()
    return name == "java.io.FileNotFoundException"


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


def _local_stat(path: str):
    """``os.stat(path)``, or None where Hadoop's local ``getFileStatus``
    finds nothing: a missing entry, a broken symlink, or a file used as
    a directory."""
    try:
        return os.stat(path)
    except (FileNotFoundError, NotADirectoryError):
        return None


def _escaped(pat: str, i: int) -> str:
    """The character a ``\\`` at ``i - 1`` escapes."""
    if i >= len(pat):
        raise ValueError(f"Illegal file pattern: nothing escaped at {i} of {pat}")
    return pat[i]


def _slash_brace(pat: str, i: int) -> int:
    """Where the leftmost outermost ``{…}`` from ``i`` on that holds a
    ``/`` opens, or -1 (``GlobExpander.leftmostOuterCurlyContainingSlash``)."""
    depth, left, slash = 0, -1, False
    while i < len(pat):
        c = pat[i]
        if c == "\\":
            i += 1
            _escaped(pat, i)
        elif c == "{":
            if not depth:
                left = i
            depth += 1
        elif c == "}" and depth:
            depth -= 1
            if not depth and slash:
                return left
        elif c == "/" and depth:
            slash = True
        i += 1
    return -1


def _expand_slash_braces(pattern: str) -> list[str]:
    """Hadoop's ``GlobExpander.expand``: the patterns ``pattern`` stands
    for once every outermost ``{…}`` that holds a ``/`` is expanded,
    leftmost first, so that each pattern is matched one path component
    at a time. A brace with no ``/`` is left to :func:`_glob_component`.
    As in Hadoop, an expanded brace drops its ``\\`` escapes."""
    done, todo = [], [(pattern, 0)]
    while todo:
        pat, offset = todo.pop(0)
        left = _slash_brace(pat, offset)
        if left < 0:
            done.append(pat)
            continue
        alts, cur, depth, i = [], [], 0, left
        while True:
            c = pat[i]
            if c == "\\":
                i += 1
                cur.append(_escaped(pat, i))
            elif c == "{":
                if depth:
                    cur.append(c)
                depth += 1
            elif c == "}":
                depth -= 1
                if not depth:
                    break
                cur.append(c)
            elif c == "," and depth == 1:
                alts.append("".join(cur))
                cur = []
            else:
                cur.append(c)
            i += 1
        alts.append("".join(cur))
        prefix, suffix = pat[:left], pat[i + 1:]
        todo[:0] = [(prefix + alt + suffix, len(prefix)) for alt in alts]
    return done


def _glob_component(glob: str):
    """Hadoop's ``GlobPattern`` of one path component, as a Python
    regex: ``*`` and ``?`` match any characters (a leading ``.``
    included), ``[…]`` / ``[!…]`` are classes, ``{a,b}`` alternates and
    ``\\`` escapes. Returns None when the component has no wildcard and
    so names one entry; raises ValueError where Hadoop rejects the
    pattern (an unclosed ``[`` or ``{``). :func:`glob_to_regex` stays
    apart: it matches whole paths in DataFrame filters, so its ``*``
    and ``?`` never cross a ``/``, and it reads an unclosed ``[`` as a
    literal."""
    out, in_set, depth, wild, i = [], False, 0, False, 0
    while i < len(glob):
        c = glob[i]
        if c == "\\":
            i += 1
            out.append(c + _escaped(glob, i))
        elif c in ".$()|+":
            out.append("\\" + c)
        elif c in "*?":
            out.append(".*" if c == "*" else ".")
            wild = True
        elif c == "{":
            out.append("(?:")
            depth += 1
            wild = True
        elif c == "," and depth:
            out.append("|")
        elif c == "}" and depth:
            out.append(")")
            depth -= 1
        elif c == "[":
            if in_set:
                raise ValueError(f"Illegal file pattern: unclosed class in {glob}")
            out.append(c)
            in_set = wild = True
        elif c == "^":
            out.append(c if in_set else "\\^")
        elif c == "!":
            out.append("^" if in_set and glob[i - 1] == "[" else c)
        else:
            if c == "]":
                in_set = False
            out.append(c)
        i += 1
    if in_set or depth:
        raise ValueError(f"Illegal file pattern: unclosed class or group in {glob}")
    return re.compile("".join(out), re.DOTALL) if wild else None


#: the ASCII characters ``java.net.URI`` keeps as they are in a path;
#: it quotes every other one as ``%XX``
_URI_PATH_CHARS = frozenset(
    string.ascii_letters + string.digits + "-_.!~*'()" + ":@&=+$,;/"
)


def _uri_order(path: str) -> bytes:
    """Sort key of ``path`` as ``FileStatus.compareTo`` orders it: the
    path quoted as ``java.net.URI`` quotes it, compared in UTF-16 code
    units."""
    quoted = "".join(
        # past U+009F, str.isspace is Java's isSpaceChar (Zs, Zl, Zp)
        c if c in _URI_PATH_CHARS or (c > "\x9f" and not c.isspace())
        else "".join(f"%{b:02X}" for b in c.encode("utf-8", "surrogatepass"))
        for c in path
    )
    return quoted.encode("utf-16-be", "surrogatepass")


class DirLister:
    """The one FileSystem client of the ``hh`` read verbs and of
    :func:`list_status_df`: the glob, status, content summary and
    listing of one operand, as rows in :data:`FILE_STATUS_SCHEMA` order.

    Whether the operand is local is decided per lister from its scheme
    and, for a scheme-less path, the session's ``fs.defaultFS``, read
    afresh each time. On the local FileSystem the lister never touches
    Hadoop's ``FileSystem``: it reads ``os.scandir`` and ``os.stat``
    and renders them as Hadoop's local ``FileStatus`` does (that
    ``FileStatus`` forks an ``ls -ld`` per entry for owner, group and
    permission when no native Hadoop library is loaded), and it globs
    as Hadoop's ``Globber`` does. Every other scheme, and every operand
    when ``hadoop`` is set, resolves its ``FileSystem`` once and reads
    its rows lazily from Java ``FileStatus`` objects (:class:`_JavaRow`).
    An entry is named by a *ref*: its local path on the local
    FileSystem, its Java ``Path`` elsewhere (:meth:`ref`).
    """

    def __init__(self, spark: SparkSession, path: str, hadoop: bool = False):
        self.spark = spark
        self.path = None if hadoop else self._local_path(path)
        self.local = self.path is not None
        if not self.local:
            self.fs, self.jpath, self.jvm = _hadoop_fs(spark, path)
        self._names: dict = {}

    @functools.cached_property
    def _conf(self):
        return self.spark._jsc.hadoopConfiguration()

    def _local_path(self, path: str) -> str | None:
        """The local path ``path`` names, as Hadoop's ``Path`` normalizes
        it, or None when Hadoop must resolve it: another scheme, a
        ``file:`` URI with an authority or a relative path, a ``.`` or
        ``..`` component, or a scheme-less path while ``fs.defaultFS``
        is not ``file:``."""
        if path.startswith("file:"):
            path = path[5:]
            if path.startswith("///"):
                path = path[2:]
        else:
            colon, slash = path.find(":"), path.find("/")
            if colon != -1 and (slash == -1 or colon < slash):
                return None
            if not self._conf.get("fs.defaultFS").startswith("file:"):
                return None
        if not path.startswith("/") or path.startswith("//"):
            return None
        parts = [c for c in path.split("/") if c]
        if "." in parts or ".." in parts:
            return None
        return "/" + "/".join(parts)

    @functools.cached_property
    def block_size(self) -> int:
        """The local FileSystem's block size (``fs.local.block.size``):
        one gateway call per lister, and none for a lister that reads
        only brief rows."""
        return int(self._conf.getLong("fs.local.block.size", 33554432))

    def root(self):
        """The ref of the path the lister was made for."""
        return self.path if self.local else self.jpath

    def ref(self, row):
        """The ref of the entry ``row`` describes."""
        return row[0] if self.local else row.jpath

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

    def _local_row(self, path: str, name: str, s, brief: bool = False) -> tuple:
        """The row of one local entry; a ``brief`` row holds only
        ``path, name, is_dir, size``, which need no lookup of owner,
        group or block size."""
        mode = s.st_mode
        if brief:
            return path, name, stat.S_ISDIR(mode), s.st_size
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

    def status(self, ref, brief: bool = False):
        """The row of entry ``ref`` (``getFileStatus``), or None when
        it does not exist; ``brief`` as for :meth:`children`."""
        if self.local:
            s = _local_stat(ref)
            if s is None:
                return None
            return self._local_row(ref, ref.rsplit("/", 1)[-1], s, brief)
        from py4j.protocol import Py4JJavaError

        try:
            return _JavaRow(self.fs.getFileStatus(ref))
        except Py4JJavaError as err:
            if not _not_found(err):
                raise
            return None

    def summary(self, ref) -> tuple[int, int, int]:
        """``(length, files, directories)`` below entry ``ref``, as
        ``getContentSummary`` counts them: a directory counts itself, a
        file is one file of its own length. Raises FileNotFoundError
        when ``ref`` does not exist."""
        if not self.local:
            from py4j.protocol import Py4JJavaError

            try:
                cs = self.fs.getContentSummary(ref)
            except Py4JJavaError as err:
                if not _not_found(err):
                    raise
                raise FileNotFoundError(str(ref)) from None
            return cs.getLength(), cs.getFileCount(), cs.getDirectoryCount()
        s = _local_stat(ref)
        if s is None:
            raise FileNotFoundError(ref)
        if not stat.S_ISDIR(s.st_mode):
            return s.st_size, 1, 0
        length, files, dirs, todo = 0, 0, 1, [ref]
        while todo:
            for path, _name, s in _stat_entries(os.scandir(todo.pop())):
                if stat.S_ISDIR(s.st_mode):
                    dirs += 1
                    todo.append(path)
                else:
                    length += s.st_size
                    files += 1
        return length, files, dirs

    def glob(self) -> list:
        """The rows of the entries the lister's path matches as an HDFS
        glob (``FileSystem.globStatus``), in its order: sorted by path.
        An empty list when nothing matches."""
        if not self.local:
            matches = self.fs.globStatus(self.jpath)
            return [] if matches is None else [_JavaRow(st) for st in matches]
        rows = []
        for pattern in _expand_slash_braces(self.path):
            rows += self._local_glob(pattern)
        return sorted(rows, key=lambda r: _uri_order(r[0]))

    def _local_glob(self, pattern: str) -> list:
        """The rows one brace-expanded pattern matches, component by
        component as Hadoop's ``Globber`` matches them: a component
        with no wildcard is taken on trust until the last one, which
        is looked up (so it may name a ``.crc`` sidecar); a wildcard
        component filters the listing of each candidate directory,
        which hides sidecars and broken symlinks and follows symlinked
        directories."""
        comps = [c for c in pattern.split("/") if c]
        found = [("/", "", None)]
        for k, comp in enumerate(comps):
            rx, last = _glob_component(comp), k == len(comps) - 1
            if rx is None:
                name = re.sub(r"\\(.)", r"\1", comp)
                found = [(_join(d, name), name, None) for d, _, _ in found]
                continue
            matched = []
            for d, _, _ in found:
                try:
                    entries = _stat_entries(os.scandir(d))
                except (FileNotFoundError, NotADirectoryError):
                    continue
                matched += [
                    (path, name, s) for path, name, s in entries
                    if (last or stat.S_ISDIR(s.st_mode)) and rx.fullmatch(name)
                ]
            found = matched
        rows = []
        for path, name, s in found:
            s = s or _local_stat(path)
            if s is not None:
                rows.append(self._local_row(path, name, s))
        return rows

    def children(self, ref, brief: bool = False):
        """The row of each entry of directory ``ref``. On the local
        FileSystem a ``brief`` row holds only ``path, name, is_dir,
        size``: all a walk that keeps paths or sizes reads. Elsewhere
        every row is lazy, so such a walk pays for those fields
        only."""
        if not self.local:
            for st in _hadoop_children(self.fs, ref):
                yield _JavaRow(st)
            return
        try:
            entries = _stat_entries(os.scandir(ref))
        except NotADirectoryError:
            # as in Hadoop, the listing of a file is the file itself
            entries = [(ref, ref.rsplit("/", 1)[-1], os.stat(ref))]
        for path, name, s in entries:
            yield self._local_row(path, name, s, brief)

    def walk(self, ref, recursive: bool):
        """Rows of the entries of directory ``ref`` and, if
        ``recursive``, of every directory below it (depth first)."""
        stack = [ref]
        while stack:
            for row in self.children(stack.pop()):
                if recursive and row[2]:
                    stack.append(self.ref(row))
                yield row


def _join(parent: str, name: str) -> str:
    return parent.rstrip("/") + "/" + name


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
        tuple(row) for row in lister.walk(lister.root(), recursive)
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
        for row in lister.children(d, brief=True):
            seen += 1
            if budget is not None and seen > budget:
                todo.appendleft(d)
                return paths, list(todo)
            if row[2]:
                subdirs.append(lister.ref(row))
            if keep(row[1], row[2]):
                found.append(row[0])
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

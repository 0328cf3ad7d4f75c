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

Scale: one walk, :meth:`DirLister.walk`, serves ``ls -R``, ``find`` and
:func:`list_status_df` on every scheme. It runs on the driver and keeps
only the entries it has listed but not yet yielded, in a heap keyed by
path: every entry below a directory D sorts after D (its path starts
with ``D + "/"``), so always popping the smallest pending path yields
the tree in sorted order, with no final sort and no copy of the
namespace in driver memory.
"""

from __future__ import annotations

import functools
import grp
import heapq
import os
import pwd
import re
import stat
import string

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

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
    fields (``stat %b``, ``cat``) pays for two, not all ten. The row of
    an entry listed from directory path ``parent`` takes its path from
    ``parent`` and its name, as ``Path(parent, name)`` builds it, with
    no call of its own."""

    #: how the row reads each field of the schema, in order
    FIELDS = (
        lambda r: (
            r.jpath.toUri().getPath() if r.parent is None
            else _join(r.parent, r[1])
        ),
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

    def __init__(self, st, parent: str | None = None):
        self.st = st
        self.parent = parent
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
        #: the most entries a :meth:`walk` of this lister held pending
        self.peak = 0

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

    def children(self, ref, brief: bool = False, parent: str | None = None):
        """The row of each entry of directory ``ref``. On the local
        FileSystem a ``brief`` row holds only ``path, name, is_dir,
        size``: all a walk that keeps paths or sizes reads. Elsewhere
        every row is lazy, so such a walk pays for those fields only,
        and ``parent``, the path of ``ref``, gives each row its path
        (:class:`_JavaRow`)."""
        if not self.local:
            for st in _hadoop_children(self.fs, ref):
                yield _JavaRow(st, parent)
            return
        for path, name, s in _stat_entries(os.scandir(ref)):
            yield self._local_row(path, name, s, brief)

    def walk(self, top, recursive: bool = True, keep=None, brief: bool = False):
        """Rows of the entries of the directory whose row is ``top`` and,
        if ``recursive``, of every directory below it, sorted by path;
        as in Hadoop, the listing of a file is the file itself.
        ``keep(name, is_dir)``, if given, selects the rows yielded;
        ``brief`` as for :meth:`children`.

        The walk keeps only the entries it has listed and not yet
        yielded: kept entries and, if ``recursive``, directories, in a
        heap keyed by path. Each pop is the smallest pending path, and
        a directory is listed when it is popped; its entries start
        with its path and a ``/``, so they sort after it, and the pops
        come out in ``sorted()`` order. Paths are unique within a walk,
        so the heap never compares two rows. :attr:`peak` records the
        most entries the walk held."""
        if not top[2]:
            if keep is None or keep(top[1], False):
                yield top
            return
        heap = []

        def expand(d):
            for row in self.children(self.ref(d), brief, d[0]):
                kept = keep is None or keep(row[1], row[2])
                if kept or (recursive and row[2]):
                    heapq.heappush(heap, (row[0], row, kept))
            self.peak = max(self.peak, len(heap))

        expand(top)
        while heap:
            _, row, kept = heapq.heappop(heap)
            if kept:
                yield row
            if recursive and row[2]:
                expand(row)


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
    *name*, mirroring ``hh ls GLOB`` component matching. Rows come in
    path order (:meth:`DirLister.walk`); raises FileNotFoundError when
    ``path`` does not exist.
    """
    lister = DirLister(spark, path)
    top = lister.status(lister.root())
    if top is None:
        raise FileNotFoundError(path)
    keep = FindFilter(glob, None) if glob else None
    rows = [tuple(row) for row in lister.walk(top, recursive, keep)]
    from ..io import local_rows_df

    return local_rows_df(spark, rows, FILE_STATUS_SCHEMA)


# perfbench/run.py hooks this name on every traced pass, so it stays
# resolvable until the benchmark drops the hook
list_files_distributed = list_status_df


class FindFilter:
    """The ``hh find`` test on one entry: ``-name`` (an HDFS glob over
    the entry's name, :func:`glob_to_regex`) and ``-type f|d``, given
    to :meth:`DirLister.walk` as its ``keep`` test, which decides what
    the walk holds: an entry that fails it is never pushed unless it
    is a directory to descend into."""

    def __init__(self, name_glob: str | None, type_flag: str | None):
        self.rx = None
        if name_glob is not None:
            self.rx = re.compile(glob_to_regex(name_glob))
        self.want_dir = {"f": False, "d": True}.get(type_flag)

    def __call__(self, name, is_dir):
        return (self.want_dir is None or is_dir == self.want_dir) and (
            self.rx is None or self.rx.match(name) is not None
        )


def human_size(n: int) -> str:
    """`hh ls` human-readable sizes (binary units, one decimal)."""
    size = float(n)
    for unit in ("B", "K", "M", "G", "T", "P"):
        if size < 1024 or unit == "P":
            return f"{size:.1f}{unit}" if unit != "B" else f"{int(size)}B"
        size /= 1024
    return f"{size:.1f}P"

"""Namespace mutation + predicates (SURVEY.md §2.A: ``hh mkdir / mv /
rm / chmod / chown / test / get / put``).

These are metadata side-effects, not relational queries, so they ship
as library functions (exercised in tests/test_fsops.py) rather than
driver-graded query keys. They go through the Hadoop ``FileSystem``
JVM API, so the identical calls run against ``hdfs://`` on a cluster —
Spark's Hadoop client supplies config loading, NameNode HA failover,
and auth, which the reference implemented by hand (its
``Data.Hadoop.Configuration`` / ``Network.Hadoop.Rpc`` layer).

The exceptions are :func:`mkdirs`, :func:`copy_from_local`,
:func:`rename` and :func:`delete` on the local FileSystem, decided per
operand by :class:`~.listing.DirLister`'s rule (the operand's scheme,
or ``fs.defaultFS`` for a scheme-less path). There they act with
``os`` calls and leave what Hadoop's local ``FileSystem`` leaves: the
same bytes, the same ``.NAME.crc`` checksum sidecars, the same modes
(``0777`` / ``0666`` less ``fs.permissions.umask-mode``) and the same
results, with no Py4J call per path and none of the ``chmod`` forks
Hadoop makes for each entry it creates when no native Hadoop library
is loaded. On both paths they raise the same ``OSError`` subclass for
a missing path (``FileNotFoundError``), a file where a directory is
needed (``NotADirectoryError`` / ``FileExistsError``), an existing file
a rename would replace (``FileExistsError``) or a non-empty directory
removed without ``recursive`` (``errno.ENOTEMPTY``).

Data movement (``hh get`` / ``hh put``) is deliberately *DataFrame*
read/write — ``spark.read.parquet(hdfs_path)`` /
``df.write.parquet(hdfs_path)`` — per the north-star approach; the
helpers here only cover small file-level copies.
"""

from __future__ import annotations

import contextlib
import errno
import os
import re
import shutil
import struct
import zlib

from pyspark.sql import SparkSession

from .listing import DirLister, _hadoop_fs

#: the Java exception classes Hadoop's ``FileSystem`` raises for the
#: errors :func:`_os_errors` re-raises as ``OSError``
_JAVA_ERRNO = {
    "java.io.FileNotFoundException": errno.ENOENT,
    "org.apache.hadoop.fs.ParentNotDirectoryException": errno.ENOTDIR,
    "org.apache.hadoop.fs.FileAlreadyExistsException": errno.EEXIST,
    "org.apache.hadoop.fs.PathIsNotEmptyDirectoryException": errno.ENOTEMPTY,
}


def _os_error(code: int, path: str) -> OSError:
    """The ``OSError`` subclass of ``code`` (``FileNotFoundError`` for
    ENOENT, ...) about ``path``."""
    return OSError(code, os.strerror(code), path)


@contextlib.contextmanager
def _os_errors(path: str, missing: str | None = None, bare: int | None = None):
    """Re-raise a Hadoop ``FileSystem`` error of :data:`_JAVA_ERRNO` as
    the ``OSError`` the local path raises, about ``path`` (about
    ``missing``, if given, when the error is a missing path). ``bare``
    is the errno of a plain ``java.io.IOException``, which the local
    ``FileSystem`` throws for a non-empty directory."""
    from py4j.protocol import Py4JJavaError

    try:
        yield
    except Py4JJavaError as err:
        name = err.java_exception.getClass().getName()
        code = _JAVA_ERRNO.get(name)
        if name == "java.io.IOException":
            code = bare
        if code is None:
            raise
        if missing and code == errno.ENOENT:
            path = missing
        raise _os_error(code, path) from None


def _umask(lister: DirLister) -> int:
    """The umask Hadoop applies to what it creates
    (``FsPermission.getUMask``): ``fs.permissions.umask-mode``, octal
    (``022`` when unset); Hadoop itself parses a symbolic one."""
    value = lister.conf.get("fs.permissions.umask-mode")
    if value is None:
        return 0o022
    octal = re.fullmatch(r"\s*\+?0*([0-7]{3})\s*", value)
    if octal:
        return int(octal.group(1), 8)
    perm = lister.spark._jvm.org.apache.hadoop.fs.permission.FsPermission
    return int(perm.getUMask(lister.conf).toShort())


def _sidecar(path: str) -> str:
    """The checksum file ``ChecksumFileSystem`` keeps beside ``path``."""
    parent, name = os.path.split(path)
    return os.path.join(parent, f".{name}.crc")


def _local_mkdirs(path: str, mode: int) -> bool:
    """``RawLocalFileSystem.mkdirs``: create ``path`` and its missing
    parents, each new directory with mode ``mode``; True when ``path``
    is then a directory. Raises NotADirectoryError when its parent is
    not a directory and FileExistsError when ``path`` is not one."""
    parent = os.path.dirname(path)
    if os.path.exists(parent) and not os.path.isdir(parent):
        raise _os_error(errno.ENOTDIR, parent)
    if os.path.exists(path) and not os.path.isdir(path):
        raise _os_error(errno.EEXIST, path)
    if parent != path and not os.path.exists(parent):
        if not _local_mkdirs(parent, mode):
            return False
    try:
        os.mkdir(path)
    except OSError:
        return os.path.isdir(path)
    os.chmod(path, mode)
    return True


def mkdirs(spark: SparkSession, path: str) -> bool:
    """`hh mkdir -p`: create path and missing parents."""
    lister = DirLister(spark, path)
    if lister.local:
        return _local_mkdirs(lister.path, 0o777 & ~_umask(lister))
    with _os_errors(path):
        return bool(lister.fs.mkdirs(lister.jpath))


def _local_delete(path: str, recursive: bool) -> bool:
    """``ChecksumFileSystem.delete`` over ``RawLocalFileSystem``: False
    when ``path`` does not resolve (missing, or a broken symlink); a
    file goes with its sidecar; a symlinked directory loses the link,
    not its target."""
    if not os.path.exists(path):
        return False
    if not os.path.isdir(path):
        _local_delete(_sidecar(path), True)
        os.unlink(path)
    elif not recursive and os.listdir(path):
        raise _os_error(errno.ENOTEMPTY, path)
    elif os.path.islink(path):
        os.unlink(path)
    else:
        shutil.rmtree(path)
    return True


def delete(spark: SparkSession, path: str, recursive: bool = False) -> bool:
    """`hh rm [-r]`: False when ``path`` does not resolve (missing, or
    a broken symlink). A path the ``FileSystem`` fails to delete is an
    ``EIO`` error, as ``hadoop fs -rm`` reports it."""
    lister = DirLister(spark, path)
    if lister.local:
        return _local_delete(lister.path, recursive)
    with _os_errors(path, bare=None if recursive else errno.ENOTEMPTY):
        if lister.fs.delete(lister.jpath, recursive):
            return True
        if lister.fs.exists(lister.jpath):
            raise _os_error(errno.EIO, path)
        return False


def _local_rename(src: str, dst: str) -> bool | None:
    """``rename`` as the session's local ``FileSystem`` does it (Hive's
    ``ProxyLocalFileSystem`` over ``ChecksumFileSystem``): False onto
    an existing file; a file moved onto a directory lands inside it and
    takes its sidecar along, or drops a stale one at the target. None
    when ``os.rename`` refuses (a non-empty directory in the way, a
    missing parent, another device), where Hadoop falls back to a
    copy."""
    if not os.path.lexists(src):
        raise _os_error(errno.ENOENT, src)
    if os.path.isfile(dst):
        return False
    is_dir = os.path.isdir(src)
    if not is_dir and os.path.isdir(dst):
        dst = os.path.join(dst, os.path.basename(src))
    try:
        os.rename(src, dst)
    except OSError:
        return None
    if is_dir:
        return True
    if os.path.exists(_sidecar(src)):
        os.rename(_sidecar(src), _sidecar(dst))
    else:
        _local_delete(_sidecar(dst), True)
    return True


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """`hh mv` (namespace rename — atomic on HDFS). A rename refused
    because ``dst`` is an existing file raises ``FileExistsError``, as
    ``hadoop fs -mv`` reports it; any other refusal returns False."""
    lister = DirLister(spark, src)
    target = lister._local_path(dst) if lister.local else None
    if target is not None:
        done = _local_rename(lister.path, target)
        if done is not None:
            if not done:
                raise _os_error(errno.EEXIST, dst)
            return True
    if lister.local:
        lister = DirLister(spark, src, hadoop=True)
    with _os_errors(dst, missing=src):
        jdst = lister.jvm.org.apache.hadoop.fs.Path(dst)
        if lister.fs.rename(lister.jpath, jdst):
            return True
        if lister.fs.isFile(jdst):
            raise _os_error(errno.EEXIST, dst)
        return False


def set_permission(spark: SparkSession, path: str, octal: str) -> None:
    """`hh chmod OCTAL PATH`."""
    fs, jpath, jvm = _hadoop_fs(spark, path)
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission(
        int(octal, 8)
    )
    fs.setPermission(jpath, perm)


def set_owner(spark: SparkSession, path: str, owner: str | None, group: str | None) -> None:
    """`hh chown / chgrp` (requires superuser on real HDFS)."""
    fs, jpath, _ = _hadoop_fs(spark, path)
    fs.setOwner(jpath, owner, group)


def exists(spark: SparkSession, path: str) -> bool:
    """`hh test -e`."""
    fs, jpath, _ = _hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def is_dir(spark: SparkSession, path: str) -> bool:
    """`hh test -d`."""
    fs, jpath, _ = _hadoop_fs(spark, path)
    return fs.exists(jpath) and fs.getFileStatus(jpath).isDirectory()


def is_file(spark: SparkSession, path: str) -> bool:
    """`hh test -f`."""
    fs, jpath, _ = _hadoop_fs(spark, path)
    return fs.exists(jpath) and fs.getFileStatus(jpath).isFile()


def copy_to_local(spark: SparkSession, src: str, dst: str) -> None:
    """`hh get SRC DST` for single files (bulk data goes via
    DataFrame read/write)."""
    fs, jsrc, jvm = _hadoop_fs(spark, src)
    fs.copyToLocalFile(jsrc, jvm.org.apache.hadoop.fs.Path(dst))


def _local_put(src: str, dst: str, umask: int, per_chunk: int) -> None:
    """``copyFromLocalFile(src, dst)`` onto the local ``FileSystem``:
    the bytes of file ``src`` into ``dst`` (into ``dst/NAME`` when
    ``dst`` is a directory; missing parents created, an existing file
    overwritten) and its sidecar: ``b"crc\\0"``, ``per_chunk`` as a
    big-endian int32, then the big-endian CRC-32 of each ``per_chunk``
    bytes of data."""
    with open(src, "rb") as data:
        if os.path.isdir(dst):
            dst = os.path.join(dst, os.path.basename(src))
        _local_mkdirs(os.path.dirname(dst), 0o777 & ~umask)
        with open(dst, "wb") as out, open(_sidecar(dst), "wb") as sums:
            sums.write(b"crc\0" + struct.pack(">i", per_chunk))
            while block := data.read(per_chunk * 128):
                out.write(block)
                crcs = [zlib.crc32(block[i:i + per_chunk])
                        for i in range(0, len(block), per_chunk)]
                sums.write(struct.pack(f">{len(crcs)}I", *crcs))
    for path in (dst, _sidecar(dst)):
        os.chmod(path, 0o666 & ~umask)


def copy_from_local(spark: SparkSession, src: str, dst: str) -> None:
    """`hh put SRC DST` for single files. A SRC that is not a plain
    local file (a directory, a URI), or one with a sidecar of its own,
    which Hadoop verifies as it reads, stays on Hadoop's
    ``copyFromLocalFile``."""
    lister = DirLister(spark, dst)
    if lister.local and os.path.isfile(src) and not os.path.exists(_sidecar(src)):
        per_chunk = lister.conf.getInt("file.bytes-per-checksum", 512)
        return _local_put(src, lister.path, _umask(lister), per_chunk)
    if lister.local:
        lister = DirLister(spark, dst, hadoop=True)
    with _os_errors(dst, missing=src):
        jsrc = lister.jvm.org.apache.hadoop.fs.Path(src)
        lister.fs.copyFromLocalFile(jsrc, lister.jpath)


def fs_copy(
    spark: SparkSession, src: str, dst: str, overwrite: bool = False
) -> bool:
    """`hh cp [-f] SRC DST`: copy within (or across) Hadoop
    filesystems via ``FileUtil.copy`` — the same call `hadoop fs -cp`
    issues, so recursive directory copies, scheme crossing, and
    permission propagation follow Hadoop's own semantics.

    Like `hadoop fs -cp` without ``-f``, an existing destination is an
    error (``FileExistsError``), not a silent clobber: the effective
    target (``dst``, or ``dst/basename(src)`` when ``dst`` is an
    existing directory) is checked before any byte moves, and the
    6-arg ``FileUtil.copy`` overload pins ``overwrite`` explicitly
    rather than inheriting the permissive default."""
    sfs, jsrc, jvm = _hadoop_fs(spark, src)
    dfs, jdst, _ = _hadoop_fs(spark, dst)
    if dfs.exists(jdst):
        if dfs.getFileStatus(jdst).isDirectory():
            target = jvm.org.apache.hadoop.fs.Path(jdst, jsrc.getName())
        else:
            target = jdst
        if not overwrite and dfs.exists(target):
            raise FileExistsError(f"{dst}: File exists")
    conf = spark._jsc.hadoopConfiguration()
    return bool(
        jvm.org.apache.hadoop.fs.FileUtil.copy(
            sfs, jsrc, dfs, jdst, False, overwrite, conf
        )
    )


def getmerge(
    spark: SparkSession, src_dir: str, local_dst: str, newline: bool = False
) -> int:
    """`hh getmerge SRCDIR LOCALDST [-nl]`: concatenate every regular
    file under ``src_dir`` (non-recursive, name order — the
    `hadoop fs -getmerge` contract) into one local file; ``-nl``
    appends a newline after each part. Returns the number of parts
    merged. The read crosses the py4j bridge whole-file per part —
    the CLI parity path for small outputs; a bulk merge is a
    coalesce(1) DataFrame write."""
    fs, jdir, jvm = _hadoop_fs(spark, src_dir)
    if not fs.exists(jdir):
        raise FileNotFoundError(src_dir)
    parts = []
    if fs.getFileStatus(jdir).isDirectory():
        for st in fs.listStatus(jdir):
            if st.isFile():
                parts.append(st.getPath())
        parts.sort(key=lambda p: p.getName())
    else:
        parts.append(jdir)
    ioutils = jvm.org.apache.hadoop.io.IOUtils
    with open(local_dst, "wb") as out:
        for p in parts:
            stream = fs.open(p)
            try:
                data = bytes(ioutils.readFullyToByteArray(stream))
                if len(data) != fs.getFileStatus(p).getLen():
                    raise IOError(
                        f"short read merging {p}: {len(data)} bytes"
                    )
                out.write(data)
                if newline:
                    out.write(b"\n")
            finally:
                stream.close()
    return len(parts)


def fs_df(spark: SparkSession, path: str = "/") -> dict:
    """`hh df PATH`: filesystem capacity report via
    ``FileSystem.getStatus`` — the same numbers `hadoop fs -df`
    prints (capacity / used / remaining, bytes). On HDFS this is one
    NameNode RPC; on a local fs it reflects the backing volume."""
    fs, jpath, _ = _hadoop_fs(spark, path)
    st = fs.getStatus(jpath)
    cap = int(st.getCapacity())
    used = int(st.getUsed())
    rem = int(st.getRemaining())
    return {
        "filesystem": fs.getUri().toString(),
        "capacity": cap,
        "used": used,
        "remaining": rem,
        "pct_used": (round(100.0 * used / cap, 2) if cap else 0.0),
    }

"""Namespace mutation ops (`hh mkdir/mv/rm/test/chmod/get/put`)
against the local scheme — same FileSystem API calls a cluster would
send to the NameNode."""

from __future__ import annotations

import os

import pytest

from hadoop_tools_spark.sources import fsops
from hadoop_tools_spark.sources.listing import list_status_df


def test_mkdir_exists_rename_delete(spark, tmp_path):
    base = str(tmp_path / "ns")
    assert fsops.mkdirs(spark, f"{base}/a/b/c")
    assert fsops.exists(spark, f"{base}/a/b/c")
    assert fsops.is_dir(spark, f"{base}/a/b/c")
    assert not fsops.is_file(spark, f"{base}/a/b/c")

    assert fsops.rename(spark, f"{base}/a/b/c", f"{base}/a/b/d")
    assert not fsops.exists(spark, f"{base}/a/b/c")
    assert fsops.exists(spark, f"{base}/a/b/d")

    assert fsops.delete(spark, f"{base}/a", recursive=True)
    assert not fsops.exists(spark, f"{base}/a")


def test_chmod_and_file_predicates(spark, tmp_path):
    f = tmp_path / "x.txt"
    f.write_text("hello")
    assert fsops.is_file(spark, str(f))
    fsops.set_permission(spark, str(f), "600")
    st = list_status_df(spark, str(tmp_path)).collect()
    row = next(r for r in st if r.name == "x.txt")
    assert row.perm == "rw-------"
    assert row.size == 5


def test_get_put_roundtrip(spark, tmp_path):
    src = tmp_path / "src.txt"
    src.write_text("payload")
    fsops.copy_from_local(spark, str(src), str(tmp_path / "up.txt"))
    fsops.copy_to_local(spark, str(tmp_path / "up.txt"), str(tmp_path / "down.txt"))
    assert (tmp_path / "down.txt").read_text() == "payload"


def test_listing_matches_os_walk(spark):
    df = list_status_df(spark, "/root/testdata", recursive=True)
    got = {(r.path, r.size) for r in df.collect() if not r.is_dir}
    expect = set()
    for root, _, files in os.walk("/root/testdata"):
        for f in files:
            p = os.path.join(root, f)
            expect.add((p, os.path.getsize(p)))
    assert got == expect
    assert len(got) == 30


def test_empty_local_rows_df_has_one_partition(spark):
    """An empty row list is one empty slice, not defaultParallelism of
    them."""
    from hadoop_tools_spark.io import local_rows_df

    df = local_rows_df(spark, [], "path string")
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 0


def test_testdata_tree_has_no_filefree_dirs():
    """fs_count's DuckDB oracle cannot see directories containing no
    files anywhere below them (read_blob enumerates files only). The
    Spark listing DOES count them, so the hash-match silently depends
    on the fixture tree having none — assert that here so growth of
    an empty dir under /root/testdata fails loudly, not as a driver
    hash mismatch."""
    import os

    for root, dirs, files in os.walk("/root/testdata"):
        has_any = any(
            fs for _, _, fs in os.walk(root)
        )
        assert has_any, f"file-free subtree at {root} breaks fs_count oracle"


def test_fs_checksum_key_matches_hashlib(spark):
    """Every digest the distributed checksum key reports must equal an
    independent hashlib recomputation (md5 over the UPPERCASE hex of
    the bytes — the engine's container-family convention, adopted in
    r9 so the key could gain a full DuckDB oracle; DuckDB md5 is still
    VARCHAR-only, so raw-byte digests stay un-oracle-able). The key
    reads its oracle's directory whatever sf_dir it is given."""
    import glob
    import hashlib

    from hadoop_tools_spark.operators.fs import (
        ORACLE_SF_DIR, TESTDATA_ROOT, fs_checksum,
    )

    got = {
        r.file: (r.hex_md5, r.size)
        for r in fs_checksum(spark, f"{TESTDATA_ROOT}/sf0.001").collect()
    }
    files = glob.glob(f"{ORACLE_SF_DIR}/*.parquet")
    assert len(got) == len(files) > 0
    for p in files:
        raw = open(p, "rb").read()
        name = p.rsplit("/", 1)[-1]
        want = hashlib.md5(raw.hex().upper().encode()).hexdigest()
        assert got[name] == (want, len(raw)), name


@pytest.mark.slow
def test_find_namespace_scale(spark, tmp_path):
    """Namespace-scale rehearsal, pytest edition: ``hh find`` on a
    generated 10^5-entry tree through the same assertions the 10^6 tool
    run makes — every match printed, no Spark job, and a walk that
    holds its pending entries, not the tree. The full-size run is
    tools/rehearse_listing.py (SCALE.md records its numbers)."""
    from tools.rehearse_listing import make_namespace_tree, rehearse_find

    root = str(tmp_path / "ns")
    expected = make_namespace_tree(root, 100_000)
    out = rehearse_find(spark, root, expected)
    assert out["find_matches"] == 99_000
    assert out["find_spark_jobs"] == 0
    # the root's 10 directories, one of their 100 and one leaf's 99
    # files are the most the walk can hold
    assert out["find_heap_peak"] <= 10 + 100 + 99, out


def test_snapshot_diff_added_deleted_branches(spark, tmp_path):
    """The fixture snapshots (sf0.001 vs sf0.01) only produce MODIFIED
    rows — pin ADDED/DELETED/UNCHANGED on a mutable tmp pair."""
    from hadoop_tools_spark.operators.fs import snapshot_diff_df

    before, after = tmp_path / "s0", tmp_path / "s1"
    before.mkdir(), after.mkdir()
    (before / "kept.txt").write_text("same")
    (after / "kept.txt").write_text("same")
    (before / "grown.txt").write_text("a")
    (after / "grown.txt").write_text("abc")
    (before / "gone.txt").write_text("x")
    (after / "new.txt").write_text("y")

    rows = {
        r.name: (r.change, r.size_before, r.size_after)
        for r in snapshot_diff_df(spark, str(before), str(after)).collect()
    }
    assert rows == {
        "kept.txt": ("UNCHANGED", 4, 4),
        "grown.txt": ("MODIFIED", 1, 3),
        "gone.txt": ("DELETED", 1, None),
        "new.txt": ("ADDED", None, 1),
    }

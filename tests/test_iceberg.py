"""Iceberg v2 read interop (VERDICT r10 #1): generic Avro codec
roundtrip, metadata-tree shape, manifest-list pruning, sequence-number
inheritance, and both delete flavors' sequence rules."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def ice_table(spark, sf_dir, tmp_path_factory):
    from hadoop_tools_spark.sources.iceberg import build_iceberg_fixture

    path = str(tmp_path_factory.mktemp("ice") / "orders_table")
    return build_iceberg_fixture(spark, sf_dir, path)


def test_generic_avro_nested_roundtrip(tmp_path):
    """Records in records, arrays of records, maps, [null, T] unions —
    everything the manifest schemas need — survive an OCF roundtrip."""
    from hadoop_tools_spark.sources.iceberg import (
        read_ocf_generic,
        write_ocf_generic,
    )

    schema = {
        "type": "record", "name": "outer",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "tag", "type": ["null", "string"]},
            {"name": "inner", "type": {
                "type": "record", "name": "inner_r",
                "fields": [
                    {"name": "b", "type": "bytes"},
                    {"name": "flag", "type": "boolean"},
                ],
            }},
            {"name": "xs", "type": {"type": "array", "items": ["null", "int"]}},
            {"name": "m", "type": ["null", {"type": "map", "values": "double"}]},
            # Iceberg's date and timestamp fields: a logicalType on a
            # primitive reads as the underlying type
            {"name": "day",
             "type": ["null", {"type": "int", "logicalType": "date"}]},
            {"name": "ts",
             "type": {"type": "long", "logicalType": "timestamp-micros"}},
        ],
    }
    rows = [
        {"k": 1, "tag": "a", "inner": {"b": b"\x00\xff", "flag": True},
         "xs": [1, None, -3], "m": {"x": 1.5, "y": -0.0},
         "day": 19723, "ts": 1704067200123456},
        {"k": -9223372036854775808, "tag": None,
         "inner": {"b": b"", "flag": False}, "xs": [], "m": None,
         "day": None, "ts": -1},
    ]
    p = str(tmp_path / "t.avro")
    n = write_ocf_generic(p, schema, rows)
    assert n == os.path.getsize(p)
    with open(p, "rb") as fh:
        got_schema, got = read_ocf_generic(fh.read())
    assert got_schema == schema
    assert got == rows


def test_avro_block_size_form_and_sync_check():
    """A hand-built container whose array and map blocks take the
    spec's block-size form (a negative item count, then the block's
    byte size) decodes; a corrupted sync marker is refused."""
    from hadoop_tools_spark.sources.iceberg import read_ocf_generic

    def varint(n):  # zigzag varint
        n = (n << 1) ^ (n >> 63)
        out = bytearray()
        while n > 0x7F:
            out.append(n & 0x7F | 0x80)
            n >>= 7
        return bytes(out + bytes([n]))

    def text(s):
        b = s.encode()
        return varint(len(b)) + b

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "xs", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "int"}},
    ]}
    items = varint(5) + varint(-300)
    pairs = text("a") + varint(1) + text("bc") + varint(-2)
    body = (varint(-2) + varint(len(items)) + items + varint(1) + varint(7)
            + varint(0)
            + varint(-2) + varint(len(pairs)) + pairs + varint(0))
    sync = bytes(range(100, 116))
    data = (b"Obj\x01" + varint(2)
            + text("avro.codec") + text("null")
            + text("avro.schema") + text(json.dumps(schema)) + varint(0)
            + sync + varint(1) + varint(len(body)) + body + sync)
    got_schema, rows = read_ocf_generic(data)
    assert got_schema == schema
    assert rows == [{"xs": [5, -300, 7], "m": {"a": 1, "bc": -2}}]
    with pytest.raises(ValueError, match="sync marker"):
        read_ocf_generic(data[:-1] + b"\x00")


def test_metadata_tree_is_spec_shaped(ice_table):
    """HadoopCatalog layout: version-hint → vN.metadata.json, snap-*
    manifest lists, *-m* manifests; manifest Avro schemas carry the
    spec's field-ids."""
    from hadoop_tools_spark.sources.iceberg import read_ocf_generic

    md_dir = os.path.join(ice_table, "metadata")
    with open(os.path.join(md_dir, "version-hint.text")) as fh:
        v = int(fh.read())
    assert v == 3  # three snapshots → three metadata versions
    with open(os.path.join(md_dir, f"v{v}.metadata.json")) as fh:
        md = json.load(fh)
    assert md["format-version"] == 2
    assert len(md["snapshots"]) == 3
    assert [s["sequence-number"] for s in md["snapshots"]] == [1, 2, 3]
    ml = md["snapshots"][-1]["manifest-list"]
    assert ml.startswith("file://")
    with open(ml.replace("file://", ""), "rb") as fh:
        schema, rows = read_ocf_generic(fh.read())
    ids = {f["name"]: f.get("field-id") for f in schema["fields"]}
    assert ids["manifest_path"] == 500 and ids["content"] == 517
    # snapshot 3's list: 2 + 2 + 1 data manifests, 1 pos + 1 eq deletes
    assert len(rows) == 7
    assert sum(1 for r in rows if r["content"] == 1) == 2  # delete manifests


def test_manifest_list_pruning(ice_table):
    """A partition filter must prune bucket-0 manifests from their
    manifest-LIST field summaries alone — without opening them."""
    from hadoop_tools_spark.sources.iceberg import IcebergReader

    rd = IcebergReader(ice_table)
    sid = rd.metadata["snapshots"][1]["snapshot-id"]  # A+B, 4 manifests
    plan = rd.plan(snapshot_id=sid, part_filter={"part_bucket": 1})
    st = rd.last_plan_stats
    assert st["manifests_total"] == 4
    assert st["manifests_pruned"] == 2  # both bucket-0 manifests
    assert st["manifests_opened"] == 2
    assert {d["partition"]["part_bucket"] for d in plan["data"]} == {1}
    # unfiltered plan opens everything
    rd.plan(snapshot_id=sid)
    assert rd.last_plan_stats["manifests_opened"] == 4


def test_snapshot_reads_and_delete_sequence_rules(spark, sf_dir, ice_table):
    from hadoop_tools_spark.sources.iceberg import (
        _N_POS_DELETES,
        IcebergReader,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_all = orders.count()
    n_s1 = orders.filter(F.col("o_orderkey") % 3 != 0).count()
    rd = IcebergReader(ice_table)
    snaps = [s["snapshot-id"] for s in rd.metadata["snapshots"]]

    assert rd.read(spark, snapshot_id=snaps[0]).count() == n_s1
    assert rd.read(spark, snapshot_id=snaps[1]).count() == n_all

    s3 = rd.read(spark, snapshot_id=snaps[2])  # also the current default
    # position deletes: the 7 smallest keys of the bucket-0 seq-1 file
    posdel = [
        r["o_orderkey"]
        for r in orders.filter(
            (F.col("o_orderkey") % 3 != 0) & (F.col("o_orderkey") % 2 == 0)
        ).orderBy("o_orderkey").limit(_N_POS_DELETES).collect()
    ]
    assert s3.filter(F.col("o_orderkey").isin(posdel)).count() == sum(
        1 for r in orders.filter(F.col("o_orderkey").isin(posdel))
        .collect() if r["o_orderkey"] % 50 == 0
    )  # only a re-inserted C copy may remain
    # equality delete is STRICTLY older-files-only: every surviving
    # 'P' row comes from the seq-3 C file (o_orderkey % 50 == 0)
    p_rows = s3.filter(F.col("o_orderstatus") == "P")
    assert p_rows.count() == orders.filter(
        (F.col("o_orderstatus") == "P") & (F.col("o_orderkey") % 50 == 0)
    ).count()
    assert p_rows.filter(F.col("o_orderkey") % 50 != 0).count() == 0
    # re-inserted non-deleted C rows appear twice (multiset semantics)
    dup = (
        s3.groupBy("o_orderkey").count().filter("count = 2")
    )
    expect_dup = orders.filter(
        (F.col("o_orderkey") % 50 == 0)
        & (F.col("o_orderstatus") != "P")
        & ~F.col("o_orderkey").isin(posdel)
    ).count()
    assert dup.count() == expect_dup


def test_partition_filtered_read(spark, ice_table):
    """End-to-end read with a partition filter returns only that
    bucket and still applies the bucket's deletes."""
    from hadoop_tools_spark.sources.iceberg import IcebergReader

    rd = IcebergReader(ice_table)
    df = rd.read(spark, part_filter={"part_bucket": 0})
    st = rd.last_plan_stats
    assert st["manifests_pruned"] >= 2  # bucket-1 data manifests skipped
    assert df.filter(F.col("o_orderkey") % 2 != 0).count() == 0
    # the equality delete (unpartitioned spec) still applies in-bucket:
    # surviving 'P' rows are exactly C's bucket-0 'P' rows
    assert df.filter(
        (F.col("o_orderstatus") == "P") & (F.col("o_orderkey") % 50 != 0)
    ).count() == 0


def test_plan_null_filter_and_zero_snapshot_id(spark, ice_table):
    """r11 review fixes: a None partition-filter value prunes via
    contains_null instead of raising TypeError, and snapshot_id=0 is
    looked up (KeyError), not silently coerced to current."""
    from hadoop_tools_spark.sources.iceberg import IcebergReader

    rd = IcebergReader(ice_table)
    plan = rd.plan(part_filter={"part_bucket": None})
    # fixture has no null partitions: every spec-0 manifest pruned,
    # only the unpartitioned eq-delete manifest is opened
    assert plan["data"] == []
    assert rd.last_plan_stats["manifests_pruned"] >= 5
    with pytest.raises(KeyError):
        rd.plan(snapshot_id=0)


def test_read_survives_uri_hostile_table_path(spark, sf_dir, tmp_path):
    """r11 review fix: a table directory containing a space must not
    silently drop every row through the URI-encoded _metadata path
    join — the smallest fixture that reproduces the old miss."""
    from hadoop_tools_spark.sources.iceberg import (
        IcebergReader,
        build_iceberg_fixture,
    )

    path = str(tmp_path / "dir with space" / "orders_table")
    build_iceberg_fixture(spark, sf_dir, path)
    rd = IcebergReader(path)
    first = rd.metadata["snapshots"][0]["snapshot-id"]
    n = rd.read(spark, snapshot_id=first).count()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert n == orders.filter("o_orderkey % 3 <> 0").count()
    assert n > 0


def test_iceberg_write_read_interop(spark, sf_dir, tmp_path):
    """r11 write path: DataFrame-level create/append/delete commits
    produce a tree the standard reader replays — including partition
    pruning on the WRITTEN layout and the strictly-older equality
    rule against a post-delete append."""
    from hadoop_tools_spark.sources.iceberg import (
        IcebergReader,
        IcebergTable,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus",
        (F.col("o_orderkey") % 2).cast("int").alias("part_bucket"),
    )
    k = F.col("o_orderkey")
    path = str(tmp_path / "written_table")
    tbl = IcebergTable.create(
        spark, path, orders.filter(k % 3 != 0), partition_col="part_bucket"
    )
    tbl.append(spark, orders.filter(k % 3 == 0))
    tbl.delete_where_equal(
        spark, spark.createDataFrame([("O",)], "o_orderstatus string")
    )
    reinstated = orders.filter((k % 100 == 0) & (F.col("o_orderstatus") == "O"))
    tbl.append(spark, reinstated)

    rd = IcebergReader(path)
    cur = rd.read(spark)
    n_non_o = orders.filter("o_orderstatus <> 'O'").count()
    assert cur.count() == n_non_o + reinstated.count()
    # every surviving 'O' row postdates the delete
    assert cur.filter(
        (F.col("o_orderstatus") == "O") & (k % 100 != 0)
    ).count() == 0
    # the create/append manifests span both buckets (summary [0,1] —
    # entry-level filter applies), but the reinstated slice is
    # %100==0 → even keys only → its manifest summary is [0,0] and a
    # bucket-1 filter prunes that WHOLE manifest from the list row
    odd = rd.read(spark, part_filter={"part_bucket": 1})
    assert rd.last_plan_stats["manifests_pruned"] == 1
    assert odd.filter(k % 2 == 0).count() == 0
    assert odd.count() == cur.filter(k % 2 == 1).count()


def test_iceberg_write_rejects_unsupported_type(spark, tmp_path):
    from hadoop_tools_spark.sources.iceberg import IcebergTable

    df = spark.createDataFrame([(1, [1, 2])], "k long, xs array<int>")
    with pytest.raises(ValueError, match="unsupported Iceberg column"):
        IcebergTable.create(spark, str(tmp_path / "t"), df)


def test_timestamp_time_travel(spark, ice_table):
    """FOR TIMESTAMP AS OF: resolved from the snapshot-log without
    opening any manifest; between-commit timestamps round DOWN."""
    from hadoop_tools_spark.sources.iceberg import (
        IcebergReader,
        snapshot_as_of,
    )

    rd = IcebergReader(ice_table)
    log = rd.metadata["snapshot-log"]
    ts0, ts1 = log[0]["timestamp-ms"], log[1]["timestamp-ms"]
    assert snapshot_as_of(rd, ts0) == log[0]["snapshot-id"]
    assert snapshot_as_of(rd, (ts0 + ts1) // 2) == log[0]["snapshot-id"]
    assert snapshot_as_of(rd, ts1) == log[1]["snapshot-id"]
    assert snapshot_as_of(rd, 10**15) == log[-1]["snapshot-id"]
    with pytest.raises(ValueError, match="created later"):
        snapshot_as_of(rd, ts0 - 1)


def test_murmur3_spec_vectors():
    """Iceberg spec appendix B published vectors for the 32-bit
    hash of int/long values (ints widen to long before hashing)."""
    from hadoop_tools_spark.sources.iceberg import (
        iceberg_bucket_long,
        murmur3_32_longs,
    )

    assert int(murmur3_32_longs([34])[0]) == 2017239379
    # bucket = (hash & Integer.MAX_VALUE) % N
    assert iceberg_bucket_long(34, 16) == (2017239379 & 0x7FFFFFFF) % 16
    # negative longs hash over their two's-complement LE bytes
    vals = [-1, 0, 1, 2**62, -(2**62)]
    hs = murmur3_32_longs(vals)
    assert len(set(int(h) for h in hs)) == len(vals)  # no collisions here


def test_bucketed_write_filter_exact(spark, sf_dir, tmp_path):
    """A bucket-filtered read returns EXACTLY the rows whose murmur3
    ordinal matches — membership recomputed independently in Python."""
    from hadoop_tools_spark.sources.iceberg import (
        IcebergReader,
        IcebergTable,
        iceberg_bucket_long,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    ).limit(2000)
    path = str(tmp_path / "bucketed")
    IcebergTable.create(spark, path, orders, bucket=("o_orderkey", 8))
    rd = IcebergReader(path)
    spec = rd.metadata["partition-specs"][0]["fields"][0]
    assert spec["transform"] == "bucket[8]"
    assert spec["name"] == "o_orderkey_bucket"
    want_bucket = 3
    got = {
        r["o_orderkey"]
        for r in rd.read(
            spark, part_filter={"o_orderkey_bucket": want_bucket}
        ).collect()
    }
    expect = {
        r["o_orderkey"] for r in orders.collect()
        if iceberg_bucket_long(r["o_orderkey"], 8) == want_bucket
    }
    assert got == expect and got


def test_truncate_transform_long_and_string(spark, sf_dir, tmp_path):
    """truncate[W]: floor-to-multiple for longs (negatives round
    toward -inf), first-W-codepoints for strings; summaries carry
    type-aware single-value bounds and RANGE pruning engages."""
    from hadoop_tools_spark.sources.iceberg import (
        IcebergReader,
        IcebergTable,
    )

    # long: include negatives to pin the floor semantics
    df = spark.createDataFrame(
        [(v, float(v)) for v in (-25, -10, -1, 0, 9, 10, 25, 99)],
        "k long, x double",
    )
    path = str(tmp_path / "trunc_long")
    IcebergTable.create(spark, path, df, truncate=("k", 10))
    rd = IcebergReader(path)
    spec = rd.metadata["partition-specs"][0]["fields"][0]
    assert spec["transform"] == "truncate[10]"
    buckets = {d["partition"]["k_trunc"] for d in rd.plan()["data"]}
    assert buckets == {-30, -10, 0, 10, 20, 90}  # floor(-25/10)·10=-30
    got = {r["k"] for r in rd.read(
        spark, part_filter={"k_trunc": -30}).collect()}
    assert got == {-25}

    # string: prefix partitioning, pruned by lexicographic bounds
    sdf = spark.createDataFrame(
        [("alpha",), ("alpine",), ("beta",), ("bet",), ("gamma",)],
        "s string",
    )
    spath = str(tmp_path / "trunc_str")
    IcebergTable.create(spark, spath, sdf, truncate=("s", 2))
    srd = IcebergReader(spath)
    parts = {d["partition"]["s_trunc"] for d in srd.plan()["data"]}
    assert parts == {"al", "be", "ga"}
    got = {r["s"] for r in srd.read(
        spark, part_filter={"s_trunc": "al"}).collect()}
    assert got == {"alpha", "alpine"}
    # a value outside the [al, ga] summary range prunes the manifest
    srd.plan(part_filter={"s_trunc": "zz"})
    assert srd.last_plan_stats["manifests_pruned"] >= 1


def test_unknown_part_filter_key_raises(ice_table):
    """r12 (ADVICE medium): a typo'd partition-filter key must raise,
    not silently return the unfiltered table."""
    from hadoop_tools_spark.sources.iceberg import IcebergReader

    rd = IcebergReader(ice_table)
    with pytest.raises(KeyError, match="unknown partition filter"):
        rd.plan(part_filter={"part_bucketz": 1})
    with pytest.raises(KeyError, match="unknown partition filter"):
        rd.plan(part_filter={"part_bucket": 1, "nope": 0})
    # the valid key still plans
    assert rd.plan(part_filter={"part_bucket": 1})["data"]


def test_part_filter_on_unpartitioned_table_raises(spark, tmp_path):
    from hadoop_tools_spark.sources.iceberg import (
        IcebergReader,
        IcebergTable,
    )

    df = spark.createDataFrame([(1, 1.0)], "k long, x double")
    path = str(tmp_path / "unpart")
    IcebergTable.create(spark, path, df)
    rd = IcebergReader(path)
    with pytest.raises(KeyError, match="unknown partition filter"):
        rd.plan(part_filter={"k": 1})


def test_bucketed_write_routes_nulls_to_null_partition(spark, tmp_path):
    """r12 (ADVICE): a NULL bucket-source key must not crash the
    distributed write — it lands in the null partition (identity-path
    parity) and survives the roundtrip."""
    from hadoop_tools_spark.sources.iceberg import (
        IcebergReader,
        IcebergTable,
    )

    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (None, 3.0), (None, 4.0)], "k long, x double"
    )
    path = str(tmp_path / "bucketed_nulls")
    IcebergTable.create(spark, path, df, bucket=("k", 4))
    rd = IcebergReader(path)
    got = rd.read(spark)
    assert got.count() == 4
    assert got.filter(F.col("k").isNull()).count() == 2
    # the null partition is recorded as such in the manifests
    plan = rd.plan(part_filter={"k_bucket": None})
    assert sum(d["record_count"] for d in plan["data"]) == 2


def test_empty_string_partition_value_rejected(spark, tmp_path):
    """r12 (ADVICE): hive staging conflates '' with NULL in partition
    dirs — the writer fails closed instead of mis-recording them."""
    from hadoop_tools_spark.sources.iceberg import IcebergTable

    df = spark.createDataFrame(
        [("a", 1.0), ("", 2.0)], "s string, x double"
    )
    with pytest.raises(ValueError, match="empty-string partition"):
        IcebergTable.create(spark, str(tmp_path / "t1"), df,
                            partition_col="s")
    with pytest.raises(ValueError, match="empty-string partition"):
        IcebergTable.create(spark, str(tmp_path / "t2"), df,
                            truncate=("s", 2))
    # NULL string partitions remain allowed (they have a real home)
    df2 = spark.createDataFrame(
        [("a", 1.0), (None, 2.0)], "s string, x double"
    )
    from hadoop_tools_spark.sources.iceberg import IcebergReader

    path = str(tmp_path / "t3")
    IcebergTable.create(spark, path, df2, partition_col="s")
    assert IcebergReader(path).read(spark).count() == 2


@pytest.fixture(scope="module")
def evolved_table(spark, sf_dir, tmp_path_factory):
    """create(2 cols, evens) → add status → append(odds) → rename
    o_totalprice→price → append(%50) → drop status."""
    from hadoop_tools_spark.sources.iceberg import IcebergTable

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    path = str(tmp_path_factory.mktemp("ice_evo") / "t")
    tbl = IcebergTable.create(
        spark, path,
        orders.select("o_orderkey", "o_totalprice").filter(k % 2 == 0),
    )
    tbl.add_column("o_orderstatus", "string")
    tbl.append(spark, orders.select(
        "o_orderkey", "o_totalprice", "o_orderstatus").filter(k % 2 == 1))
    tbl.rename_column("o_totalprice", "price")
    tbl.append(spark, orders.select(
        "o_orderkey", F.col("o_totalprice").alias("price"),
        "o_orderstatus").filter(k % 50 == 0))
    tbl.drop_column("o_orderstatus")
    return path


def test_schema_evolution_read_by_field_id(spark, sf_dir, evolved_table):
    """r12 VERDICT #1: renames resolve by field id (old files found
    under their write-time name), added columns NULL-fill
    pre-evolution files, drops hide the column on current reads."""
    from hadoop_tools_spark.sources.iceberg import IcebergReader

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    rd = IcebergReader(evolved_table)
    snaps = [s["snapshot-id"] for s in rd.metadata["snapshots"]]

    # current read: renamed column carries values from BOTH eras
    cur = rd.read(spark)
    assert cur.columns == ["o_orderkey", "price"]
    want_sum = (orders.agg(F.sum("o_totalprice")).collect()[0][0]
                + orders.filter(k % 50 == 0)
                .agg(F.sum("o_totalprice")).collect()[0][0])
    got_sum = cur.agg(F.sum("price")).collect()[0][0]
    assert abs(got_sum - want_sum) < 1e-6 * abs(want_sum)
    assert cur.filter(F.col("price").isNull()).count() == 0

    # value-level rename check on a sampled key from a PRE-rename file
    some = orders.filter(k % 2 == 0).select(
        "o_orderkey", "o_totalprice").limit(3).collect()
    for r in some:
        got = cur.filter(
            (k == r["o_orderkey"]) & (F.col("price") == r["o_totalprice"])
        ).count()
        assert got >= 1

    # added column NULL-fills exactly the pre-add files
    s2 = rd.read(spark, snapshot_id=snaps[1])
    assert set(s2.columns) == {"o_orderkey", "o_totalprice",
                               "o_orderstatus"}
    n_even = orders.filter(k % 2 == 0).count()
    assert s2.filter(F.col("o_orderstatus").isNull()).count() == n_even

    # time travel uses the SNAPSHOT's schema, not the current one
    s1 = rd.read(spark, snapshot_id=snaps[0])
    assert s1.columns == ["o_orderkey", "o_totalprice"]
    assert s1.count() == n_even

    # v3 time travel sees the renamed column WITH status still present
    s3 = rd.read(spark, snapshot_id=snaps[2])
    assert set(s3.columns) == {"o_orderkey", "price", "o_orderstatus"}


def test_schema_evolution_append_guard_and_errors(spark, tmp_path):
    from hadoop_tools_spark.sources.iceberg import IcebergTable

    df = spark.createDataFrame([(1, 1.0)], "k long, x double")
    tbl = IcebergTable.create(spark, str(tmp_path / "t"), df)
    with pytest.raises(ValueError, match="append columns"):
        tbl.append(spark, spark.createDataFrame([(2,)], "k long"))
    with pytest.raises(ValueError, match="already exists"):
        tbl.add_column("x", "double")
    with pytest.raises(KeyError):
        tbl.rename_column("nope", "y")
    with pytest.raises(KeyError):
        tbl.drop_column("nope")
    tbl.add_column("y", "string")
    with pytest.raises(ValueError, match="already exists"):
        tbl.rename_column("x", "y")
    # field ids never recycle: y got id 3; drop it, re-add → id 4
    tbl.drop_column("y")
    tbl.add_column("z", "string")
    assert [f["id"] for f in tbl.schema_fields] == [1, 2, 4]


def test_eq_delete_written_after_rename_applies_to_old_files(
        spark, tmp_path):
    """Equality deletes key on FIELD IDS: a delete committed after a
    rename (delete file written under the new name) still deletes
    rows in files written under the old name."""
    from hadoop_tools_spark.sources.iceberg import (
        IcebergReader,
        IcebergTable,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "k long, tag string"
    )
    path = str(tmp_path / "t")
    tbl = IcebergTable.create(spark, path, df)
    tbl.rename_column("tag", "label")
    tbl.delete_where_equal(
        spark, spark.createDataFrame([("a",)], "label string")
    )
    rd = IcebergReader(path)
    got = {(r["k"], r["label"]) for r in rd.read(spark).collect()}
    assert got == {(2, "b")}


def test_iceberg_incremental_changes(spark, sf_dir, tmp_path):
    """changes(from, to] returns exactly the appended rows; windows
    containing a non-append snapshot fail closed."""
    from hadoop_tools_spark.sources.iceberg import (
        IcebergReader,
        IcebergTable,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    path = str(tmp_path / "t")
    tbl = IcebergTable.create(spark, path, orders.filter(k % 3 == 0))
    tbl.append(spark, orders.filter(k % 3 == 1))
    tbl.append(spark, orders.filter(k % 3 == 2))
    rd = IcebergReader(path)
    s = [x["snapshot-id"] for x in rd.metadata["snapshots"]]

    got = {r["o_orderkey"] for r in rd.changes(spark, s[0], s[1]).collect()}
    want = {r["o_orderkey"]
            for r in orders.filter(k % 3 == 1).collect()}
    assert got == want
    # empty window
    assert rd.changes(spark, s[2], s[2]).count() == 0
    # to < from
    with pytest.raises(ValueError, match="predates"):
        rd.changes(spark, s[2], s[0])
    # a delete snapshot poisons any window crossing it
    tbl.delete_where_equal(
        spark, spark.createDataFrame([("P",)], "o_orderstatus string")
    )
    rd = IcebergReader(path)
    s = [x["snapshot-id"] for x in rd.metadata["snapshots"]]
    with pytest.raises(ValueError, match="not append"):
        rd.changes(spark, s[1])
    # windows BEFORE the delete still work
    assert rd.changes(spark, s[0], s[1]).count() == len(want)


def test_multi_field_partition_spec(spark, sf_dir, tmp_path):
    """r12 VERDICT #3: identity × bucket composite spec — spec JSON
    shape, per-field manifest summaries, composite filtering exact by
    independent membership recompute, and pruning on the identity
    field's range."""
    from hadoop_tools_spark.sources.iceberg import (
        IcebergReader,
        IcebergTable,
        iceberg_bucket_long,
        read_ocf_generic,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice",
        F.month("o_orderdate").cast("int").alias("o_month"),
    ).limit(3000)
    path = str(tmp_path / "multispec")
    m = F.col("o_month")
    tbl = IcebergTable.create(
        spark, path, orders.filter(m <= 6),
        partition_fields=[("o_month", "identity"),
                          ("o_orderkey", "bucket[4]")],
    )
    tbl.append(spark, orders.filter(m > 6))
    rd = IcebergReader(path)

    # spec JSON: two fields, consecutive field-ids, right transforms
    spec = rd.metadata["partition-specs"][0]
    assert [(f["name"], f["transform"], f["field-id"])
            for f in spec["fields"]] == [
        ("o_month", "identity", 1000),
        ("o_orderkey_bucket", "bucket[4]", 1001),
    ]

    # manifest-list rows carry ONE summary per field, in order
    with open(rd.snapshot()["manifest-list"].replace("file://", ""),
              "rb") as fh:
        _, rows = read_ocf_generic(fh.read())
    assert all(len(r["partitions"]) == 2 for r in rows)

    # composite filter returns exactly the recomputed membership
    base = orders.collect()
    got = {r["o_orderkey"] for r in rd.read(spark, part_filter={
        "o_month": 3, "o_orderkey_bucket": 2}).collect()}
    want = {r["o_orderkey"] for r in base
            if r["o_month"] == 3
            and iceberg_bucket_long(r["o_orderkey"], 4) == 2}
    assert got == want and got

    # identity-range pruning engages from the LIST row alone
    rd.plan(part_filter={"o_month": 9})
    assert rd.last_plan_stats["manifests_pruned"] == 1
    rd.plan(part_filter={"o_month": 2})
    assert rd.last_plan_stats["manifests_pruned"] == 1

    # single-field filters still work on a multi-field spec
    only_m3 = rd.read(spark, part_filter={"o_month": 3})
    assert {r["o_month"] for r in only_m3.select("o_month")
            .distinct().collect()} == {3}
    b1 = {r["o_orderkey"] for r in rd.read(
        spark, part_filter={"o_orderkey_bucket": 1}).collect()}
    assert b1 == {r["o_orderkey"] for r in base
                  if iceberg_bucket_long(r["o_orderkey"], 4) == 1}

    # unknown key still raises on the composite spec
    with pytest.raises(KeyError, match="unknown partition filter"):
        rd.plan(part_filter={"month": 3})


def test_expire_snapshots_and_orphan_sweep(spark, sf_dir, tmp_path):
    """Expiry trims history fail-closed (expired ids KeyError; the
    head keeps reading), never deletes manifests the head still needs,
    and the orphan sweep removes only unreferenced files; both are
    no-ops when there is nothing to do."""
    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.sources.iceberg import (
        IcebergReader, IcebergTable)

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    path = str(tmp_path / "expire")
    tbl = IcebergTable.create(spark, path, orders.filter(k % 3 == 0))
    tbl.append(spark, orders.filter(k % 3 == 1))
    tbl.append(spark, orders.filter(k % 3 == 2))

    # nothing to expire when everything is retained
    assert tbl.expire_snapshots(retain_last=3) == []
    with pytest.raises(ValueError):
        tbl.expire_snapshots(retain_last=0)

    sids = [s["snapshot-id"] for s in IcebergReader(path).metadata[
        "snapshots"]]
    removed = tbl.expire_snapshots(retain_last=2)
    assert len(removed) == 1 and all(p.endswith(".avro")
                                     for p in removed)
    rd = IcebergReader(path)
    assert [s["snapshot-id"] for s in rd.metadata["snapshots"]] == \
        sids[1:]
    with pytest.raises(KeyError):
        rd.plan(sids[0])
    # the middle snapshot still time-travels, the head still reads all
    assert rd.read(spark, sids[1]).count() == orders.filter(
        k % 3 != 2).count()
    assert rd.read(spark).count() == orders.count()

    # orphan sweep: dry run reports, wet run deletes, data survives
    orphan = os.path.join(path, "data", "leftover.parquet")
    with open(orphan, "w") as fh:
        fh.write("junk")
    planned = tbl.remove_orphan_files(dry_run=True)
    assert "data/leftover.parquet" in planned
    assert os.path.exists(orphan)
    swept = tbl.remove_orphan_files()
    assert swept == planned and not os.path.exists(orphan)
    assert IcebergReader(path).read(spark).count() == orders.count()
    # second sweep is a no-op
    assert tbl.remove_orphan_files() == []


def test_commit_schema_rejection_is_atomic(spark, sf_dir, tmp_path):
    """A rejected evolution (dropping a partition source) must leave
    the table untouched — schema, schema-id and later commits all
    still work (code-review r12)."""
    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.sources.iceberg import (
        IcebergReader, IcebergTable)

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus")
    path = str(tmp_path / "atomic")
    tbl = IcebergTable.create(spark, path, orders,
                              partition_col="o_orderstatus")
    before_schema = [dict(f) for f in tbl.schema_fields]
    before_sid = tbl.current_schema_id
    before_n = len(tbl.all_schemas)
    with pytest.raises(ValueError, match="partition source"):
        tbl.drop_column("o_orderstatus")
    assert tbl.schema_fields == before_schema
    assert tbl.current_schema_id == before_sid
    assert len(tbl.all_schemas) == before_n
    # the table still commits and reads normally afterwards
    tbl.append(spark, orders.limit(0))
    assert IcebergReader(path).read(spark).count() == orders.count()


def test_last_partition_id_tracks_spec(spark, sf_dir, tmp_path):
    """metadata.json's last-partition-id must be the highest assigned
    partition field id: 999 unpartitioned, 1000 single-field, 1001 for
    a two-field composite spec (code-review r12)."""
    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.sources.iceberg import (
        IcebergReader, IcebergTable)

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    p0 = str(tmp_path / "plain")
    IcebergTable.create(spark, p0, orders)
    assert IcebergReader(p0).metadata["last-partition-id"] == 999
    p2 = str(tmp_path / "multi")
    IcebergTable.create(
        spark, p2, orders,
        partition_fields=[("o_orderkey", "bucket[4]"),
                          ("o_orderkey", "truncate[1000]")])
    assert IcebergReader(p2).metadata["last-partition-id"] == 1001


def test_changes_to_none_uses_current_schema(spark, sf_dir, tmp_path):
    """changes(from) with no explicit `to` must read with the CURRENT
    schema, matching read() — even when the latest schema change
    published no snapshot (code-review r12)."""
    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.sources.iceberg import (
        IcebergReader, IcebergTable)

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus")
    k = F.col("o_orderkey")
    path = str(tmp_path / "chg_schema")
    tbl = IcebergTable.create(spark, path, orders.filter(k % 2 == 0))
    tbl.append(spark, orders.filter(k % 2 == 1))
    tbl.drop_column("o_orderstatus")  # metadata-only, no snapshot
    rd = IcebergReader(path)
    s0 = rd.metadata["snapshots"][0]["snapshot-id"]
    got = rd.changes(spark, s0)
    assert got.columns == rd.read(spark).columns
    assert "o_orderstatus" not in got.columns
    # an explicit `to` still time-travels with that snapshot's schema
    s1 = rd.metadata["snapshots"][1]["snapshot-id"]
    assert "o_orderstatus" in rd.changes(spark, s0, s1).columns


def test_column_bounds_skipping(spark, sf_dir, tmp_path):
    """Manifest column bounds: recorded field-id-keyed per data file,
    disjoint windows skip, half-open windows work, unknown columns and
    unsupported types fail loud, delete files are never skipped, and
    bounds-free entries are kept (fail open)."""
    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.sources.iceberg import (
        IcebergReader, IcebergTable)

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    path = str(tmp_path / "bounds")
    tbl = IcebergTable.create(
        spark, path, orders.repartitionByRange(4, "o_orderkey"))
    rd = IcebergReader(path)
    n_all = len(rd.plan()["data"])
    assert n_all == 4

    # beyond-domain window skips everything
    plan = rd.plan(range_filter={"o_orderkey": (10**15, None)})
    assert plan["data"] == []
    assert rd.last_plan_stats["files_skipped_bounds"] == 4
    # half-open low side keeps everything
    plan = rd.plan(range_filter={"o_orderkey": (None, 10**15)})
    assert len(plan["data"]) == 4
    # unknown column / unsupported type fail loud
    with pytest.raises(KeyError, match="o_orderkye"):
        rd.plan(range_filter={"o_orderkye": (1, 2)})

    # equality-delete files are never skipped even under a window
    # that excludes every data file's keys
    tbl.delete_where_equal(spark, spark.createDataFrame(
        [(1,)], "o_orderkey long"))
    rd = IcebergReader(path)
    plan = rd.plan(range_filter={"o_orderkey": (10**15, None)})
    assert plan["data"] == [] and len(plan["eq_deletes"]) == 1

    # the filtered read still applies deletes inside the window
    got = rd.read(spark, range_filter={"o_orderkey": (None, 10**9)})
    assert got.filter(F.col("o_orderkey") == 1).count() == 0
    assert got.count() == orders.count() - 1


def test_partition_spec_evolution(spark, sf_dir, tmp_path):
    """Spec evolution: old-spec files are never rewritten and a
    part_filter on a NEW field keeps them (they are unpartitioned
    w.r.t. it); shared fields keep their ids, conflicting redefinition
    raises, equality deletes still commit under the empty spec and
    apply across both eras."""
    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.sources.iceberg import (
        IcebergReader, IcebergTable)

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    path = str(tmp_path / "specevo")
    tbl = IcebergTable.create(spark, path, orders.filter(k % 2 == 0))
    files_before = {d["path"]
                    for d in IcebergReader(path).plan()["data"]}
    spec_id = tbl.update_partition_spec(
        [("o_orderkey", "bucket[4]")])
    assert spec_id == 1  # unpartitioned tables have no extra empty spec
    tbl.append(spark, orders.filter(k % 2 == 1))

    rd = IcebergReader(path)
    # no old file rewritten
    assert files_before <= {d["path"] for d in rd.plan()["data"]}
    # bucket filter: old-spec files all kept, new-spec files filtered
    full = rd.read(spark)
    got = 0
    for b in range(4):
        df = rd.read(spark, part_filter={"o_orderkey_bucket": b})
        n = df.count()
        assert n >= orders.filter(k % 2 == 0).count()
        got += n
    # each bucket read = all old files + one bucket of new files
    assert got == 3 * orders.filter(k % 2 == 0).count() + full.count()

    # redefining a name with a different transform raises
    with pytest.raises(ValueError, match="different"):
        tbl.update_partition_spec([("o_orderkey", "bucket[8]")])
    # same definition is reusable (id kept)
    sid2 = tbl.update_partition_spec(
        [("o_orderkey", "bucket[4]"), ("o_orderkey", "truncate[100]")])
    specs = {s["spec-id"]: s for s in IcebergReader(path).metadata[
        "partition-specs"]}
    assert specs[sid2]["fields"][0]["field-id"] == \
        specs[1]["fields"][0]["field-id"]

    # equality delete still lands under the empty spec and hits both eras
    tbl.delete_where_equal(spark, spark.createDataFrame(
        [(2,), (3,)], "o_orderkey long"))
    rd = IcebergReader(path)
    assert rd.read(spark).count() == orders.count() - 2


def test_target_fields_unknown_schema_id_fails_closed(tmp_path):
    """ADVICE r12 (low): a snapshot referencing a schema-id ABSENT
    from the metadata must fail closed, not silently time-travel with
    the current schema; an omitted schema-id still falls back."""
    import json

    import pytest

    from hadoop_tools_spark.sources.iceberg import IcebergReader

    meta_dir = tmp_path / "t" / "metadata"
    meta_dir.mkdir(parents=True)
    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "k", "required": False, "type": "long"}]}
    metadata = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000001",
        "location": str(tmp_path / "t"),
        "current-schema-id": 0,
        "schemas": [schema],
        "schema": schema,
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "current-snapshot-id": 2,
        "snapshots": [
            {"snapshot-id": 1, "schema-id": 99,
             "manifest-list": "missing.avro"},
            {"snapshot-id": 2,
             "manifest-list": "missing.avro"},
        ],
        "snapshot-log": [],
    }
    p = meta_dir / "v1.metadata.json"
    p.write_text(json.dumps(metadata))
    (meta_dir / "version-hint.text").write_text("1")
    rd = IcebergReader(str(tmp_path / "t"))
    # present-but-unknown schema-id: refuse
    with pytest.raises(KeyError, match="schema-id 99"):
        rd._target_fields(1)
    # omitted schema-id: current-schema fallback still applies
    assert rd._target_fields(2) == schema["fields"]


def test_seq_attach_literal_map_and_join_fallback(spark, ice_table, monkeypatch):
    """r14: per-file sequence numbers attach as a literal-map lookup —
    the read plans NO inner join on _mor_path for them — and tables
    past SEQ_LITERAL_MAX files fall back to a broadcast join
    with identical rows."""
    from hadoop_tools_spark.sources import mor
    from hadoop_tools_spark.sources.iceberg import IcebergReader

    def seq_joins(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [
            ln for ln in plan.splitlines()
            if "Join [_mor_path" in ln and "Inner" in ln
        ]

    rd = IcebergReader(ice_table)
    df = rd.read(spark)
    assert not seq_joins(df), seq_joins(df)
    rows = {tuple(r) for r in df.collect()}

    monkeypatch.setattr(mor, "SEQ_LITERAL_MAX", 0)
    df2 = IcebergReader(ice_table).read(spark)
    assert seq_joins(df2)
    assert {tuple(r) for r in df2.collect()} == rows


def test_read_build_starts_no_spark_job(spark, ice_table):
    """Building the read of the fixture's current snapshot (data files,
    position deletes and an equality delete) starts no Spark job: every
    scan carries a pinned schema, the position deletes the spec's
    ``file_path string, pos long``, so none infers one from a
    footer."""
    from hadoop_tools_spark.sources.iceberg import IcebergReader

    rd = IcebergReader(ice_table)
    assert rd.plan()["pos_deletes"] and rd.plan()["eq_deletes"]
    sc = spark.sparkContext
    group = "iceberg_read_build"
    sc.setJobGroup(group, "IcebergReader.read build")
    try:
        df = rd.read(spark)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()
    assert jobs == []
    assert df.schema.fieldNames()[:1] == ["o_orderkey"]

"""Delta _delta_log read interop (VERDICT r10 #2): checkpointed
replay, add/remove semantics, time travel, log-file open counts."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def delta_table(spark, sf_dir, tmp_path_factory):
    from hadoop_tools_spark.sources.deltalog import build_delta_fixture

    path = str(tmp_path_factory.mktemp("delta") / "orders_table")
    return build_delta_fixture(spark, sf_dir, path)


def test_log_layout(delta_table):
    log = os.path.join(delta_table, "_delta_log")
    names = sorted(os.listdir(log))
    assert f"{0:020d}.json" in names
    assert f"{1:020d}.json" in names
    assert f"{2:020d}.json" in names
    assert f"{1:020d}.checkpoint.parquet" in names
    with open(os.path.join(log, "_last_checkpoint")) as fh:
        lc = json.load(fh)
    assert lc["version"] == 1
    # v0 carries protocol + metaData (protocol "first commit" rule)
    with open(os.path.join(log, f"{0:020d}.json")) as fh:
        acts = [json.loads(line) for line in fh]
    assert any("protocol" in a for a in acts)
    assert any("metaData" in a for a in acts)
    assert sum(1 for a in acts if "add" in a) == 2


def test_checkpointed_replay_skips_old_commits(delta_table):
    from hadoop_tools_spark.sources.deltalog import DeltaLogReader

    rd = DeltaLogReader(delta_table)
    assert rd.latest == 2
    state = rd.plan()  # latest
    assert rd.last_plan_stats == {
        "checkpoint_used": 1, "json_commits_read": 1,  # only v2.json
        "files_read": 3,
    }
    assert set(state) == {"a2.parquet", "b.parquet", "c.parquet"}
    # pre-checkpoint version: pure JSON replay
    state0 = rd.plan(0)
    assert rd.last_plan_stats == {
        "checkpoint_used": 0, "json_commits_read": 1, "files_read": 2,
    }
    assert set(state0) == {"a1.parquet", "a2.parquet"}
    with pytest.raises(KeyError):
        rd.plan(99)


def test_remove_action_and_timetravel(spark, sf_dir, delta_table):
    from hadoop_tools_spark.sources.deltalog import DeltaLogReader

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    rd = DeltaLogReader(delta_table)
    assert rd.read(spark, 0).count() == orders.filter(k % 3 != 0).count()
    v1 = rd.read(spark, 1)
    # a1 (even, %3<>0) was removed at v1
    assert v1.filter((k % 3 != 0) & (k % 2 == 0)).count() == 0
    assert v1.count() == orders.filter(
        ((k % 3 != 0) & (k % 2 == 1)) | (k % 3 == 0)
    ).count()
    # latest re-adds the %50 slice on top (multiset duplicates)
    latest = rd.read(spark)
    dup = latest.groupBy("o_orderkey").count().filter("count = 2").count()
    assert dup == orders.filter(
        (k % 50 == 0) & (((k % 3 != 0) & (k % 2 == 1)) | (k % 3 == 0))
    ).count()


def test_delta_write_read_interop(spark, sf_dir, tmp_path):
    """r11 write path: create/append/checkpoint/overwrite through
    DeltaTable, replay through DeltaLogReader — the overwrite is
    metadata-only (adds + removes in one commit) and the post-
    checkpoint replay opens exactly one JSON commit."""
    from hadoop_tools_spark.sources.deltalog import (
        DeltaLogReader,
        DeltaTable,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    k = F.col("o_orderkey")
    path = str(tmp_path / "written_delta")
    tbl = DeltaTable.create(spark, path, orders.filter(k % 3 != 0))
    tbl.append(spark, orders.filter(k % 3 == 0))
    tbl.checkpoint()
    tbl.overwrite_with(spark, orders.filter(k % 7 == 0))

    rd = DeltaLogReader(path)
    assert rd.read(spark).count() == orders.filter(k % 7 == 0).count()
    assert rd.last_plan_stats["checkpoint_used"] == 1
    assert rd.last_plan_stats["json_commits_read"] == 1
    assert rd.read(spark, 1).count() == orders.count()
    # overwrite removed every pre-existing live path
    state2 = rd.plan(2)
    assert all(p.startswith("s0002/") for p in state2)
    # schema (used for empty-state reads) comes from the log's metaData
    fields, pcols = rd._table_meta()
    assert "o_totalprice" in {f["name"] for f in fields}
    assert pcols == []


def test_timestamp_time_travel(spark, delta_table):
    from hadoop_tools_spark.sources.deltalog import (
        DeltaLogReader,
        version_as_of,
    )

    rd = DeltaLogReader(delta_table)
    # fixture commits are 60 s apart starting at the fixed anchor
    t0 = 1700000000000
    assert version_as_of(rd, t0) == 0
    assert version_as_of(rd, t0 + 90000) == 1
    assert version_as_of(rd, t0 + 10**9) == 2
    with pytest.raises(ValueError, match="created later"):
        version_as_of(rd, t0 - 1)


def test_protocol_gate_refuses_newer_reader_versions(tmp_path):
    """r12 (VERDICT #3 / ADVICE): a table whose protocol demands a
    reader this code does not implement must raise, not silently
    replay adds it cannot honor (deletion vectors, column mapping)."""
    import json
    import os

    from hadoop_tools_spark.sources.deltalog import DeltaLogReader

    log_dir = tmp_path / "t" / "_delta_log"
    os.makedirs(log_dir)

    def write_commit(v, actions):
        with open(log_dir / f"{v:020d}.json", "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")

    meta = {"metaData": {
        "id": "x", "format": {"provider": "parquet"},
        "schemaString": json.dumps(
            {"type": "struct",
             "fields": [{"name": "k", "type": "long",
                         "nullable": True, "metadata": {}}]}),
        "partitionColumns": [], "configuration": {}, "createdTime": 0,
    }}
    add = {"add": {"path": "a.parquet", "partitionValues": {},
                   "size": 1, "modificationTime": 0, "dataChange": True}}

    # minReaderVersion 3 + deletionVectors feature → refuse at plan
    write_commit(0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"]}},
        meta, add,
    ])
    rd = DeltaLogReader(str(tmp_path / "t"))
    with pytest.raises(ValueError, match="minReaderVersion"):
        rd.plan()

    # an add action carrying a deletionVector is refused even if the
    # protocol row lies about it
    write_commit(0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        meta,
        {"add": {**add["add"],
                 "deletionVector": {"storageType": "u", "pathOrInlineDv":
                                    "x", "offset": 1, "sizeInBytes": 1,
                                    "cardinality": 1}}},
    ])
    rd = DeltaLogReader(str(tmp_path / "t"))
    with pytest.raises(ValueError, match="deletion vectors"):
        rd.plan()

    # a later protocol UPGRADE commit gates too
    write_commit(0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        meta, add,
    ])
    write_commit(1, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
    ])
    rd = DeltaLogReader(str(tmp_path / "t"))
    assert rd.plan(0)  # old version still readable
    with pytest.raises(ValueError, match="minReaderVersion"):
        rd.plan(1)


def test_protocol_gate_supported_table_still_reads(delta_table, spark):
    """The gate must not break the supported (v1) fixture — protocol
    rows in both the JSON commits and the checkpoint are parsed."""
    from hadoop_tools_spark.sources.deltalog import DeltaLogReader

    rd = DeltaLogReader(delta_table)
    assert rd.plan() and rd.plan(0)


# ---------------------------------------------------------------------------
# partitioned tables (r12)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def delta_partitioned(spark, sf_dir, tmp_path_factory):
    """orders partitioned by a derived status column with 'P' mapped
    to NULL, so the table has a real null partition."""
    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.sources.deltalog import DeltaTable

    path = str(tmp_path_factory.mktemp("deltap") / "orders_part")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    ).withColumn(
        "status_part",
        F.when(F.col("o_orderstatus") == "P", F.lit(None))
         .otherwise(F.col("o_orderstatus")),
    )
    DeltaTable.create(spark, path, orders, overwrite=True,
                      partition_by=["status_part"])
    return path, orders


def test_partitioned_layout_and_log(delta_partitioned):
    path, _ = delta_partitioned
    with open(os.path.join(path, "_delta_log",
                           f"{0:020d}.json")) as fh:
        acts = [json.loads(line) for line in fh]
    meta = next(a["metaData"] for a in acts if "metaData" in a)
    assert meta["partitionColumns"] == ["status_part"]
    adds = [a["add"] for a in acts if "add" in a]
    vals = {a["partitionValues"]["status_part"] for a in adds}
    assert vals == {"F", "O", None}  # 'P' rows in the null partition
    # protocol: partitioned data files live in hive-style dirs and
    # their paths are RELATIVE to the table root
    for a in adds:
        assert not a["path"].startswith("/")
        assert "status_part=" in a["path"]


def test_partitioned_read_reinjects_values(spark, delta_partitioned):
    from hadoop_tools_spark.sources.deltalog import DeltaLogReader

    path, orders = delta_partitioned
    got = DeltaLogReader(path).read(spark)
    # schema order preserved; partition col materialized from the log
    assert got.columns == orders.columns
    exp = {tuple(r) for r in orders.collect()}
    assert {tuple(r) for r in got.collect()} == exp


def test_partitioned_pruned_read_and_stats(spark, delta_partitioned):
    from hadoop_tools_spark.sources.deltalog import DeltaLogReader

    path, orders = delta_partitioned
    rd = DeltaLogReader(path)
    got = rd.read(spark, part_filter={"status_part": "F"})
    st = rd.last_plan_stats
    assert st["files_skipped"] > 0
    assert st["files_read"] >= 1
    n_exp = orders.where(F.col("status_part") == "F").count()
    assert got.count() == n_exp
    # null partition addressable through the filter too
    got_null = rd.read(spark, part_filter={"status_part": None})
    assert got_null.count() == orders.where(
        F.col("status_part").isNull()).count()
    assert got_null.filter(F.col("status_part").isNotNull()).count() == 0


def test_partition_filter_unknown_key_fails_closed(delta_partitioned,
                                                   delta_table):
    from hadoop_tools_spark.sources.deltalog import DeltaLogReader

    path, _ = delta_partitioned
    with pytest.raises(KeyError, match="status_prat"):
        DeltaLogReader(path).plan(part_filter={"status_prat": "F"})
    # unpartitioned table: ANY filter key is unknown
    with pytest.raises(KeyError):
        DeltaLogReader(delta_table).plan(
            part_filter={"o_orderstatus": "F"})


def test_partitioned_checkpoint_roundtrip(spark, delta_partitioned,
                                          tmp_path):
    """Checkpoint a partitioned table; replay from the checkpoint must
    keep partitionValues (pyarrow maps come back as pair lists and are
    normalized) and still prune."""
    import shutil

    from hadoop_tools_spark.sources.deltalog import (
        DeltaLogReader, DeltaTable)

    src, orders = delta_partitioned
    path = str(tmp_path / "cp_part")
    shutil.copytree(src, path)
    rd0 = DeltaLogReader(path)
    tbl = DeltaTable(path, schema_string=json.dumps(
        {"type": "struct", "fields": rd0._table_meta()[0]}),
        partition_cols=["status_part"])
    tbl.version = rd0.latest
    tbl.live = rd0.plan()
    tbl.checkpoint()
    rd = DeltaLogReader(path)
    state = rd.plan()
    assert rd.last_plan_stats["checkpoint_used"] == 1
    assert rd.last_plan_stats["json_commits_read"] == 0
    assert all(isinstance(a.get("partitionValues"), dict)
               for a in state.values())
    got = rd.read(spark, part_filter={"status_part": "O"})
    assert got.count() == orders.where(
        F.col("status_part") == "O").count()


def test_empty_string_partition_value_rejected(spark, tmp_path):
    from hadoop_tools_spark.sources.deltalog import DeltaTable

    df = spark.createDataFrame(
        [(1, "x"), (2, "")], "k long, p string")
    with pytest.raises(ValueError, match="empty-string"):
        DeltaTable.create(spark, str(tmp_path / "t"), df,
                          partition_by=["p"])


def test_changes_window_semantics(spark, sf_dir, tmp_path):
    """(from, to] append windows replay only their own JSON commits —
    never a checkpoint — and a window containing an overwrite or any
    dataChange remove fails closed."""
    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.sources.deltalog import (
        DeltaLogReader, DeltaTable)

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    path = str(tmp_path / "chg")
    tbl = DeltaTable.create(spark, path, orders.filter(k % 3 == 0))
    tbl.append(spark, orders.filter(k % 3 == 1))
    tbl.checkpoint()  # must NOT be consulted by changes()
    tbl.append(spark, orders.filter(k % 3 == 2))
    tbl.overwrite_with(spark, orders.filter(k % 50 == 0))

    rd = DeltaLogReader(path)
    got = rd.changes(spark, 0, 2)
    assert rd.last_plan_stats["checkpoint_used"] == 0
    assert rd.last_plan_stats["json_commits_read"] == 2
    assert rd.last_plan_stats["files_read"] >= 2
    assert got.count() == orders.filter(k % 3 != 0).count()
    # empty window
    assert rd.changes(spark, 1, 1).count() == 0
    # window crossing the overwrite: fail closed
    with pytest.raises(ValueError, match="append scan cannot"):
        rd.changes(spark, 2, 3)
    with pytest.raises(ValueError, match="append scan cannot"):
        rd.changes(spark, 0)  # defaults to latest
    with pytest.raises(KeyError):
        rd.changes(spark, 99)
    with pytest.raises(ValueError, match="predates"):
        rd.changes(spark, 2, 1)


def test_optimize_datachange_false_semantics(spark, sf_dir, tmp_path):
    """OPTIMIZE swaps the layout without changing content: plain reads
    and time travel see identical rows before/after, changes() windows
    crossing it surface nothing from it, and partitions already
    compact are not rewritten."""
    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.sources.deltalog import (
        DeltaLogReader, DeltaTable)

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus")
    k = F.col("o_orderkey")
    path = str(tmp_path / "opt")
    tbl = DeltaTable.create(spark, path, orders.filter(k % 3 == 0),
                            partition_by=["o_orderstatus"])
    tbl.append(spark, orders.filter(k % 3 != 0))
    rd0 = DeltaLogReader(path)
    before = {tuple(r) for r in rd0.read(spark).collect()}

    v = tbl.optimize(spark)
    assert v == 2 and len(tbl.live) == 3
    rd = DeltaLogReader(path)
    # content unchanged, layout compacted
    assert {tuple(r) for r in rd.read(spark).collect()} == before
    assert rd.last_plan_stats["files_read"] == 3
    # pre-optimize version still time-travels to the old layout
    assert rd.read(spark, 1).count() == len(before)
    # the OPTIMIZE commit is invisible to incremental scans
    assert rd.changes(spark, 1, 2).count() == 0
    assert rd.changes(spark, 0, 2).count() == orders.filter(
        k % 3 != 0).count()
    # the commit actions really carry dataChange=false
    with open(os.path.join(path, "_delta_log",
                           f"{2:020d}.json")) as fh:
        acts = [json.loads(line) for line in fh]
    assert all(not a["add"]["dataChange"] for a in acts if "add" in a)
    assert all(not a["remove"]["dataChange"]
               for a in acts if "remove" in a)
    assert next(a for a in acts if "commitInfo" in a)[
        "commitInfo"]["operation"] == "OPTIMIZE"
    # idempotent: everything is already one file per partition
    assert tbl.optimize(spark) is None


def test_data_skipping_bounds_and_failopen(spark, sf_dir, tmp_path):
    """Zone-map semantics: per-file min/max land in the stats JSON,
    disjoint windows skip everything, stats-free adds are kept (fail
    open), unknown columns raise, and partition columns are routed to
    part_filter instead."""
    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.sources.deltalog import (
        DeltaLogReader, DeltaTable)

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    path = str(tmp_path / "skip")
    tbl = DeltaTable.create(
        spark, path, orders.repartitionByRange(4, "o_orderkey"))
    rd = DeltaLogReader(path)
    rd.plan()
    assert rd.last_plan_stats["files_read"] == 4
    # stats JSON carries real bounds
    add = next(iter(rd.plan().values()))
    st = json.loads(add["stats"])
    assert st["minValues"]["o_orderkey"] <= st["maxValues"]["o_orderkey"]
    # a window beyond the key domain skips every file
    assert rd.plan(range_filter={"o_orderkey": (10**15, None)}) == {}
    assert rd.last_plan_stats["files_skipped"] == 4
    # half-open windows work
    lo_all = rd.plan(range_filter={"o_orderkey": (None, 10**15)})
    assert len(lo_all) == 4
    # unknown column fails closed
    with pytest.raises(KeyError, match="o_orderkye"):
        rd.plan(range_filter={"o_orderkye": (1, 2)})
    # a stats-free add action is kept, not skipped (fail open)
    tbl.commit([{"path": "ghost.parquet", "size": 1, "numRecords": 0}],
               [])
    # overwrite the stats field with a no-bounds payload via a raw add
    rd2 = DeltaLogReader(path)
    kept = rd2.plan(range_filter={"o_orderkey": (10**15, None)})
    assert set(kept) == {"ghost.parquet"}


def test_vacuum_retention_and_orphans(spark, sf_dir, tmp_path):
    """VACUUM deletes tombstoned files outside the retention window
    plus stage orphans, never log files or the retained live set;
    expired versions' reads fail afterwards while retained ones keep
    working; dry_run reports without deleting."""
    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.sources.deltalog import (
        DeltaLogReader, DeltaTable)

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    path = str(tmp_path / "vac")
    tbl = DeltaTable.create(spark, path, orders.filter(k % 3 != 0))
    tbl.append(spark, orders.filter(k % 3 == 0))
    tbl.overwrite_with(spark, orders.filter(k % 7 == 0))
    # an orphan from a crashed write
    with open(os.path.join(path, "s9999_orphan.parquet"), "w") as fh:
        fh.write("junk")

    planned = tbl.vacuum(retain_versions=2, dry_run=True)
    assert "s9999_orphan.parquet" in planned
    assert os.path.exists(os.path.join(path, "s9999_orphan.parquet"))

    deleted = tbl.vacuum(retain_versions=2)
    assert deleted == planned
    # v1 and v2 both retained: v1 references everything, so only the
    # orphan and _SUCCESS markers go
    assert all(not p.startswith("s000") or not p.endswith(".parquet")
               for p in deleted)
    rd = DeltaLogReader(path)
    assert rd.read(spark, 1).count() == orders.count()

    # retain only the head: v0/v1-only files now go
    deleted2 = tbl.vacuum(retain_versions=1)
    assert any(p.endswith(".parquet") for p in deleted2)
    rd = DeltaLogReader(path)
    assert rd.read(spark).count() == orders.filter(k % 7 == 0).count()
    # the expired version still PLANS (metadata intact) but can't read
    assert rd.plan(1)
    with pytest.raises(Exception):
        rd.read(spark, 1).count()
    # the log itself is untouched
    assert sorted(rd.commits) == [0, 1, 2]
    with pytest.raises(ValueError):
        tbl.vacuum(retain_versions=0)


def test_part_filter_typed_value_fails_loud(spark, delta_partitioned):
    """A known key with a non-string value would match nothing against
    the log's string serialization — raise instead of returning an
    empty table (code-review r12)."""
    from hadoop_tools_spark.sources.deltalog import DeltaLogReader

    path, _ = delta_partitioned
    with pytest.raises(TypeError, match="string serialization"):
        DeltaLogReader(path).plan(part_filter={"status_part": 3})


def test_changes_and_checkpoint_refuse_deletion_vectors(tmp_path):
    """The DV belt-and-braces gate holds on every state path: JSON
    replay (already pinned), the changes() window walk, and a FOREIGN
    checkpoint whose add rows carry a deletionVector column
    (code-review r12)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_tools_spark.sources.deltalog import DeltaLogReader

    log_dir = tmp_path / "t" / "_delta_log"
    os.makedirs(log_dir)
    meta = {"metaData": {
        "id": "x", "format": {"provider": "parquet"},
        "schemaString": json.dumps(
            {"type": "struct",
             "fields": [{"name": "k", "type": "long",
                         "nullable": True, "metadata": {}}]}),
        "partitionColumns": [], "configuration": {}, "createdTime": 0,
    }}
    dv = {"storageType": "u", "pathOrInlineDv": "x", "offset": 1,
          "sizeInBytes": 1, "cardinality": 1}
    with open(log_dir / f"{0:020d}.json", "w") as fh:
        for a in [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            meta,
            {"add": {"path": "z.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
        ]:
            fh.write(json.dumps(a) + "\n")
    with open(log_dir / f"{1:020d}.json", "w") as fh:
        fh.write(json.dumps(
            {"add": {"path": "a.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True, "deletionVector": dv}}) + "\n")
    rd = DeltaLogReader(str(tmp_path / "t"))
    with pytest.raises(ValueError, match="deletion vectors"):
        rd.changes(spark=None, from_version=0, to_version=1)
    os.remove(log_dir / f"{1:020d}.json")

    # foreign checkpoint carrying a DV struct on its add rows
    t_dv = pa.struct([("storageType", pa.string()),
                      ("cardinality", pa.int64())])
    t_add = pa.struct([
        ("path", pa.string()),
        ("partitionValues", pa.map_(pa.string(), pa.string())),
        ("size", pa.int64()), ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()), ("stats", pa.string()),
        ("deletionVector", t_dv),
    ])
    add_row = {"path": "a.parquet", "partitionValues": [], "size": 1,
               "modificationTime": 0, "dataChange": True,
               "stats": "{}",
               "deletionVector": {"storageType": "u", "cardinality": 1}}
    table = pa.table({
        "add": pa.array([add_row, None], t_add),
        "protocol": pa.array(
            [None, {"minReaderVersion": 1, "minWriterVersion": 2}],
            pa.struct([("minReaderVersion", pa.int32()),
                       ("minWriterVersion", pa.int32())])),
    })
    pq.write_table(table, str(log_dir / f"{0:020d}.checkpoint.parquet"))
    with open(log_dir / "_last_checkpoint", "w") as fh:
        json.dump({"version": 0, "size": 2}, fh)
    rd = DeltaLogReader(str(tmp_path / "t"))
    with pytest.raises(ValueError, match="deletion vectors"):
        rd.plan()


def test_skipping_disabled_stats_fail_open(spark, tmp_path):
    """A file written without parquet statistics records no bounds, so
    every range_filter keeps it (fail open, code-review r12)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_tools_spark.sources.deltalog import (
        DeltaLogReader, DeltaTable)

    path = str(tmp_path / "nostats")
    df = spark.createDataFrame([(i, float(i)) for i in range(100)],
                               "k long, v double").coalesce(1)
    tbl = DeltaTable.create(spark, path, df)
    # replace the staged file with a stats-free rewrite of itself
    rel = next(iter(tbl.live))
    full = os.path.join(path, rel)
    pq.write_table(pa.table({"k": list(range(100)),
                             "v": [float(i) for i in range(100)]}),
                   full, write_statistics=False)
    tbl.live[rel]["stats"] = json.dumps({"numRecords": 100})
    tbl.checkpoint()
    rd = DeltaLogReader(path)
    kept = rd.plan(range_filter={"k": (10**12, None)})
    assert set(kept) == {rel}
    assert rd.last_plan_stats["files_skipped"] == 0


def test_schema_evolution_nullfill_and_composition(spark, sf_dir,
                                                   tmp_path):
    """Additive evolution composes with the rest of the surface:
    pre-evolution files NULL-fill on partitioned tables too, changes()
    windows crossing the evolution read with the right schema,
    checkpoints after the evolution carry the new schemaString, and a
    duplicate add_column raises."""
    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.sources.deltalog import (
        DeltaLogReader, DeltaTable)

    orders = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    path = str(tmp_path / "evo")
    tbl = DeltaTable.create(
        spark, path,
        orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
        .filter(k % 2 == 0),
        partition_by=["o_orderstatus"],
    )
    tbl.add_column("o_orderpriority", "string")
    with pytest.raises(ValueError, match="already exists"):
        tbl.add_column("o_orderpriority", "string")
    tbl.append(spark, orders.select(
        "o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority"
    ).filter(k % 2 == 1))
    tbl.checkpoint()

    rd = DeltaLogReader(path)
    latest = rd.read(spark)
    assert latest.columns == [
        "o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority"]
    assert latest.count() == orders.count()
    # pre-evolution files NULL-fill the added column
    assert latest.filter(F.col("o_orderpriority").isNull()).count() == \
        orders.filter(k % 2 == 0).count()
    # partition re-injection survived the evolution
    assert latest.filter(F.col("o_orderstatus").isNull()).count() == 0
    # time travel reads v0 with v0's schema
    assert "o_orderpriority" not in rd.read(spark, 0).columns
    # a window crossing the evolution carries the current schema
    got = rd.changes(spark, 0)
    assert "o_orderpriority" in got.columns
    assert got.count() == orders.filter(k % 2 == 1).count()
    # the checkpoint metaData carries the evolved schemaString
    rd2 = DeltaLogReader(path)
    rd2.commits.clear()  # force the checkpoint metaData path
    fields, pcols = rd2._table_meta()
    assert "o_orderpriority" in {f["name"] for f in fields}
    assert pcols == ["o_orderstatus"]


def test_txn_idempotence_per_app(spark, sf_dir, tmp_path):
    """txn versions are tracked PER appId: a stale retry no-ops, a
    lower version from a different app still commits, and the reader
    replays the result like any other commits."""
    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.sources.deltalog import (
        DeltaLogReader, DeltaTable)

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    path = str(tmp_path / "txn")
    tbl = DeltaTable.create(spark, path, orders.filter(k % 3 == 0))
    assert tbl.latest_txn_version("loader") is None
    v1 = tbl.append_txn(spark, orders.filter(k % 3 == 1), "loader", 5)
    assert v1 == 1 and tbl.latest_txn_version("loader") == 5
    # stale and equal versions both no-op
    assert tbl.append_txn(spark, orders.filter(k % 3 == 1),
                          "loader", 5) is None
    assert tbl.append_txn(spark, orders.filter(k % 3 == 1),
                          "loader", 4) is None
    # a different app has its own sequence
    v2 = tbl.append_txn(spark, orders.filter(k % 3 == 2),
                        "backfill", 1)
    assert v2 == 2 and tbl.latest_txn_version("backfill") == 1
    assert tbl.latest_txn_version("loader") == 5
    # the txn action is in the commit file itself (atomic commit)
    with open(os.path.join(path, "_delta_log",
                           f"{1:020d}.json")) as fh:
        acts = [json.loads(line) for line in fh]
    txns = [a["txn"] for a in acts if "txn" in a]
    assert txns == [{"appId": "loader", "version": 5,
                     "lastUpdated": txns[0]["lastUpdated"]}]
    assert DeltaLogReader(path).read(spark).count() == orders.count()


def test_txn_survives_checkpoint_truncated_log(spark, sf_dir, tmp_path):
    """A log truncated at a checkpoint keeps its txn watermarks: the
    checkpoint's txn rows are part of the replayed state, so a replayed
    batch still commits nothing."""
    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.sources.deltalog import DeltaTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    path = str(tmp_path / "cptrunc")
    tbl = DeltaTable.create(spark, path, orders.filter(k % 3 == 0))
    tbl.append_txn(spark, orders.filter(k % 3 == 1), "loader", 5)
    tbl.checkpoint()
    for v in (0, 1):
        os.remove(os.path.join(tbl.log_dir, f"{v:020d}.json"))
    assert tbl.latest_txn_version("loader") == 5
    assert tbl.append_txn(spark, orders.filter(k % 3 == 1),
                          "loader", 5) is None


def test_checkpoint_preserves_txn_watermarks(spark, sf_dir, tmp_path):
    """Checkpoints carry the newest txn per app (protocol rule), so a
    checkpoint-only reader of the tree still sees the idempotence
    watermarks."""
    import pyarrow.parquet as pq

    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.sources.deltalog import DeltaTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    path = str(tmp_path / "cptxn")
    tbl = DeltaTable.create(spark, path, orders.filter(k % 3 == 0))
    tbl.append_txn(spark, orders.filter(k % 3 == 1), "loader", 3)
    tbl.append_txn(spark, orders.filter(k % 3 == 2), "loader", 7)
    tbl.append_txn(spark, orders.filter(k % 50 == 0), "backfill", 1)
    tbl.checkpoint()
    cp = os.path.join(path, "_delta_log",
                      f"{tbl.version:020d}.checkpoint.parquet")
    txns = [t for t in pq.ParquetFile(cp).read(columns=["txn"])
            .column("txn").to_pylist() if t is not None]
    assert sorted((t["appId"], t["version"]) for t in txns) == [
        ("backfill", 1), ("loader", 7)]


def test_optimize_pins_schema_across_evolution(spark, sf_dir, tmp_path):
    """ADVICE r12 (medium): OPTIMIZE over a partition mixing pre- and
    post-evolution files must read with the CURRENT table schema, not
    one sampled footer — otherwise the evolved column's values are
    silently dropped inside a dataChange=false commit."""
    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.sources.deltalog import (
        DeltaLogReader, DeltaTable)

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus")
    k = F.col("o_orderkey")
    path = str(tmp_path / "opt_evo")
    tbl = DeltaTable.create(spark, path, orders.filter(k % 3 == 0))
    tbl.add_column("o_flag", "long")
    evolved = orders.filter(k % 3 == 1).withColumn(
        "o_flag", k * 10)
    tbl.append(spark, evolved)
    want_flags = {tuple(r) for r in evolved.select(
        "o_orderkey", "o_flag").collect()}

    v = tbl.optimize(spark, min_files=2)
    assert v is not None
    rd = DeltaLogReader(path)
    got = rd.read(spark).select("o_orderkey", "o_flag").filter(
        F.col("o_flag").isNotNull())
    # the evolved column's values survive the compaction verbatim
    assert {tuple(r) for r in got.collect()} == want_flags


def test_checkpoint_carries_remove_tombstones(spark, sf_dir, tmp_path):
    """ADVICE r12 (low): checkpoints must carry un-expired remove
    actions — an external reader/VACUUM replaying from the checkpoint
    otherwise sees a tombstone-less, protocol-divergent state."""
    import pyarrow.parquet as pq

    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.sources.deltalog import (
        DeltaLogReader, DeltaTable)

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus")
    k = F.col("o_orderkey")
    path = str(tmp_path / "cp_tomb")
    tbl = DeltaTable.create(spark, path, orders.filter(k % 3 == 0))
    tbl.append(spark, orders.filter(k % 3 != 0))
    removed_before = set(tbl.live)
    tbl.overwrite_with(spark, orders.filter(k % 2 == 0))
    tbl.checkpoint()

    cp = os.path.join(
        tbl.log_dir, f"{tbl.version:020d}.checkpoint.parquet")
    removes = [
        r for r in pq.read_table(cp, columns=["remove"])
        .column("remove").to_pylist() if r is not None
    ]
    assert {r["path"] for r in removes} == removed_before
    assert all(r["deletionTimestamp"] is not None for r in removes)
    # replay from the checkpoint still yields the live set only
    rd = DeltaLogReader(path)
    plan = rd.plan()
    assert rd.last_plan_stats["checkpoint_used"] == 1
    assert set(plan) == set(tbl.live)
    # a re-added path sheds its tombstone: append one removed file's
    # rows again and re-checkpoint — the new checkpoint must not list
    # a tombstone for any live path
    tbl.append(spark, orders.filter(k % 3 == 0))
    tbl.checkpoint()
    cp2 = os.path.join(
        tbl.log_dir, f"{tbl.version:020d}.checkpoint.parquet")
    removes2 = {
        r["path"] for r in pq.read_table(cp2, columns=["remove"])
        .column("remove").to_pylist() if r is not None
    }
    assert not (removes2 & set(tbl.live))


def test_plan_filter_validation_is_version_aware(spark, sf_dir,
                                                 tmp_path):
    """ADVICE r12 (low): plan() must validate range_filter keys against
    the metadata AS OF the planned version — a column added by later
    evolution cannot exist at version 0 and must raise KeyError, not
    silently keep every file."""
    import pytest

    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.sources.deltalog import (
        DeltaLogReader, DeltaTable)

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus")
    k = F.col("o_orderkey")
    path = str(tmp_path / "ver_filter")
    tbl = DeltaTable.create(spark, path, orders.filter(k % 3 == 0))
    tbl.add_column("o_flag", "long")
    tbl.append(spark, orders.filter(k % 3 == 1).withColumn(
        "o_flag", k))
    rd = DeltaLogReader(path)
    # latest: the evolved column validates
    rd.plan(range_filter={"o_flag": (0, 10)})
    # version 0 predates the evolution: same key must fail closed
    with pytest.raises(KeyError, match="o_flag"):
        rd.plan(version=0, range_filter={"o_flag": (0, 10)})

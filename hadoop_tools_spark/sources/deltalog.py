"""Delta Lake ``_delta_log`` READ interop (VERDICT r10 #2).

Companion to ``sources/iceberg.py``: the same "own semantics →
standard format" graduation for the Delta transaction-log protocol
(public spec: https://github.com/delta-io/delta/blob/master/PROTOCOL.md).
Layout written and read here:

    table/**/*.parquet                            data (paths RELATIVE
                                                  to the table root,
                                                  per the protocol)
    table/_delta_log/{N:020d}.json                commits: one JSON
                                                  action per line
                                                  (commitInfo /
                                                  protocol / metaData /
                                                  add / remove)
    table/_delta_log/{N:020d}.checkpoint.parquet  full state at N as
                                                  one action per row
                                                  (nullable structs)
    table/_delta_log/_last_checkpoint             {"version", "size"}

``DeltaLogFixture`` writes such a log; ``DeltaLogReader`` defines a
version's state by one replay — the newest checkpoint ≤ v, then only
the JSON commits after it (the protocol's action reconciliation). That
replay gives the live files, the schema and the newest txn per appId;
every reader of the log goes through it (``last_plan_stats`` counts the
log files it opened — the pytest pins that a checkpointed read does
NOT reopen older commits). Data reading is a plain distributed parquet
scan over the live ``add`` paths.

Scale notes: log replay is driver-side file-list state — exactly what
every Delta reader does (the log is KB per thousand files); checkpoints
exist precisely so the replay cost is O(commits since checkpoint), not
O(table history). The 100 TB payload stays in parquet and is scanned
distributed with normal pushdown/pruning.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import uuid

from pyspark.sql import functions as F

from ..io import SCRATCH, load
from ..registry import query
from . import datafiles

_SCHEMA_STRING = json.dumps({
    "type": "struct",
    "fields": [
        {"name": "o_orderkey", "type": "long", "nullable": True,
         "metadata": {}},
        {"name": "o_totalprice", "type": "double", "nullable": True,
         "metadata": {}},
        {"name": "o_orderstatus", "type": "string", "nullable": True,
         "metadata": {}},
    ],
})


class DeltaLogFixture:
    """Writes a protocol-shaped ``_delta_log``. Commits carry
    commitInfo + the data actions; version 0 also carries protocol and
    metaData (required by the protocol's "first commit" rule).
    Timestamps are fixed constants so the tree is deterministic."""

    def __init__(self, path: str, schema_string: str | None = None,
                 partition_cols: list[str] | None = None):
        self.path = path
        self.log_dir = os.path.join(path, "_delta_log")
        os.makedirs(self.log_dir, exist_ok=True)
        self.version = -1
        self.live: dict[str, dict] = {}  # rel path -> add action
        # un-expired remove tombstones (rel path -> remove action):
        # the protocol requires checkpoints to carry remove actions
        # until tombstone retention expires, so external readers /
        # VACUUM replaying from a checkpoint see them (ADVICE r12)
        self.tombstones: dict[str, dict] = {}
        self.table_id = str(uuid.uuid5(uuid.NAMESPACE_URL, path))
        self.schema_string = schema_string or _SCHEMA_STRING
        self.partition_cols = list(partition_cols or [])

    def _ts(self) -> int:
        return 1700000000000 + (self.version + 1) * 60000

    def _meta_actions(self) -> list[dict]:
        return [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {
                "id": self.table_id,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": self.schema_string,
                "partitionColumns": self.partition_cols,
                "configuration": {},
                "createdTime": self._ts(),
            }},
        ]

    def commit(self, adds: list[dict], removes: list[str],
               data_change: bool = True,
               extra_actions: list[dict] | None = None) -> int:
        """``adds``: [{path(rel), size, numRecords}]; ``removes``:
        relative paths. Returns the new version. ``data_change=False``
        marks a rearrangement commit (OPTIMIZE): the file set changes
        but the logical content does not, so incremental scans skip
        it (protocol: dataChange=false actions MUST NOT be surfaced
        as changed data)."""
        ts = self._ts()
        if not data_change:
            op = "OPTIMIZE"
        else:
            op = "WRITE" if not removes else "MERGE"
        actions = [{"commitInfo": {"timestamp": ts, "operation": op}}]
        actions += list(extra_actions or [])
        if self.version < 0:
            actions += self._meta_actions()
        for a in adds:
            act = {
                "path": a["path"],
                # protocol: partition values are STRINGS keyed by the
                # real column name; null partitions carry null
                "partitionValues": a.get("partitionValues", {}),
                "size": a["size"],
                "modificationTime": ts,
                "dataChange": data_change,
                # per-file stats power data skipping; date/timestamp
                # bounds serialize as ISO strings (default=str)
                "stats": json.dumps(
                    {"numRecords": a["numRecords"],
                     **({"minValues": a["minValues"],
                         "maxValues": a["maxValues"]}
                        if "minValues" in a else {})},
                    default=str),
            }
            actions.append({"add": act})
            self.live[a["path"]] = act
            # a re-add supersedes any earlier tombstone for the path
            self.tombstones.pop(a["path"], None)
        for p in removes:
            self.live.pop(p)
            rm = {
                "path": p, "deletionTimestamp": ts,
                "dataChange": data_change,
            }
            self.tombstones[p] = rm
            actions.append({"remove": rm})
        self.version += 1
        return self._write_version(actions)

    def _write_version(self, actions: list[dict]) -> int:
        """Write ``actions`` as the JSON commit of ``self.version`` (one
        sorted-key action per line) via a tmp file and ``os.replace``,
        so a reader never sees a half-written commit. Returns the
        version."""
        fn = os.path.join(self.log_dir, f"{self.version:020d}.json")
        tmp = f"{fn}.tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            for act in actions:
                fh.write(json.dumps(act, sort_keys=True) + "\n")
        os.replace(tmp, fn)
        return self.version

    def _newest_txns(self) -> dict[str, dict]:
        """Newest txn action per appId in the latest state of the log
        on disk (``DeltaLogReader._state``: a checkpoint carries them,
        so a log truncated at one keeps its watermarks)."""
        rd = DeltaLogReader(self.path)
        return rd._state(rd.latest)[2]

    def checkpoint(self) -> None:
        """Materialize the current state as ``N.checkpoint.parquet``
        (one nullable-struct action per row) + ``_last_checkpoint``."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        kv = pa.map_(pa.string(), pa.string())
        t_protocol = pa.struct([
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
        ])
        t_meta = pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", kv),
            ("createdTime", pa.int64()),
        ])
        t_add = pa.struct([
            ("path", pa.string()),
            ("partitionValues", kv),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ])
        t_remove = pa.struct([
            ("path", pa.string()),
            ("deletionTimestamp", pa.int64()),
            ("dataChange", pa.bool_()),
        ])
        t_txn = pa.struct([
            ("appId", pa.string()),
            ("version", pa.int64()),
            ("lastUpdated", pa.int64()),
        ])
        base = {"protocol": None, "metaData": None, "add": None,
                "remove": None, "txn": None}
        rows: list[dict] = [
            {**base,
             "protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {**base,
             "metaData": {
                 "id": self.table_id,
                 "format": {"provider": "parquet"},
                 "schemaString": self.schema_string,
                 "partitionColumns": self.partition_cols,
                 "configuration": [],
                 "createdTime": self._ts(),
             }},
        ]
        # protocol: checkpoints must preserve the newest txn per app —
        # a checkpoint-truncating reader would otherwise lose the
        # idempotence watermarks
        for _, t in sorted(self._newest_txns().items()):
            rows.append({**base, "txn": t})
        for act in sorted(self.live.values(), key=lambda a: a["path"]):
            a = dict(act)
            a["partitionValues"] = sorted(
                (a.get("partitionValues") or {}).items()
            )
            rows.append({**base, "add": a})
        # un-expired remove tombstones (protocol: checkpoints MUST
        # carry them until retention expires, or an external reader /
        # VACUUM replaying from this checkpoint sees a tombstone-less,
        # protocol-divergent state). Default retention mirrors Delta's
        # deletedFileRetentionDuration (1 week) against the newest
        # commit timestamp.
        horizon = self._ts() - 7 * 24 * 3600 * 1000
        for rm in sorted(self.tombstones.values(),
                         key=lambda r: r["path"]):
            if rm["deletionTimestamp"] >= horizon:
                rows.append({**base, "remove": rm})
        table = pa.table({
            "protocol": pa.array([r["protocol"] for r in rows], t_protocol),
            "metaData": pa.array([r["metaData"] for r in rows], t_meta),
            "add": pa.array([r["add"] for r in rows], t_add),
            "remove": pa.array([r["remove"] for r in rows], t_remove),
            "txn": pa.array([r["txn"] for r in rows], t_txn),
        })
        cp = os.path.join(
            self.log_dir, f"{self.version:020d}.checkpoint.parquet"
        )
        pq.write_table(table, cp)
        last = os.path.join(self.log_dir, "_last_checkpoint")
        tmp = f"{last}.tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump({"version": self.version, "size": len(rows)}, fh)
        os.replace(tmp, last)


class DeltaLogReader:
    """Replays a ``_delta_log``. One replay (``_state``) defines a
    version's state: the newest checkpoint <= v, then the JSON commits
    after it, give the live files, the schema and the newest txn per
    appId. ``plan``/``read`` take the files, ``_table_meta`` the
    schema, and the writer's txn lookups the txns; ``changes`` and
    ``version_as_of`` walk JSON commits through the same action
    iterator.

    Protocol gate: the ``protocol`` action is PARSED, not skipped — a
    reader that ignores it will silently mis-read tables using reader
    features it does not implement (deletion vectors, column mapping,
    v2 checkpoints...). This reader supports ``minReaderVersion`` 1 and
    the empty reader-feature set; anything newer raises instead of
    returning wrong rows. Every action, from a commit or a checkpoint,
    passes ``_gate``."""

    _JSON_RE = re.compile(r"^(\d{20})\.json$")
    _CP_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")

    _MAX_READER_VERSION = 1

    @classmethod
    def _gate(cls, action: dict) -> None:
        """Refuse a protocol that needs a newer reader or any reader
        feature, and an add carrying a deletion vector (belt-and-braces:
        a DV requires reader v3, so the protocol gate should already
        have fired — never merge-on-read blindly)."""
        p = action.get("protocol")
        if p is not None:
            v = p.get("minReaderVersion", 1)
            if v > cls._MAX_READER_VERSION:
                raise ValueError(
                    f"unsupported Delta minReaderVersion {v} "
                    f"(supported: <= {cls._MAX_READER_VERSION}); refusing "
                    "to read rather than risk silent wrong results"
                )
            feats = p.get("readerFeatures") or []
            if feats:
                raise ValueError(
                    f"unsupported Delta readerFeatures {sorted(feats)}; "
                    "this reader implements none"
                )
        if (action.get("add") or {}).get("deletionVector"):
            raise ValueError("deletion vectors are not supported")

    def __init__(self, path: str):
        self.path = path
        self.log_dir = os.path.join(path, "_delta_log")
        self.commits: dict[int, str] = {}
        self.checkpoints: dict[int, str] = {}
        for fn in os.listdir(self.log_dir):
            m = self._JSON_RE.match(fn)
            if m:
                self.commits[int(m.group(1))] = os.path.join(
                    self.log_dir, fn)
            m = self._CP_RE.match(fn)
            if m:
                self.checkpoints[int(m.group(1))] = os.path.join(
                    self.log_dir, fn)
        if not self.commits and not self.checkpoints:
            raise FileNotFoundError(f"no commits under {self.log_dir}")
        self.latest = max(self.commits.keys() | self.checkpoints.keys())
        self.last_plan_stats: dict[str, int] = {}
        self._states: dict[int, tuple] = {}

    def _actions(self, versions, stats: dict):
        """``(version, action)`` for every action of the JSON commits
        ``versions``, in order, each through ``_gate``; counts
        ``stats["json_commits_read"]``. A missing commit is a torn (or
        vacuumed) log: ``FileNotFoundError``."""
        for v in versions:
            if v not in self.commits:
                raise FileNotFoundError(f"missing commit {v}")
            stats["json_commits_read"] += 1
            with open(self.commits[v]) as fh:
                for line in fh:
                    if line.strip():
                        act = json.loads(line)
                        self._gate(act)
                        yield v, act

    def _checkpoint_actions(self, path: str):
        """Every non-null struct of every checkpoint row as an action,
        each through ``_gate``. pyarrow returns maps as pair lists;
        ``partitionValues`` becomes the dict JSON commits carry. Read
        with ``ParquetFile``: ``pq.read_table`` would import
        ``pyarrow.dataset`` as well."""
        import pyarrow.parquet as pq

        for row in pq.ParquetFile(path).read().to_pylist():
            for kind, body in row.items():
                if body is None:
                    continue
                if isinstance(body.get("partitionValues"), list):
                    body["partitionValues"] = dict(body["partitionValues"])
                act = {kind: body}
                self._gate(act)
                yield act

    def _state(self, version: int) -> tuple[dict, dict | None, dict, dict]:
        """``(adds, metaData, txns, stats)`` at ``version``: ``adds``
        maps each live relative path to its add action, ``txns`` each
        appId to its newest txn action, and ``stats`` counts the log
        files the replay opened. Cached per version: the log was listed
        once, so a version's state never changes. Callers copy before
        they mutate."""
        state = self._states.get(version)
        if state is None:
            cp = max((c for c in self.checkpoints if c <= version),
                     default=-1)
            stats = {"checkpoint_used": int(cp >= 0),
                     "json_commits_read": 0}
            base = (self._checkpoint_actions(self.checkpoints[cp])
                    if cp >= 0 else ())
            commits = self._actions(range(cp + 1, version + 1), stats)
            adds: dict[str, dict] = {}
            meta = None
            txns: dict[str, dict] = {}
            for act in itertools.chain(base, (a for _, a in commits)):
                if "add" in act:
                    adds[act["add"]["path"]] = act["add"]
                elif "remove" in act:
                    adds.pop(act["remove"]["path"], None)
                elif "metaData" in act:
                    meta = act["metaData"]
                elif "txn" in act:
                    txns[act["txn"]["appId"]] = act["txn"]
            state = self._states[version] = (adds, meta, txns, stats)
        return state

    def plan(self, version: int | None = None,
             part_filter: dict | None = None,
             range_filter: dict | None = None) -> dict:
        """Live file set at ``version`` (default latest):
        {rel_path: add_action}, a copy the caller may change.
        ``last_plan_stats`` counts the log files the version's replay
        opened.

        ``part_filter`` ({col: str|None}) keeps only files whose
        logged ``partitionValues`` match — the Delta twin of
        ``IcebergReader.plan``'s pruning, operating purely on
        driver-side log state (no data file is opened to decide).
        Values compare as the protocol's string serialization; None
        matches the null partition. Unknown keys raise ``KeyError``
        (same fail-closed contract as the Iceberg reader: a typo'd
        key must never silently return the full table).

        ``range_filter`` ({col: (lo, hi)}, either bound None for
        unbounded) is DATA SKIPPING over the per-file min/max recorded
        in each add action's ``stats`` JSON, by ``datafiles.may_match``
        (missing or uncomparable stats keep the file — skipping is a
        plan optimization, never a row filter; the caller still
        applies the exact predicate). Unknown columns raise."""
        v = self.latest if version is None else version
        if v not in self.commits and v not in self.checkpoints:
            raise KeyError(f"version {v} not in the log")
        # validate filter keys against the metadata AS OF the planned
        # version: a column added by later schema evolution must not
        # pass validation for a time-travel read of a version where it
        # cannot exist (it would silently keep every file instead of
        # raising like any other unknown key)
        if part_filter:
            known = set(self._table_meta(v)[1])
            unknown = sorted(set(part_filter) - known)
            if unknown:
                raise KeyError(
                    f"unknown partition filter keys {unknown}; table "
                    f"partitionColumns are {sorted(known)}"
                )
            # values compare against the log's STRING serialization;
            # a typed value (int month vs '3') would match nothing —
            # fail loud, same contract as the unknown-key gate
            bad = sorted(c for c, v in part_filter.items()
                         if v is not None and not isinstance(v, str))
            if bad:
                raise TypeError(
                    f"part_filter values must be the protocol's "
                    f"string serialization (or None for the null "
                    f"partition); got non-string values for {bad}"
                )
        if range_filter:
            fields, pcols = self._table_meta(v)
            known = {f["name"] for f in fields} - set(pcols)
            unknown = sorted(set(range_filter) - known)
            if unknown:
                raise KeyError(
                    f"unknown data-skipping columns {unknown}; "
                    f"stats-bearing columns are {sorted(known)} "
                    "(partition columns prune via part_filter)"
                )
        adds, _, _, replay = self._state(v)
        stats = dict(replay)
        state = dict(adds)
        if part_filter:
            state = {
                p: a for p, a in state.items()
                if all(
                    (a.get("partitionValues") or {}).get(c) == w
                    for c, w in part_filter.items()
                )
            }
        if range_filter:
            state = {
                p: a for p, a in state.items()
                if datafiles.may_match(*self._bounds(a), range_filter)
            }
        if part_filter or range_filter:
            stats["files_skipped"] = len(adds) - len(state)
        stats["files_read"] = len(state)
        self.last_plan_stats = stats
        return state

    @staticmethod
    def _bounds(add: dict) -> tuple[dict, dict]:
        """(minValues, maxValues) from an add action's ``stats`` JSON;
        absent or unparseable stats give no bounds."""
        raw = add.get("stats")
        try:
            st = (json.loads(raw) if isinstance(raw, str) else raw) or {}
        except ValueError:
            st = {}
        return st.get("minValues") or {}, st.get("maxValues") or {}

    def _table_meta(self, version: int | None = None
                    ) -> tuple[list[dict], list[str]]:
        """(schema fields, partitionColumns) from the metaData of the
        state AS OF ``version`` (None = latest). Version-aware on
        purpose — after a schema evolution, time travel must read with
        the schema that version actually had."""
        meta = self._state(self.latest if version is None else version)[1]
        if meta is None:
            raise ValueError("no metaData action in the log")
        fields = json.loads(meta["schemaString"])["fields"]
        return fields, list(meta.get("partitionColumns") or [])

    def read(self, spark, version: int | None = None,
             part_filter: dict | None = None,
             range_filter: dict | None = None):
        """Distributed scan over the planned live files. Partitioned
        tables (protocol: ``partitionBy`` data files do NOT store the
        partition columns) re-inject each column as a literal cast to
        its schema type, grouping files by partition tuple — exactly
        how Delta readers materialize partition values from the log
        instead of the footers. Output columns follow schema order for
        every layout."""
        state = self.plan(version, part_filter, range_filter)
        return self._read_adds(spark, state, version)

    def _read_adds(self, spark, state: dict,
                   version: int | None = None):
        """Scan an {rel_path: add_action} set with partition-column
        re-injection (shared by ``read`` and ``changes``). The scan
        is pinned to the version's schema (``spark.read.schema``), so
        files written BEFORE an additive schema evolution NULL-fill
        the added columns — name-based resolution, exactly what a
        minReaderVersion-1 Delta table supports (renames/drops need
        the columnMapping reader feature, which the protocol gate
        refuses)."""
        from pyspark.sql.types import StructType

        fields, pcols = self._table_meta(version)
        st = StructType.fromJson({"type": "struct", "fields": fields})
        if not state:
            return spark.createDataFrame([], st)
        if not pcols:
            paths = [os.path.join(self.path, p) for p in sorted(state)]
            return spark.read.schema(st).parquet(*paths)
        types = {f["name"]: f["type"] for f in fields}
        file_schema = StructType.fromJson({
            "type": "struct",
            "fields": [f for f in fields if f["name"] not in pcols],
        })
        groups: dict[tuple, list[str]] = {}
        for rel, a in sorted(state.items()):
            pv = a.get("partitionValues") or {}
            key = tuple(pv.get(c) for c in pcols)
            groups.setdefault(key, []).append(
                os.path.join(self.path, rel))
        parts = []
        for key, paths in groups.items():
            df = spark.read.schema(file_schema).parquet(*paths)
            for c, v in zip(pcols, key):
                df = df.withColumn(c, F.lit(v).cast(types[c]))
            parts.append(df.select(*[f["name"] for f in fields]))
        out = parts[0]
        for df in parts[1:]:
            out = out.unionByName(df)
        return out

    def changes(self, spark, from_version: int,
                to_version: int | None = None):
        """Incremental APPEND scan over (from, to] — the Delta twin of
        ``IcebergReader.changes``: replay ONLY the window's JSON
        commits (never a checkpoint, never pre-window history) and
        scan exactly the files they added. A ``dataChange`` remove in
        the window raises — a delete/overwrite cannot be expressed as
        an append diff (the same fail-closed contract as Spark's
        incremental scans); protocol upgrades in the window still
        gate. Cost: planning ∝ window commits (driver KB), scan ∝
        changed files only."""
        v1 = self.latest if to_version is None else to_version
        for v in (from_version, v1):
            if v not in self.commits and v not in self.checkpoints:
                raise KeyError(f"version {v} not in the log")
        if v1 < from_version:
            raise ValueError(
                f"to-version {v1} predates from-version {from_version}"
            )
        stats = {"checkpoint_used": 0, "json_commits_read": 0}
        added: dict[str, dict] = {}
        for i, act in self._actions(range(from_version + 1, v1 + 1), stats):
            if "add" in act:
                # dataChange=false adds are OPTIMIZE output: rearranged
                # copies of rows that were already live, never new
                # data. The window's original dataChange adds stay
                # scannable on disk (no vacuum here), so skipping the
                # copies keeps the diff exact even when a compaction
                # lands mid-window.
                if act["add"].get("dataChange", True):
                    added[act["add"]["path"]] = act["add"]
            elif "remove" in act and act["remove"].get("dataChange", True):
                raise ValueError(
                    f"commit {i} removes data ({act['remove']['path']!r})"
                    " — an incremental append scan cannot express "
                    "deletes/overwrites"
                )
        stats["files_read"] = len(added)
        self.last_plan_stats = stats
        # schema: None `to` reads with the current schema (mirrors
        # read()); an explicit `to` uses that version's schema
        return self._read_adds(spark, added, to_version)


# ---------------------------------------------------------------------------
# graded key
# ---------------------------------------------------------------------------


def build_delta_fixture(spark, sf_dir: str, table_path: str) -> str:
    """v0: add a1 (even keys, %3<>0) + a2 (odd keys, %3<>0);
    v1: add b (%3==0), REMOVE a1, then checkpoint;
    v2: add c (%50==0 re-inserted rows — duplicates, multiset
    semantics, same shape as the Iceberg fixture's C)."""
    import shutil

    shutil.rmtree(table_path, ignore_errors=True)
    os.makedirs(table_path, exist_ok=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )

    def write_slice(pred, tag) -> dict:
        d = os.path.join(table_path, f"_stage_{tag}")
        f = datafiles.write(orders.filter(pred).coalesce(1)
                            .sortWithinPartitions("o_orderkey"), d)[0]
        rel = f"{tag}.parquet"
        os.replace(f["path"], os.path.join(table_path, rel))
        shutil.rmtree(d)
        return {"path": rel, "size": f["size"], "numRecords": f["rows"]}

    k = F.col("o_orderkey")
    a1 = write_slice((k % 3 != 0) & (k % 2 == 0), "a1")
    a2 = write_slice((k % 3 != 0) & (k % 2 == 1), "a2")
    b = write_slice(k % 3 == 0, "b")
    c = write_slice(k % 50 == 0, "c")
    fx = DeltaLogFixture(table_path)
    fx.commit([a1, a2], [])
    fx.commit([b], [a1["path"]])
    fx.checkpoint()
    fx.commit([c], [])
    return table_path


@query(
    "scan_delta_log",
    oracle="""
    SELECT 0 AS version, CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders WHERE o_orderkey % 3 <> 0
    UNION ALL
    SELECT 1, CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2)
    FROM orders
    WHERE (o_orderkey % 3 <> 0 AND o_orderkey % 2 = 1)
       OR o_orderkey % 3 = 0
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2) FROM (
      SELECT o_totalprice FROM orders
      WHERE (o_orderkey % 3 <> 0 AND o_orderkey % 2 = 1)
         OR o_orderkey % 3 = 0
      UNION ALL
      SELECT o_totalprice FROM orders WHERE o_orderkey % 50 = 0
    )
    """,
)
def scan_delta_log(spark, sf_dir):
    """Standard-format transaction-log read: build a protocol-shaped
    Delta table (JSON commits, a remove action, a checkpoint parquet +
    ``_last_checkpoint``) and read versions 0, 1 and latest back by
    replaying the log — checkpointed replay, add/remove semantics and
    time travel all hash-checked against a plain-scan oracle. The
    sibling pytest pins that the latest read starts from the
    checkpoint and opens only the post-checkpoint commit."""
    table = build_delta_fixture(
        spark, sf_dir, os.path.join(SCRATCH, "delta_orders")
    )
    rd = DeltaLogReader(table)

    def agg(df, v):
        return df.agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        ).select(F.lit(v).alias("version"), "n_orders", "revenue")

    return (
        agg(rd.read(spark, 0), 0)
        .unionAll(agg(rd.read(spark, 1), 1))
        .unionAll(agg(rd.read(spark), 2))
    )


# ---------------------------------------------------------------------------
# write path: DataFrame-level commits (r11)
# ---------------------------------------------------------------------------


class DeltaTable(DeltaLogFixture):
    """DataFrame-level writer over the protocol-shaped log — the real
    Delta commit split: executors write the parquet data files
    (distributed), the driver appends one JSON commit (or a checkpoint)
    with the add/remove actions. ``DeltaLogReader`` (or any protocol
    reader) replays the result.

    Files land under ``s{N}/`` subdirectories with RELATIVE paths in
    the log, per the protocol; per-file stats (``numRecords``,
    ``minValues``/``maxValues``) and partition values come from
    ``datafiles.write`` (its bounds and empty-string partition rules
    apply). ``overwrite`` is a
    metadata-only commit: adds the new file set, removes every live
    path, rewrites no surviving data."""

    @classmethod
    def create(cls, spark, path: str, df, overwrite: bool = False,
               partition_by: list[str] | None = None) -> "DeltaTable":
        import shutil

        if overwrite:
            shutil.rmtree(path, ignore_errors=True)
        tbl = cls(path, schema_string=df.schema.json(),
                  partition_cols=partition_by)
        tbl.append(spark, df)
        return tbl

    def _add_action(self, f: dict, partition: dict) -> dict:
        """The ``commit`` add record of one ``datafiles.write`` record
        in ``partition``. Parquet gives binary bounds as bytes; the
        log's JSON stats carry them as text, and a column whose bounds
        are not UTF-8 is dropped (absent stats keep the file)."""
        mins, maxs = dict(f["mins"]), dict(f["maxs"])
        for name in list(mins):
            if isinstance(mins[name], bytes):
                try:
                    mins[name] = mins[name].decode()
                    maxs[name] = maxs[name].decode()
                except UnicodeDecodeError:
                    del mins[name], maxs[name]
        add = {
            "path": os.path.relpath(f["path"], self.path),
            "size": f["size"],
            "numRecords": f["rows"],
            "minValues": mins,
            "maxValues": maxs,
        }
        if self.partition_cols:
            add["partitionValues"] = partition
        return add

    def _stage(self, spark, df) -> list[dict]:
        stage = os.path.join(self.path, f"s{self.version + 1:04d}")
        return [self._add_action(f, f["partition"])
                for f in datafiles.write(df, stage, self.partition_cols)]

    def append(self, spark, df) -> int:
        return self.commit(self._stage(spark, df), [])

    def overwrite_with(self, spark, df) -> int:
        old = list(self.live)
        return self.commit(self._stage(spark, df), old)

    def append_txn(self, spark, df, app_id: str,
                   txn_version: int) -> int | None:
        """Idempotent append — the protocol's ``txn`` action, the
        mechanism streaming sinks use for exactly-once: the commit
        carries {appId, version}, and a retry whose txn version is <=
        the app's highest recorded version is a NO-OP (returns None,
        writes nothing — not even stage files). The version must
        advance monotonically per app; readers replaying the log see
        each micro-batch exactly once no matter how many times the
        writer crashed and retried."""
        latest = self.latest_txn_version(app_id)
        if latest is not None and txn_version <= latest:
            return None
        adds = self._stage(spark, df)
        # the txn action rides IN the data commit (one atomic
        # os.replace) — a crash before it leaves no trace, a crash
        # after it leaves the txn recorded, so the retry either
        # re-runs cleanly or no-ops; never a duplicate
        return self.commit(adds, [], extra_actions=[{"txn": {
            "appId": app_id, "version": txn_version,
            "lastUpdated": self._ts(),
        }}])

    def latest_txn_version(self, app_id: str) -> int | None:
        """Highest txn version this app has committed, from the
        latest state of the log (the checkpoint's txn rows, then the
        JSON commits after it — Delta's txnVersion(appId)). None if
        the app never committed."""
        t = self._newest_txns().get(app_id)
        return None if t is None else t["version"]

    def log_versions(self) -> list[int]:
        """Versions with a JSON commit on disk."""
        return sorted(DeltaLogReader(self.path).commits)

    def add_column(self, name: str, col_type: str) -> int:
        """Additive schema evolution: commit a new schemaString in a
        metaData-only commit (what ALTER TABLE ADD COLUMNS writes —
        no data file is touched; existing files NULL-fill the column
        on read by name resolution). Non-additive changes
        (rename/drop) need the columnMapping reader feature this
        implementation deliberately refuses, so only adds exist
        here. Returns the new version."""
        schema = json.loads(self.schema_string)
        if any(f["name"] == name for f in schema["fields"]):
            raise ValueError(f"column {name!r} already exists")
        schema["fields"].append({
            "name": name, "type": col_type, "nullable": True,
            "metadata": {},
        })
        self.schema_string = json.dumps(schema)
        self.version += 1
        ts = self._ts()
        actions = [
            {"commitInfo": {"timestamp": ts,
                            "operation": "ADD COLUMNS"}},
            self._meta_actions()[1],  # metaData only: protocol unchanged
        ]
        return self._write_version(actions)

    def optimize(self, spark, min_files: int = 2) -> int | None:
        """OPTIMIZE (bin-packing compaction): rewrite every partition
        holding >= ``min_files`` live files into one file and commit
        the swap with ``dataChange=false`` — the logical content is
        untouched, so incremental scans skip the commit entirely while
        plain reads and time travel see the new layout. Partitions
        already compact are left alone (at 100 TB only the small-file
        tail is rewritten, never the table). Returns the new version,
        or None when nothing needed compacting."""
        from pyspark.sql.types import StructType
        from pyspark.util import inheritable_thread_target

        # Pin the CURRENT table schema on the compaction read (ADVICE
        # r12, medium): a partition mixing files written before and
        # after add_column() would otherwise take its schema from one
        # footer — when inference picks a pre-evolution file, the
        # evolved column's values are silently dropped from the
        # compacted output inside a dataChange=false commit. Partition
        # columns are excluded exactly as _read_adds does (they are
        # not stored in the data files).
        file_schema = StructType.fromJson({
            "type": "struct",
            "fields": [
                f for f in json.loads(self.schema_string)["fields"]
                if f["name"] not in (self.partition_cols or [])
            ],
        })
        groups: dict[tuple, list[str]] = {}
        for rel, a in sorted(self.live.items()):
            pv = a.get("partitionValues") or {}
            key = tuple(pv.get(c) for c in self.partition_cols)
            groups.setdefault(key, []).append(rel)
        sub = f"s{self.version + 1:04d}"
        todo = [
            (i, key, rels)
            for i, (key, rels) in enumerate(sorted(
                groups.items(), key=lambda kv: repr(kv)))
            if len(rels) >= min_files
        ]
        if not todo:
            return None

        # each partition's rewrite targets its own staging dir and the
        # commit happens once afterwards, so the compaction jobs are
        # independent — overlap them (guide §2.6) instead of paying
        # each single-file write's latency in sequence; the pool
        # threads take the caller's job group
        @inheritable_thread_target(spark)
        def compact_one(item):
            i, key, rels = item
            stage = os.path.join(self.path, sub, f"g{i:04d}")
            f = datafiles.write(spark.read.schema(file_schema).parquet(
                *[os.path.join(self.path, r) for r in rels]).coalesce(1),
                stage)[0]
            part = dict(zip(self.partition_cols, key))
            return self._add_action(f, part), rels

        from concurrent.futures import ThreadPoolExecutor

        adds, removes = [], []
        with ThreadPoolExecutor(max_workers=min(4, len(todo))) as pool:
            for add, rels in pool.map(compact_one, todo):
                adds.append(add)
                removes.extend(rels)
        return self.commit(adds, removes, data_change=False)

    def vacuum(self, retain_versions: int = 2,
               dry_run: bool = False) -> list[str]:
        """Physically delete data files no RETAINED version references
        — tombstoned files past the retention window plus write-stage
        orphans (``_SUCCESS`` markers, crash leftovers). The newest
        ``retain_versions`` versions stay fully time-travelable;
        older versions keep their metadata but their reads fail once
        their files are gone (exactly Delta VACUUM's trade). The log
        itself is never touched. Returns the deleted relative paths
        (``dry_run`` only reports).

        Scale: referenced-set construction is log replay (driver KB);
        the listing walk is one pass over the table tree — the same
        cost every VACUUM implementation pays."""
        if retain_versions < 1:
            raise ValueError("retain_versions must be >= 1")
        rd = DeltaLogReader(self.path)
        lo = max(0, rd.latest - retain_versions + 1)
        referenced: set[str] = set()
        for v in range(lo, rd.latest + 1):
            referenced.update(rd.plan(v))
        doomed = []
        for root, dirs, files in os.walk(self.path):
            if os.path.basename(root) == "_delta_log":
                dirs[:] = []
                continue
            for fn in files:
                rel = os.path.relpath(os.path.join(root, fn), self.path)
                if rel not in referenced and not rel.startswith(
                        "_delta_log"):
                    doomed.append(rel)
        if not dry_run:
            for rel in doomed:
                os.remove(os.path.join(self.path, rel))
            for root, dirs, files in os.walk(self.path, topdown=False):
                if "_delta_log" in root:
                    continue
                if not os.listdir(root) and root != self.path:
                    os.rmdir(root)
        return sorted(doomed)


@query(
    "sink_delta_append",
    oracle="""
    SELECT CAST(0 AS INT) AS version, CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders WHERE o_orderkey % 3 <> 0
    UNION ALL
    SELECT 1, CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2)
    FROM orders
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2)
    FROM orders WHERE o_orderkey % 7 = 0
    """,
)
def sink_delta_append(spark, sf_dir):
    """WRITE-path interop twin of `scan_delta_log`: create a Delta
    table from a DataFrame, append a second commit, checkpoint, then
    OVERWRITE with a small slice (metadata-only: adds + removes in one
    commit, no surviving file rewritten). All three versions read back
    through ``DeltaLogReader`` replay and hash-check against plain-scan
    oracles; the checkpoint ensures the overwrite replay starts from
    parquet state, exercising checkpoint + post-checkpoint-commit
    composition on a WRITTEN table, not just the fixture."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    path = os.path.join(SCRATCH, "delta_sink")
    tbl = DeltaTable.create(
        spark, path, orders.filter(F.col("o_orderkey") % 3 != 0),
        overwrite=True,
    )
    tbl.append(spark, orders.filter(F.col("o_orderkey") % 3 == 0))
    tbl.checkpoint()
    tbl.overwrite_with(spark, orders.filter(F.col("o_orderkey") % 7 == 0))
    rd = DeltaLogReader(path)

    def agg(df, v):
        return df.agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        ).select(F.lit(v).alias("version"), "n_orders", "revenue")

    return (
        agg(rd.read(spark, 0), 0)
        .unionAll(agg(rd.read(spark, 1), 1))
        .unionAll(agg(rd.read(spark), 2))
    )


@query(
    "sink_delta_partitioned",
    oracle="""
    SELECT 'full' AS scope, NULLIF(o_orderstatus, 'P') AS status_part,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders GROUP BY NULLIF(o_orderstatus, 'P')
    UNION ALL
    SELECT 'pruned_F', 'F', CAST(COUNT(*) AS BIGINT),
           ROUND(SUM(o_totalprice), 2)
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def sink_delta_partitioned(spark, sf_dir):
    """Partitioned Delta WRITE + READ round-trip: ``partitionBy`` a
    derived status column ('P' → NULL so the null partition /
    ``__HIVE_DEFAULT_PARTITION__`` path is exercised, not just
    declared), then read back (a) the FULL table — partition values
    re-materialized from the log, since partitioned data files do not
    store the column — grouped per partition, and (b) a PRUNED read
    via ``part_filter`` that plans only the matching files. Both legs
    hash-check against plain-scan oracles; the sibling pytest pins
    ``files_skipped`` > 0 and the unknown-key ``KeyError`` gate."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    ).withColumn(
        "status_part",
        F.when(F.col("o_orderstatus") == "P", F.lit(None))
         .otherwise(F.col("o_orderstatus")),
    )
    path = os.path.join(SCRATCH, "delta_part_sink")
    DeltaTable.create(spark, path, orders, overwrite=True,
                      partition_by=["status_part"])
    rd = DeltaLogReader(path)
    full = (
        rd.read(spark)
        .groupBy("status_part")
        .agg(F.count("*").alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .select(F.lit("full").alias("scope"), "status_part",
                "n_orders", "revenue")
    )
    pruned = (
        rd.read(spark, part_filter={"status_part": "F"})
        .agg(F.count("*").alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .select(F.lit("pruned_F").alias("scope"),
                F.lit("F").alias("status_part"), "n_orders", "revenue")
    )
    return full.unionAll(pruned)


@query(
    "scan_delta_changes",
    oracle="""
    SELECT CAST(12 AS INT) AS window, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders WHERE o_orderkey % 3 = 1
    UNION ALL
    SELECT 23, CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           ROUND(SUM(o_totalprice), 2)
    FROM orders WHERE o_orderkey % 3 = 2
    UNION ALL
    SELECT 13, CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           ROUND(SUM(o_totalprice), 2)
    FROM orders WHERE o_orderkey % 3 IN (1, 2)
    """,
)
def scan_delta_changes(spark, sf_dir):
    """Incremental append scan between Delta versions — the Delta twin
    of ``scan_iceberg_changes``: three appends split orders by
    ``o_orderkey % 3`` into a PARTITIONED table (by o_orderstatus, so
    every window read must re-materialize the partition column from
    the log — ``n_status`` pins that); each (from, to] window replays
    only its own JSON commits and scans exactly the files they added.
    The pytest pins that a window containing an overwrite raises and
    that planning never touches a checkpoint."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    path = os.path.join(SCRATCH, "delta_changes")
    tbl = DeltaTable.create(spark, path, orders.filter(k % 3 == 0),
                            overwrite=True,
                            partition_by=["o_orderstatus"])
    tbl.append(spark, orders.filter(k % 3 == 1))
    tbl.append(spark, orders.filter(k % 3 == 2))
    rd = DeltaLogReader(path)

    def agg(df, w):
        return df.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("o_orderstatus").alias("n_status"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        ).select(F.lit(w).alias("window"), "n_rows", "n_status",
                 "revenue")

    return (
        agg(rd.changes(spark, 0, 1), 12)
        .unionAll(agg(rd.changes(spark, 1, 2), 23))
        .unionAll(agg(rd.changes(spark, 0), 13))
    )


@query(
    "sink_delta_optimize",
    oracle="""
    SELECT 'post_optimize' AS leg, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT 'changes_skip_opt', 'ALL',
           CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2)
    FROM (
      SELECT o_totalprice FROM orders WHERE o_orderkey % 3 = 2
      UNION ALL
      SELECT o_totalprice FROM orders WHERE o_orderkey % 50 = 0
    )
    """,
)
def sink_delta_optimize(spark, sf_dir):
    """OPTIMIZE compaction with ``dataChange=false`` semantics: three
    appends leave every status partition with multiple small files;
    ``optimize`` rewrites each partition to ONE file in a single
    rearrangement commit. Leg 1 reads the post-optimize version in
    full — identical content, new layout (the in-key assert pins one
    live file per partition, so a compaction regression fails the
    run, not just a pytest). Leg 2 runs ``changes`` over a window that
    CONTAINS the optimize plus a real append on each side — the diff
    must surface only the appended rows, never the rearranged copies
    (the protocol's dataChange contract)."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    path = os.path.join(SCRATCH, "delta_optimize")
    tbl = DeltaTable.create(spark, path, orders.filter(k % 3 == 0),
                            overwrite=True,
                            partition_by=["o_orderstatus"])
    tbl.append(spark, orders.filter(k % 3 == 1))          # v1
    tbl.append(spark, orders.filter(k % 3 == 2))          # v2
    n_before = len(tbl.live)
    v_opt = tbl.optimize(spark)                           # v3
    assert v_opt == 3 and len(tbl.live) == 3 < n_before, \
        "optimize must leave exactly one live file per partition"
    tbl.append(spark, orders.filter(k % 50 == 0))         # v4
    rd = DeltaLogReader(path)
    full = (
        rd.read(spark, v_opt)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_rows"),
             F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .select(F.lit("post_optimize").alias("leg"), "o_orderstatus",
                "n_rows", "revenue")
    )
    diff = (
        rd.changes(spark, 1)  # (1, 4]: v2 append + OPTIMIZE + v4 append
        .agg(F.count("*").alias("n_rows"),
             F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .select(F.lit("changes_skip_opt").alias("leg"),
                F.lit("ALL").alias("o_orderstatus"), "n_rows", "revenue")
    )
    return full.unionAll(diff)


@query(
    "scan_delta_skipping",
    oracle="""
    SELECT 'key_range' AS leg, CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders WHERE o_orderkey BETWEEN 1000 AND 5000
    UNION ALL
    SELECT 'price_range', CAST(COUNT(*) AS BIGINT),
           ROUND(SUM(o_totalprice), 2)
    FROM orders WHERE o_totalprice BETWEEN 100000 AND 200000
    """,
)
def scan_delta_skipping(spark, sf_dir):
    """Stats-based data skipping: the writer records per-file
    min/max from the parquet footers in each add action's ``stats``
    JSON; a range-clustered table (``repartitionByRange`` on
    o_orderkey → near-disjoint per-file key ranges) then serves a key
    window by opening only the overlapping files — the in-key assert
    pins ``files_skipped`` ≥ 1, so a skipping regression fails the
    run. The second leg filters on the UNclustered price column,
    where bounds overlap everywhere: skipping is fail-open, so the
    answer stays exact and only the speedup disappears. Both legs
    re-apply the exact predicate after pruning (skipping is a plan
    optimization, never a row filter)."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = os.path.join(SCRATCH, "delta_skipping")
    DeltaTable.create(
        spark, path, orders.repartitionByRange(8, "o_orderkey"),
        overwrite=True,
    )
    rd = DeltaLogReader(path)

    def agg(df, leg):
        return df.agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        ).select(F.lit(leg).alias("leg"), "n_rows", "revenue")

    k = F.col("o_orderkey")
    keyed = rd.read(spark, range_filter={"o_orderkey": (1000, 5000)})
    assert rd.last_plan_stats["files_skipped"] >= 1, \
        "range-clustered key window must skip at least one file"
    leg1 = agg(keyed.where(k.between(1000, 5000)), "key_range")
    p = F.col("o_totalprice")
    priced = rd.read(
        spark, range_filter={"o_totalprice": (100000.0, 200000.0)})
    leg2 = agg(priced.where(p.between(100000.0, 200000.0)),
               "price_range")
    return leg1.unionAll(leg2)


@query(
    "sink_delta_vacuum",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders WHERE o_orderkey % 7 = 0
    """,
)
def sink_delta_vacuum(spark, sf_dir):
    """VACUUM: after an overwrite tombstones the first two versions'
    files, physical cleanup deletes everything outside the retention
    window (plus write-stage orphans like ``_SUCCESS``) while the
    retained head stays byte-identical — the hash leg reads the
    post-vacuum table against a plain-scan oracle. In-key asserts pin
    that data files actually left the disk and that the live set
    survived untouched; the sibling pytest pins the flip side (an
    expired version's read now fails, dry_run deletes nothing)."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    k = F.col("o_orderkey")
    path = os.path.join(SCRATCH, "delta_vacuum")
    tbl = DeltaTable.create(spark, path, orders.filter(k % 3 != 0),
                            overwrite=True)
    tbl.append(spark, orders.filter(k % 3 == 0))
    tbl.overwrite_with(spark, orders.filter(k % 7 == 0))
    deleted = tbl.vacuum(retain_versions=1)
    assert any(p.endswith(".parquet") for p in deleted), \
        "vacuum must delete the tombstoned versions' data files"
    assert not any(p in tbl.live for p in deleted), \
        "vacuum must never touch the retained live set"
    return DeltaLogReader(path).read(spark).agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@query(
    "scan_delta_schema_evolution",
    oracle="""
    SELECT 'v0' AS leg, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(-1 AS BIGINT) AS n_status,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT 'latest', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(CASE WHEN o_orderkey % 2 = 1 THEN 1 END)
                AS BIGINT),
           ROUND(SUM(o_totalprice), 2)
    FROM orders
    """,
)
def scan_delta_schema_evolution(spark, sf_dir):
    """Additive schema evolution — the Delta twin of
    ``scan_iceberg_schema_evolution``: v0 writes a 2-column table,
    ``add_column`` commits a metaData-only schema change (no data file
    touched), v2 appends 3-column files. The latest read pins the scan
    to the evolved schema, so v0's files NULL-fill the added column
    (``n_status`` counts non-null values = only the post-evolution
    rows — hash-pinned); time travel to v0 reads with v0's OWN schema
    (the in-key assert pins the added column is absent there, so a
    version-blind metaData lookup fails the run)."""
    orders = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    path = os.path.join(SCRATCH, "delta_evolution")
    tbl = DeltaTable.create(
        spark, path,
        orders.select("o_orderkey", "o_totalprice").filter(k % 2 == 0),
        overwrite=True,
    )
    tbl.add_column("o_orderstatus", "string")
    tbl.append(spark, orders.select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    ).filter(k % 2 == 1))
    rd = DeltaLogReader(path)
    v0 = rd.read(spark, 0)
    assert "o_orderstatus" not in v0.columns, \
        "time travel must use the version's own schema"
    leg0 = v0.agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    ).select(F.lit("v0").alias("leg"), "n_rows",
             F.lit(-1).cast("long").alias("n_status"), "revenue")
    leg1 = rd.read(spark).agg(
        F.count("*").alias("n_rows"),
        F.count("o_orderstatus").alias("n_status"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    ).select(F.lit("latest").alias("leg"), "n_rows", "n_status",
             "revenue")
    return leg0.unionAll(leg1)


@query(
    "sink_delta_txn",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM (
      SELECT o_totalprice FROM orders
      UNION ALL
      SELECT o_totalprice FROM orders WHERE o_orderkey % 50 = 0
    )
    """,
)
def sink_delta_txn(spark, sf_dir):
    """Idempotent streaming-sink commits (the protocol's ``txn``
    action): micro-batch 1 appends under (appId, version 1); the
    RETRY of the same batch — what an exactly-once sink replays after
    a crash — is a committed-nothing no-op (in-key assert pins it
    returned None AND the log grew by zero commits); batch 2 under
    version 2 lands normally. The hash leg proves the table holds each
    batch exactly once: all orders plus one copy of the %50 slice,
    never two."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    k = F.col("o_orderkey")
    path = os.path.join(SCRATCH, "delta_txn")
    tbl = DeltaTable.create(spark, path,
                            orders.filter(k % 2 == 0), overwrite=True)
    tbl.append_txn(spark, orders.filter(k % 2 == 1), "loader", 1)
    n_commits = len(tbl.log_versions())
    retry = tbl.append_txn(spark, orders.filter(k % 2 == 1),
                           "loader", 1)
    assert retry is None and len(tbl.log_versions()) == n_commits, \
        "a replayed txn version must commit nothing"
    tbl.append_txn(spark, orders.filter(k % 50 == 0), "loader", 2)
    return DeltaLogReader(path).read(spark).agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


def version_as_of(reader: DeltaLogReader, ts_ms: int) -> int:
    """``TIMESTAMP AS OF``: latest version whose commitInfo timestamp
    is <= ts_ms. Commit timestamps come from the commitInfo action of
    each JSON commit (driver-side KB-scale scan of the log, the same
    walk Delta's own history() does). Raises if the table is younger
    than ts."""
    best = None
    for v, act in reader._actions(sorted(reader.commits),
                                  {"json_commits_read": 0}):
        ts = act.get("commitInfo", {}).get("timestamp")
        if ts is not None and ts <= ts_ms:
            best = v
    if best is None:
        raise ValueError(
            f"no commit at or before {ts_ms} (table created later)"
        )
    return best

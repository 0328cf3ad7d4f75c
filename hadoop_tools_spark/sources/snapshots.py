"""Manifest-based snapshot table: atomic commits + time travel.

A minimal lakehouse table format in the spirit of public designs
(Delta Lake / Iceberg): data lives in immutable parquet files; each
commit writes a JSON manifest ``_manifests/v{N}.json`` listing exactly
the files visible at that version. Readers resolve a version's
manifest and read ONLY its files — so:

- **time travel**: ``read(spark, path, version=3)`` reproduces any
  historic snapshot bit-for-bit;
- **atomicity**: a crashed write leaves orphan parquet files but no
  manifest, so readers never see partial commits;
- **isolation**: writers stage data files first and publish the
  manifest last (rename-as-commit on HDFS/object stores with
  put-if-absent).

At 100 TB the manifest holds file names + row counts only (KB per
thousand files); data files are never rewritten on append, and
``overwrite`` is a metadata-only operation that publishes a manifest
referencing the new file set — old versions stay readable until a
retention sweep.

The `snapshot_timetravel` key commits two versions of a deterministic
orders subset and reads BOTH snapshots back; the oracle recomputes
each version's aggregate straight from the orders table, proving the
snapshot isolation semantics, not just the plumbing.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import SCRATCH, load
from ..registry import query
from . import datafiles, mor


class CommitConflict(Exception):
    """Another writer committed this version first (optimistic
    concurrency): re-read latest and retry."""

    def __init__(self, version: int):
        super().__init__(f"snapshot version v{version} already committed")
        self.version = version


class RefConflict(Exception):
    """Another writer moved this ref first (optimistic concurrency on
    the ref-update chain): re-read the ref and retry."""

    def __init__(self, name: str, seq: int):
        super().__init__(f"ref {name!r} update r{seq} already committed")
        self.name = name
        self.seq = seq


class RefImmutable(Exception):
    """Tags are immutable pointers: moving one is always a bug."""


def _put_if_absent(target: str, doc: dict) -> bool:
    """Write ``doc`` as JSON at ``target`` unless the file exists:
    write a tmp file, then ``os.link`` it onto ``target``, which fails
    with ``FileExistsError`` when another writer got there first.
    A bare ``rename`` would silently clobber the racing writer's file
    (a lost update). Returns False when ``target`` already existed."""
    tmp = f"{target}.tmp-{os.getpid()}-{id(doc)}"
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
    try:
        os.link(tmp, target)  # atomic put-if-absent
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    return True


class SnapshotTable:
    """Versioned parquet table with manifest-pointer commits.

    Every write (``create``, ``append``, ``overwrite``, ``restore``,
    ``delete_where``, ``delete_positions``, ``upsert``,
    ``apply_changes``, module-level ``compact`` and the streaming
    batch sink) stages its files and then calls ``_commit``, the one
    commit path: ``_next_manifest`` derives the next manifest from a
    base manifest by one carry rule, and one CAS loop publishes it.
    No other code builds a manifest's ``stats``, ``blooms``,
    ``group_seq`` or ``deletes``."""

    #: publish attempts of a rebasing commit before its last
    #: ``CommitConflict`` propagates
    _COMMIT_TRIES = 10

    def __init__(self, path: str, bloom_cols: list[str] | None = None):
        self.path = path
        self.manifest_dir = os.path.join(path, "_manifests")
        self.refs_dir = os.path.join(path, "_refs")
        #: columns to build per-file bloom filters for at commit time
        #: (point-lookup skipping; [] = feature off, zero overhead)
        self.bloom_cols = list(bloom_cols or [])
        #: inferred read schema per (commit dir, mergeSchema, file set)
        #: — commit dirs are immutable once written (every commit gets
        #: a fresh subdir), so re-reads of the same group can skip the
        #: driver-side footer schema-inference pass. Instance-local:
        #: dropped with the table object, never crosses a bench run.
        self._group_schema_cache: dict = {}

    # -- metadata ----------------------------------------------------
    def versions(self) -> list[int]:
        if not os.path.isdir(self.manifest_dir):
            return []
        out = []
        for f in os.listdir(self.manifest_dir):
            if f.startswith("v") and f.endswith(".json"):
                out.append(int(f[1:-5]))
        return sorted(out)

    def latest_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no snapshot manifests under {self.path}")
        return vs[-1]

    def _manifest(self, version: int) -> dict:
        with open(os.path.join(self.manifest_dir, f"v{version}.json")) as fh:
            return json.load(fh)

    def files(self, version: int | None = None) -> list[str]:
        v = self.latest_version() if version is None else version
        return [os.path.join(self.path, f) for f in self._manifest(v)["files"]]

    # -- refs (named branches & tags, Iceberg-style) -------------------
    #
    # A ref is a NAMED pointer into the linear version history:
    # ``_refs/{name}/r{K}.json`` records (name, kind, version); the
    # highest K wins. Moving a ref appends r{K+1} with the same
    # put-if-absent CAS the manifest chain uses, so two writers racing
    # to move the same ref cannot lose an update — the loser gets
    # ``RefConflict`` and retries against the new state. Data commits
    # stay strictly linear (one global version chain); refs make
    # write-audit-publish possible WITHOUT forking the data layout:
    # a staging branch advances through ordinary commits that ``main``
    # simply does not point at yet, and publishing is a metadata-only
    # fast-forward of ``main``.

    @staticmethod
    def _check_ref_name(name: str) -> None:
        # "." and ".." pass a charset check but escape _refs/ as path
        # components — set_ref("..") would write into the table root
        if not name or name in (".", "..") or not all(
            c.isalnum() or c in "._-" for c in name
        ):
            raise ValueError(f"invalid ref name {name!r}")

    def _ref_records(self, name: str) -> list[int]:
        d = os.path.join(self.refs_dir, name)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[1:-5])
            for f in os.listdir(d)
            if f.startswith("r") and f.endswith(".json")
        )

    def refs(self) -> dict[str, dict]:
        """All refs, name → latest record. Entries with no published
        record are skipped, not raised on: a writer that crashed
        between ``makedirs`` and the ``os.link`` publish leaves an
        empty (or tmp-only) ref dir, and one such ghost must not
        break every future ``refs()``/``vacuum()`` call."""
        if not os.path.isdir(self.refs_dir):
            return {}
        return {
            n: self.ref(n)
            for n in sorted(os.listdir(self.refs_dir))
            if self._ref_records(n)
        }

    def ref(self, name: str) -> dict:
        seqs = self._ref_records(name)
        if not seqs:
            raise FileNotFoundError(f"no ref {name!r} under {self.path}")
        with open(
            os.path.join(self.refs_dir, name, f"r{seqs[-1]}.json")
        ) as fh:
            return json.load(fh)

    def ref_version(self, name: str) -> int:
        return self.ref(name)["version"]

    def set_ref(self, name: str, version: int, kind: str = "branch",
                expected_seq: int | None = None) -> dict:
        """Create or move a ref with put-if-absent CAS.

        Tags are immutable (a second ``set_ref`` on a tag raises
        ``RefImmutable``); a branch moves by appending the next
        ``r{K}`` record — losing the CAS race raises ``RefConflict``
        for the caller's retry loop. The target version must be a
        published manifest: a ref can never point at vapor.

        ``expected_seq`` pins the CAS to the ref state the CALLER
        validated against (the ``seq`` of the record it read): the
        update publishes as ``r{expected_seq+1}`` and conflicts if
        anyone advanced the ref since — required whenever the move's
        PRECONDITION (e.g. fast-forward's ancestor check) was
        evaluated on that read. Without it the sequence is derived
        from a fresh listing, which is last-writer-wins: safe only
        for unconditional moves."""
        self._check_ref_name(name)
        if kind not in ("branch", "tag"):
            raise ValueError(f"ref kind must be branch|tag, got {kind!r}")
        if version not in self.versions():
            raise FileNotFoundError(
                f"cannot point ref {name!r} at unpublished version v{version}"
            )
        seqs = self._ref_records(name)
        if seqs:
            # read the latest record from THIS listing (ref() would
            # re-list, opening a window where a racer's newer record
            # changes what we validated against)
            with open(
                os.path.join(self.refs_dir, name, f"r{seqs[-1]}.json")
            ) as fh:
                cur = json.load(fh)
            if cur["kind"] == "tag":
                raise RefImmutable(
                    f"tag {name!r} is pinned at v{cur['version']}"
                )
            if kind != cur["kind"]:
                raise ValueError(
                    f"ref {name!r} is a {cur['kind']}, not a {kind}"
                )
        if expected_seq is not None:
            # CAS means *equals the current head*, not *any value the
            # caller claims*: a stale expected_seq loses the race, and
            # an AHEAD-of-head value must not publish a gapped r{K}
            # that would silently become the ref head.
            head = seqs[-1] if seqs else -1
            if expected_seq != head:
                raise RefConflict(name, expected_seq + 1)
            next_seq = expected_seq + 1
        else:
            next_seq = (seqs[-1] + 1) if seqs else 0
        d = os.path.join(self.refs_dir, name)
        os.makedirs(d, exist_ok=True)
        rec = {"name": name, "kind": kind, "version": version,
               "seq": next_seq}
        if not _put_if_absent(os.path.join(d, f"r{next_seq}.json"), rec):
            raise RefConflict(name, next_seq)
        return rec

    def fast_forward(self, name: str, to: str) -> dict:
        """Metadata-only publish: move branch ``name`` forward to the
        version branch/tag ``to`` points at. History is linear, so the
        ancestor check is a version comparison — moving a branch
        BACKWARD is not a fast-forward and raises (that would silently
        unpublish rows readers already saw).

        The backward check is only valid against the exact record it
        read, so the move pins ``expected_seq``: if a concurrent
        publisher advances ``name`` between the read and the publish,
        this raises ``RefConflict`` instead of silently moving the
        branch backward off the racer's newer state (re-read and
        retry)."""
        src = self.ref(to)
        cur = self.ref(name)
        if src["version"] < cur["version"]:
            raise ValueError(
                f"fast-forward of {name!r} (v{cur['version']}) to {to!r} "
                f"(v{src['version']}) would move it backward"
            )
        return self.set_ref(
            name, src["version"], kind=cur["kind"],
            expected_seq=cur["seq"],
        )

    def read_ref(self, spark: SparkSession, name: str, **kw) -> DataFrame:
        """Read the snapshot a ref points at (branch head or tag)."""
        return self.read(spark, version=self.ref_version(name), **kw)

    # -- commits -----------------------------------------------------
    def _stage(
        self,
        df: DataFrame,
        commit_id: str,
        partition_by: list[str] | None = None,
    ) -> list[str]:
        """Write data files for one commit into their own subdir;
        returns table-relative file names (recursive — partitioned
        commits nest ``col=value`` directories). Files are immutable
        once written — the manifest publish is the only mutation
        point."""
        root = os.path.join(self.path, f"data-{commit_id}")
        names = [
            os.path.relpath(f["path"], self.path)
            for f in datafiles.write(df, root, partition_by or ())
        ]
        self._write_schema_sidecar(df, root, partition_by)
        return names

    @staticmethod
    def _write_schema_sidecar(df, root: str, partition_by) -> None:
        """Record the commit group's READ-BACK schema next to its data
        files so the FIRST read of the group skips the driver-side
        footer inference pass too (r14; the r13 instance cache only
        covered re-reads). Derivation is free — a parquet read-back of
        a single Spark write is exactly the written schema with every
        field nullable (verified empirically) — but only provably so
        for unpartitioned, flat-typed groups: partitionBy moves
        columns into dir names whose types are RE-INFERRED at read
        (e.g. a numeric-looking string column would come back int), so
        partitioned groups conservatively skip the sidecar and keep
        inference. Best-effort: readers fall back to inference when
        the sidecar is absent or unreadable."""
        if partition_by:
            return
        if any(
            isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType))
            for f in df.schema.fields
        ):
            return
        doc = {
            "type": "struct",
            "fields": [
                {
                    "name": f.name,
                    "type": f.dataType.jsonValue(),
                    "nullable": True,
                    "metadata": {},
                }
                for f in df.schema.fields
            ],
        }
        try:
            with open(os.path.join(root, "_schema.json"), "w") as fh:
                json.dump(doc, fh)
        except OSError:
            pass

    @staticmethod
    def _sidecar_schema(group_dir: str):
        """The commit group's recorded read schema (``_schema.json``),
        or None when the sidecar is absent or unreadable — the caller
        then infers the schema from the parquet footers."""
        try:
            with open(os.path.join(group_dir, "_schema.json")) as fh:
                return T.StructType.fromJson(json.load(fh))
        except (OSError, ValueError):
            return None

    def _publish(self, files: list[str], version: int,
                 extra: dict | None = None) -> int:
        """Put-if-absent manifest publish (optimistic concurrency):
        raises ``CommitConflict`` when another writer already committed
        this version. ``_commit`` catches it and rebases, exactly the
        compare-and-swap loop Delta/Iceberg run against object-store
        put-if-absent."""
        os.makedirs(self.manifest_dir, exist_ok=True)
        target = os.path.join(self.manifest_dir, f"v{version}.json")
        if not _put_if_absent(
            target, {"version": version, "files": files, **(extra or {})}
        ):
            raise CommitConflict(version)
        return version

    def _collect_stats(self, rel_files: list[str]) -> dict:
        """Per-file column min/max for the manifest (Iceberg's other
        half: stats collected at COMMIT time from the parquet footers
        the writer just produced — no data scan): ``datafiles.bounds``
        filtered to the JSON-stable scalar types (int/float/str)."""
        out: dict[str, dict] = {}
        for rel in rel_files:
            mins, maxs = datafiles.bounds(os.path.join(self.path, rel))
            out[rel] = {
                name: [mn, maxs[name]] for name, mn in mins.items()
                if isinstance(mn, (int, float, str))
                and not isinstance(mn, bool)
            }
        return out

    # bloom parameters: ~10 bits/value, 4 hashes ≈ 1–2 % false
    # positives — the Iceberg/Parquet default neighborhood
    _BLOOM_K = 4
    _BLOOM_BITS_PER_VALUE = 10

    #: xor tweak giving the second, independent hash for the
    #: Kirsch–Mitzenmacher double-hashing scheme (h1 + i·h2 mod m)
    _BLOOM_H2_TWEAK = 0x9E3779B97F4A7C15

    @staticmethod
    def _bloom_positions_int64(vals, m: int, k: int):
        """Vectorized bit positions for int64 values: two murmur3_32
        hashes (the Iceberg appendix-B kernel, numpy-vectorized)
        combined Kirsch–Mitzenmacher style. Replaces the per-value
        md5 loop — 4 hashlib calls per value was the dominant
        driver-side cost of every bloom-column commit (measured ~1 s
        per 150k-row commit); this path is ~milliseconds. Build and
        probe share it via the bloom's recorded ``fn`` tag."""
        import numpy as np

        from .iceberg import murmur3_32_longs

        v = np.asarray(vals, dtype=np.int64)
        tweak = np.array(
            SnapshotTable._BLOOM_H2_TWEAK, dtype=np.uint64
        ).astype(np.int64)
        h1 = murmur3_32_longs(v).astype(np.uint64)
        h2 = murmur3_32_longs(v ^ tweak).astype(np.uint64) | np.uint64(1)
        return [
            ((h1 + np.uint64(i) * h2) % np.uint64(m)).astype(np.int64)
            for i in range(k)
        ]

    def _collect_blooms(self, rel_files: list[str]) -> dict:
        """Per-file bloom filters over the table's declared
        ``bloom_cols`` — the POINT-lookup half of data skipping
        (min/max ranges prune nothing when a high-cardinality key is
        hash-distributed across files, the common layout for append
        streams). A production writer hashes values as it writes;
        this post-hoc builder reads back ONLY the bloom column via
        pyarrow (one column, never the rows). Deterministic hashes
        (md5 of ``i:str(value)``), so index builds are reproducible.
        Missing blooms are always conservative: pruning keeps the
        file."""
        import hashlib

        import pyarrow.parquet as pq

        import numpy as np
        import pyarrow as pa
        import pyarrow.types as patypes

        out: dict[str, dict] = {}
        for rel in rel_files:
            per_col = {}
            for col in self.bloom_cols:
                try:
                    tbl = pq.read_table(
                        os.path.join(self.path, rel), columns=[col]
                    )
                except pa.lib.ArrowInvalid:
                    continue  # column absent in this file: no bloom
                arr = tbl.column(0)
                if patypes.is_integer(arr.type):
                    ints = arr.drop_null().cast("int64").to_numpy(
                        zero_copy_only=False
                    )
                    m = max(64, self._BLOOM_BITS_PER_VALUE * len(ints))
                    m += (-m) % 8
                    bits = np.zeros(m // 8, dtype=np.uint8)
                    if len(ints):
                        for pos in self._bloom_positions_int64(
                            ints, m, self._BLOOM_K
                        ):
                            np.bitwise_or.at(
                                bits, pos >> 3,
                                np.left_shift(
                                    np.uint8(1), (pos & 7).astype(np.uint8)
                                ),
                            )
                    per_col[col] = {"m": m, "k": self._BLOOM_K,
                                    "fn": "mm3_64",
                                    "bits": bits.tobytes().hex()}
                    continue
                vals = [v for v in tbl.column(0).to_pylist() if v is not None]
                m = max(64, self._BLOOM_BITS_PER_VALUE * len(vals))
                m += (-m) % 8
                bits = bytearray(m // 8)
                for v in vals:
                    for i in range(self._BLOOM_K):
                        h = int.from_bytes(
                            hashlib.md5(f"{i}:{v}".encode()).digest()[:8],
                            "big",
                        ) % m
                        bits[h >> 3] |= 1 << (h & 7)
                per_col[col] = {"m": m, "k": self._BLOOM_K,
                                "bits": bytes(bits).hex()}
            if per_col:
                out[rel] = per_col
        return out

    def _bloom_maybe_contains(self, bloom: dict, value) -> bool:
        import hashlib

        m = bloom["m"]
        bits = bytes.fromhex(bloom["bits"])
        if bloom.get("fn") == "mm3_64":
            # vectorized-int64 bloom: probe with the same hash pair
            if not isinstance(value, int) or isinstance(value, bool):
                return True  # non-int probe of an int bloom: keep
            for pos in self._bloom_positions_int64([value], m, bloom["k"]):
                h = int(pos[0])
                if not bits[h >> 3] & (1 << (h & 7)):
                    return False
            return True
        for i in range(bloom["k"]):
            h = int.from_bytes(
                hashlib.md5(f"{i}:{value}".encode()).digest()[:8], "big"
            ) % m
            if not bits[h >> 3] & (1 << (h & 7)):
                return False
        return True

    def pruned_files_point(self, col: str, value, version=None) -> list[str]:
        """Point-lookup file pruning from the manifest blooms: a file
        is skipped only when it HAS a bloom for ``col`` and the bloom
        proves ``value`` absent — missing blooms keep the file, so
        pruning can never change results, only the planned file list."""
        v = self.latest_version() if version is None else version
        man = self._manifest(v)
        blooms = man.get("blooms", {})
        keep = []
        for rel in man["files"]:
            b = (blooms.get(rel) or {}).get(col)
            if b is not None and not self._bloom_maybe_contains(b, value):
                continue
            keep.append(os.path.join(self.path, rel))
        return keep

    @staticmethod
    def _groups_of(rel_files: list[str]) -> set[str]:
        """Commit-group subdirs referenced by table-relative paths."""
        return {rel.split(os.sep, 1)[0] for rel in rel_files}

    # -- the commit path ---------------------------------------------
    @staticmethod
    def _next_manifest(base: dict, n: int, staged: list[str],
                       stats: dict, blooms: dict, deletes: list[dict],
                       keep: bool) -> tuple[list[str], dict]:
        """The carry rule: version ``n``'s file list and metadata,
        derived from ``base`` (a published manifest, or ``{}``).

        - files: the base's files when ``keep``, then ``staged``;
        - ``stats`` / ``blooms``: the base's entries for the kept
          files, then the staged files' (``stats`` / ``blooms``);
        - ``group_seq``: the base's entries for the kept files'
          groups, then ``n`` for each staged group. Commit sequences
          live here, not in the staged dir name: after a lost CAS race
          the data publishes at a LATER version than the name was
          minted for, and a stale sequence would let an interleaved
          delete (or an upsert's own delete) erase these rows;
        - ``deletes``: the base's when ``keep`` (they keep applying to
          the older data they were committed against; a replaced row
          set drops them), then the new ``deletes`` entries at ``n``.

        Entries naming a file that is not live never carry over."""
        kept = base.get("files", []) if keep else []
        live, groups = set(kept), SnapshotTable._groups_of(kept)

        def carry(key, names, own):
            return {
                k: x for k, x in base.get(key, {}).items() if k in names
            } | own

        meta = {
            "stats": carry("stats", live, stats),
            "group_seq": carry(
                "group_seq", groups,
                dict.fromkeys(SnapshotTable._groups_of(staged), n),
            ),
        }
        if all_blooms := carry("blooms", live, blooms):
            meta["blooms"] = all_blooms
        if all_deletes := (base.get("deletes", []) if keep else []) + [
            {**d, "seq": n} for d in deletes
        ]:
            meta["deletes"] = all_deletes
        return kept + staged, meta

    def _commit_id(self, suffix: str = "") -> str:
        """Staging-dir token for a new commit: the version it expects
        to publish at plus the pid, so two racing writers never share
        (and ``mode('overwrite')``-clobber) one directory. Only a
        uniqueness token: ``group_seq`` records the real version."""
        vs = self.versions()
        return f"{vs[-1] + 1 if vs else 0:05d}-{os.getpid()}{suffix}"

    def _commit(self, staged: list[str] = (), deletes: list[dict] = (),
                *, keep: bool = True, base: dict | None = None,
                pin: int | None = None, extra: dict | None = None,
                tries: int = _COMMIT_TRIES) -> int:
        """Publish the next version through the one CAS loop.

        ``staged`` are table-relative data files already written,
        ``deletes`` new delete entries without their ``seq``; stats
        and blooms are collected once, before the loop. Each attempt
        derives the manifest with ``_next_manifest`` and publishes it
        put-if-absent, caller ``extra`` fields last.

        - **rebase** (``pin`` None): every attempt re-reads the latest
          version and carries from its manifest, or from ``base`` when
          given (``restore``); after ``tries`` lost races the last
          ``CommitConflict`` propagates;
        - **pinned**: one attempt on top of version ``pin`` (-1 for an
          empty table). A conflict raises ``CommitConflict``: the
          caller's commit was only valid against that version."""
        staged = list(staged)
        stats = self._collect_stats(staged)
        blooms = self._collect_blooms(staged) if self.bloom_cols else {}
        tries = tries if pin is None else 1
        for attempt in range(tries):
            head = self.latest_version() if pin is None else pin
            cur = base if base is not None else (
                self._manifest(head) if head >= 0 else {}
            )
            files, meta = self._next_manifest(
                cur, head + 1, staged, stats, blooms, deletes, keep
            )
            try:
                return self._publish(
                    files, head + 1, extra={**meta, **(extra or {})}
                )
            except CommitConflict:
                if attempt + 1 == tries:
                    raise

    def create(self, df: DataFrame) -> int:
        return self._commit(self._stage(df, self._commit_id()), pin=-1)

    def append(self, df: DataFrame, partition_by: list[str] | None = None) -> int:
        staged = self._stage(df, self._commit_id(), partition_by=partition_by)
        return self._commit(staged)

    def overwrite(self, df: DataFrame) -> int:
        return self._commit(self._stage(df, self._commit_id()), keep=False)

    def restore(self, version: int) -> int:
        """Delta ``RESTORE`` / Iceberg rollback: republish ``version``'s
        manifest (file list + its stats/group_seq/deletes/blooms
        subset) as a NEW commit at the head — time travel made
        durable. No data file moves or rewrites: the commit costs one
        manifest write regardless of table size, the restored state
        stays reachable at its original version, and the rolled-back
        versions remain time-travelable (an UNDO is another restore).
        CAS-raced like every other commit."""
        return self._commit(
            base=self._manifest(version),  # raises on an unpublished one
            extra={"restored_from": version},
        )

    # -- merge-on-read row-level deletes -----------------------------
    @staticmethod
    def _seq_of(commit_dir: str) -> int:
        """FALLBACK commit sequence from a data subdir name, for
        manifests written before ``group_seq`` existed. Not authoritative:
        a CAS retry publishes at a later version than the dir name was
        minted for, so current writers record the real sequence in the
        manifest's ``group_seq`` map instead (r9 review finding)."""
        return int(commit_dir.split("-")[1])

    def delete_where(self, keys: DataFrame) -> int:
        """Equality-delete commit (merge-on-read): stage ``keys`` as an
        immutable parquet delete file and publish a manifest whose
        ``deletes`` list gains ``{file, cols, seq}`` — NO data file is
        rewritten. Readers drop every data row whose key tuple appears
        in a delete file of STRICTLY GREATER sequence (Iceberg v2
        equality-delete semantics), so rows appended after the delete
        commit — including re-inserts of deleted keys — are untouched.

        This is the affordable shape for GDPR erasure / CDC into large
        immutable files: the delete commit costs O(|keys|) regardless
        of table size, and ``compact`` later materializes the deletes
        away. NULL key tuples never match (SQL equality), so a NULL
        delete row deletes nothing — the anti-join convention.
        """
        staged = self._stage(keys, self._commit_id("-eqdel"))
        cols = list(keys.columns)
        return self._commit(
            deletes=[{"file": f, "cols": cols} for f in staged]
        )

    def delete_positions(self, pos: DataFrame) -> int:
        """Position-delete commit (Iceberg v2's second delete flavor):
        ``pos`` is a (file, pos) DataFrame — TABLE-RELATIVE data file
        path + 0-based row ordinal within that file. Readers drop the
        named ordinals via an anti-join against the scan's
        ``_metadata.file_path``/``row_index`` columns, under the shared
        ``data_seq <= delete_seq`` rule (``mor.apply_deletes``). The
        rule holds trivially here: the named file is immutable and
        predates the delete, and no later data can ever carry its
        path. The natural producer is a
        query that found bad rows in place (file + ordinal from the
        same ``_metadata`` columns) — erasure without knowing a key.
        """
        staged = self._stage(
            pos.select("file", "pos"), self._commit_id("-posdel")
        )
        return self._commit(
            deletes=[{"file": f, "kind": "pos"} for f in staged]
        )

    def _upsert(self, data: DataFrame, keys: DataFrame,
                key_cols: list[str], tag: str, **commit) -> int:
        """Stage ``data`` and the ``keys`` equality-delete file, then
        commit both at ONE sequence (the shared body of ``upsert`` and
        ``apply_changes``)."""
        commit_id = self._commit_id(tag)
        staged = self._stage(data, commit_id)
        del_staged = self._stage(keys, commit_id + "-eqdel")
        return self._commit(
            staged,
            [{"file": f, "cols": list(key_cols)} for f in del_staged],
            **commit,
        )

    def upsert(self, df: DataFrame, key_cols: list[str],
               extra: dict | None = None,
               max_retries: int = _COMMIT_TRIES) -> int:
        """Merge-on-read upsert in ONE commit: stage ``df`` as new data
        files AND its key projection as an equality-delete file, then
        publish both in the same manifest version. The delete's
        sequence equals the new data's sequence, and deletes apply
        only to STRICTLY older sequences — so the delete retires every
        pre-existing row with a matching key while the staged rows
        survive. This is the CDC-into-immutable-files primitive: no
        data file rewritten, commit cost O(|changed rows|).

        ``extra`` merges additional manifest fields into the publish
        (e.g. a streaming sink's ``batch_id`` idempotence marker).
        ``max_retries=1`` turns the internal CAS-rebase loop off: the
        first conflict raises ``CommitConflict`` instead of silently
        rebasing — required by single-writer callers (the streaming
        upsert sink) for whom a conflict means a ZOMBIE writer, where
        a silent rebase could re-apply an old batch at a newer
        sequence and invert last-writer-wins."""
        reserved = {
            "version", "files", "stats", "group_seq", "deletes", "blooms",
        }
        bad = reserved & set(extra or {})
        if bad:
            # ``extra`` merges LAST into the manifest, so a reserved
            # key would silently overwrite commit metadata (e.g. wipe
            # the delete list) — reject instead of clobbering.
            raise ValueError(
                f"extra may not override manifest keys: {sorted(bad)}"
            )
        return self._upsert(
            df, df.select(*key_cols).distinct(), key_cols, "",
            extra=extra, tries=max_retries,
        )

    def apply_changes(self, changes: DataFrame, key_cols: list[str],
                      op_col: str = "op") -> int:
        """Mixed-op CDC apply in ONE commit (the Delta ``APPLY CHANGES
        INTO`` primitive): ``changes`` carries upserts (``op='U'``)
        and deletes (``op='D'``). The upsert rows stage as new data
        files; ONE equality-delete file covers the keys of BOTH kinds
        (an upsert retires the old row exactly like ``upsert``; a
        delete retires it and stages nothing) — so the whole change
        set lands atomically at one sequence, never a half-applied
        batch. Commit cost O(|changes|), no data file rewritten.

        Unknown op codes raise (a typo'd op silently dropped would be
        a data-loss primitive)."""
        ops = [
            r[0]
            for r in changes.select(op_col).distinct().collect()
        ]  # bounded: |distinct op codes|
        # key=repr: a NULL op must land in the designed ValueError,
        # not a None-vs-str TypeError out of sorted() (ADVICE r10)
        bad_ops = sorted(set(ops) - {"U", "D"}, key=repr)
        if bad_ops:
            raise ValueError(f"unknown change ops: {bad_ops}")
        return self._upsert(
            changes.filter(F.col(op_col) == "U").drop(op_col),
            changes.select(*key_cols).distinct(), key_cols, "-cdc",
        )

    def _deletes(self, spark: SparkSession, deletes: list[dict]):
        """The manifest's delete files as ``mor.apply_deletes`` inputs:
        ONE multi-path read per delete-column set (and sidecar schema),
        pinned — a per-file or per-commit read costs a driver-side
        relation build plus a footer-inference job each. Per-file
        sequence numbers attach by path (``mor.delete_seq``); table-
        relative position-delete targets become absolute paths."""
        root = os.path.abspath(self.path)

        def read(group, schema):
            pairs = [(os.path.join(root, d["file"]), d["seq"]) for d in group]
            reader = spark.read if schema is None else spark.read.schema(schema)
            return mor.delete_seq(
                spark, reader.parquet(*[p for p, _ in pairs]), pairs
            )

        pos = None
        pos_group = [d for d in deletes if d.get("kind") == "pos"]
        if pos_group:
            pos = read(pos_group, "file string, pos long").select(
                F.concat(F.lit(root + os.sep), "file").alias("_del_path"),
                F.col("pos").alias("_del_pos"),
                "_del_seq",
            )
        groups: dict[tuple, list[dict]] = {}
        for d in deletes:
            if d.get("kind") != "pos":
                schema = self._sidecar_schema(
                    os.path.join(root, d["file"].split(os.sep, 1)[0])
                )
                groups.setdefault((tuple(d["cols"]), schema), []).append(d)
        # a delete row with a NULL key deletes nothing (the documented
        # SQL-equality contract of ``delete_where``); dropping it here
        # keeps that under the core's null-safe join
        eq = [
            read(group, schema).select(*cols, "_del_seq")
            .na.drop(subset=list(cols))
            for (cols, schema), group in groups.items()
        ]
        return pos, eq

    # -- reads -------------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """After an additive schema change, files written before the
        new column surface it as NULL — that cross-COMMIT widening is
        unconditional here (the per-commit-group union below is
        ``unionByName(allowMissingColumns=True)``). ``merge_schema``
        only forwards parquet ``mergeSchema`` WITHIN a commit group,
        which matters when a group's files are schema-heterogeneous
        (externally produced data; ``_stage`` itself writes one
        homogeneous DataFrame per group, where it is a no-op) — at
        the cost of a footer-read per file at planning.

        When the manifest carries delete files, the read is a
        MERGE-ON-READ: each commit group is tagged with its sequence
        number and the deletes apply by the rules in ``mor.py`` — time
        travel to a pre-delete version never sees the delete,
        post-delete appends are never affected by it."""
        v = self.latest_version() if version is None else version
        return self._read_version(spark, v, None, merge_schema)

    def pruned_files(
        self,
        intervals: dict[str, tuple],
        version: int | None = None,
    ) -> list[str]:
        """Scan-planning file pruning from the manifest stats: keep a
        file unless some interval constraint PROVABLY excludes it —
        for ``{col: (lo, hi)}`` (either bound may be None) a file is
        skipped iff its recorded [min, max] misses [lo, hi] entirely
        (``datafiles.may_match``). Files or columns without stats, and
        bounds that do not compare with the interval, are always kept,
        so pruning can never change query results, only the file list
        length."""
        v = self.latest_version() if version is None else version
        man = self._manifest(v)
        stats = man.get("stats", {})
        keep = []
        for rel in man["files"]:
            st = stats.get(rel) or {}
            mins = {c: b[0] for c, b in st.items()}
            maxs = {c: b[1] for c, b in st.items()}
            if datafiles.may_match(mins, maxs, intervals):
                keep.append(os.path.join(self.path, rel))
        return keep

    def read_pruned(
        self,
        spark: SparkSession,
        intervals: dict[str, tuple],
        version: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Snapshot read planned over only the stat-surviving files.
        The caller still applies the actual row filter — the stats are
        a superset guarantee (file granularity), not a row predicate.

        The result schema is ALWAYS the full snapshot's schema, planned
        from the complete file list (zero rows union — a metadata-only
        footer read): if pruning eliminates every file of a
        schema-evolved commit, its columns must still be present (as
        NULL-typed absences a caller's filter can reference), or
        pruning would change query RESULTS via AnalysisException — the
        r8 review caught exactly that on the first draft.

        Pending equality deletes are applied to the pruned read the
        same way ``read`` applies them — file pruning and row-level
        merge compose (the delete files themselves are manifest
        metadata, never part of the pruned data file list)."""
        v = self.latest_version() if version is None else version
        files = self.pruned_files(intervals, v)
        return self._read_version(spark, v, files, merge_schema)

    def read_point(
        self,
        spark: SparkSession,
        col: str,
        value,
        version: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Point-lookup read planned over only the bloom-surviving
        files (`pruned_files_point`) — the skipping path for
        ``col = value`` predicates on high-cardinality keys whose
        min/max ranges overlap across every file. Same contracts as
        `read_pruned`: full-snapshot schema, caller still applies the
        row filter, pending deletes merged, pruning conservative
        (bloom false positives only ever ADD files)."""
        v = self.latest_version() if version is None else version
        files = self.pruned_files_point(col, value, v)
        return self._read_version(spark, v, files, merge_schema)

    def _read_version(self, spark, v, files, merge_schema):
        """Shared body of every read. ``files`` None reads the whole
        snapshot; a list reads only those files, with the schema still
        from the FULL file list (zero-row union). Pending deletes are
        merged on top."""
        man = self._manifest(v)
        deletes = man.get("deletes", [])
        gseq = man.get("group_seq", {}) if deletes else None
        pos = any(d.get("kind") == "pos" for d in deletes)
        out = self._read_files(spark, self.files(v), merge_schema, gseq, pos)
        if files is not None:
            out = out.limit(0)
            if files:
                out = out.unionByName(
                    self._read_files(spark, files, merge_schema, gseq, pos),
                    allowMissingColumns=True,
                )
        if not deletes:
            return out
        return mor.apply_deletes(out, *self._deletes(spark, deletes))

    def _read_files(
        self,
        spark: SparkSession,
        files: list[str],
        merge_schema: bool = False,
        group_seq: dict | None = None,
        positions: bool = False,
    ) -> DataFrame:
        """Read ``files`` (absolute paths). ``group_seq`` (commit dir ->
        sequence) adds each group's ``_mor_seq``; ``positions`` adds
        ``mor.scan_cols``, only while position deletes are pending: any
        ``_metadata`` reference makes the scan read every metadata
        field (an equality-delete-only read measured ~18% slower)."""
        # Partition-spec evolution (Iceberg-style): each commit owns its
        # layout, so files are read PER COMMIT GROUP with that commit's
        # dir as basePath (recovering its col=value partition columns,
        # if any), then unioned by name — a flat multi-path read would
        # fail on CONFLICTING_DIRECTORY_STRUCTURES the moment one
        # commit is partitioned and another is not.
        groups: dict[str, list[str]] = {}
        for f in files:  # absolute paths; group by commit subdir
            rel = os.path.relpath(f, self.path)
            groups.setdefault(rel.split(os.sep, 1)[0], []).append(f)
        parts = []
        for commit_dir in sorted(groups):
            reader = spark.read.option(
                "basePath", os.path.join(self.path, commit_dir)
            )
            if merge_schema:
                reader = reader.option("mergeSchema", "true")
            # Re-reads of an identical immutable group skip footer
            # schema inference (~0.1 s of driver wall per relation
            # build); the cache key pins the exact file set so a
            # pruned subset or a different mergeSchema mode never
            # reuses a mismatched schema.
            ck = (commit_dir, merge_schema, frozenset(groups[commit_dir]))
            cached = self._group_schema_cache.get(ck)
            if cached is None:
                # commit-recorded sidecar (r14): one write produced the
                # whole group, so its recorded schema is valid for any
                # file subset and either mergeSchema mode — the first
                # read skips footer inference like every re-read does
                cached = self._sidecar_schema(
                    os.path.join(self.path, commit_dir)
                )
            if cached is not None:
                reader = reader.schema(cached)
            part = reader.parquet(*groups[commit_dir])
            self._group_schema_cache[ck] = (
                part.schema if cached is None else cached
            )
            if positions:
                # BEFORE the union: _metadata only resolves on the scan
                part = mor.scan_cols(part)
            if group_seq is not None:
                # commit sequence: manifest-recorded (authoritative —
                # survives CAS-retry version drift), dir-name fallback
                # for old manifests
                seq = group_seq.get(commit_dir, self._seq_of(commit_dir))
                part = part.withColumn("_mor_seq", F.lit(seq))
            parts.append(part)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out


@query(
    "snapshot_timetravel",
    oracle="""
    SELECT 0 AS version, CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders WHERE o_orderkey % 3 <> 0
    UNION ALL
    SELECT 1, CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2)
    FROM orders
    """,
)
def snapshot_timetravel(spark, sf_dir):
    """Commit v0 (2/3 of orders) then append the rest as v1; read both
    snapshots back via their manifests and aggregate each.

    The v0 read after the v1 append proves isolation: appending
    publishes a new manifest without touching v0's files, so the
    historic snapshot's aggregate still matches the oracle's
    recomputation of the original subset.
    """
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    table_path = os.path.join(SCRATCH, "snapshot_orders")
    # the key replays the table's whole history, so start from an empty
    # table dir (a prior run's manifests would otherwise be inherited)
    import shutil

    shutil.rmtree(table_path, ignore_errors=True)
    tbl = SnapshotTable(table_path)
    tbl.create(orders.filter(F.col("o_orderkey") % 3 != 0))
    tbl.append(orders.filter(F.col("o_orderkey") % 3 == 0))

    def agg(df, v):
        return df.agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        ).select(F.lit(v).alias("version"), "n_orders", "revenue")

    return agg(tbl.read(spark, version=0), 0).unionAll(
        agg(tbl.read(spark, version=1), 1)
    )


def compact(tbl: SnapshotTable, spark: SparkSession,
            target_files: int = 4,
            cluster_by: list[str] | None = None) -> int:
    """OPTIMIZE-style bin-packing compaction as a snapshot commit.

    Reads the latest snapshot, rewrites it as ``target_files``
    evenly-sized files, and publishes the new file set as the next
    version — a metadata swap for readers: historic versions still
    reference the old small files (time travel intact), new readers
    get the packed layout. Rows are untouched, so the commit is
    payload-idempotent; the CAS publish keeps it safe against
    concurrent appends (a racing append wins the version and the
    compaction rebases onto... nothing — compaction REPLACES the file
    set, so on conflict the caller should re-run against the new
    latest; we surface CommitConflict rather than silently dropping
    the racer's rows).

    ``cluster_by`` turns the rewrite into a CLUSTERING compaction
    (OPTIMIZE ... ZORDER's range-form analogue): rows range-partition
    on the cluster columns and sort within files, so each rewritten
    file owns a disjoint value range — the commit-time min/max stats
    become TIGHT and `read_pruned`/`read_point` start skipping files
    that a hash-distributed layout forces them to read. Clustering is
    the write-side half of data skipping: stats were always
    collected; this makes them selective.
    """
    v = tbl.latest_version()
    df = tbl.read(spark, version=v)
    if cluster_by:
        packed = df.repartitionByRange(
            target_files, *cluster_by
        ).sortWithinPartitions(*cluster_by)
    else:
        packed = df.repartition(target_files)
    files = tbl._stage(packed, tbl._commit_id("-compact"))
    # `read` above already merged pending equality deletes, so the
    # rewritten files materialize them: keep=False publishes NO
    # `deletes` list — compaction is how merge-on-read debt retires
    return tbl._commit(files, keep=False, pin=v, extra={"compaction_of": v})


def vacuum(
    tbl: SnapshotTable, keep_last: int = 2, orphan_grace_s: float = 3600.0
) -> list[str]:
    """Retention sweep: expire all but the last ``keep_last`` versions
    and delete data files no retained manifest references — including
    crash-orphaned staged files that never made it into a manifest.
    Returns the deleted table-relative paths.

    Order matters for crash safety: expired MANIFESTS are removed
    first, so a sweep that dies mid-delete leaves only unreferenced
    data files (harmless, re-collectable) — never a manifest pointing
    at deleted data.

    The walk is RECURSIVE (partitioned commits nest ``col=value``
    dirs — a one-level scan once mistook a retained partitioned
    commit for an orphan and deleted live data). Files referenced by
    an EXPIRED manifest are deleted immediately (their manifests are
    gone and rebasing writers re-derive only from the retained
    latest); files referenced by NO manifest at all are deleted only
    when older than ``orphan_grace_s`` — a concurrent writer between
    ``_stage`` and ``_publish`` has staged files no manifest
    references YET, the same reason Delta/Iceberg age-gate orphan
    removal. Tests pass 0 to sweep orphans immediately.
    """
    import shutil
    import time

    versions = tbl.versions()
    retained = set(versions[-keep_last:] if keep_last > 0 else [])
    # every version a ref (branch head or tag) points at is live:
    # expiring a tagged snapshot would turn the tag into a dangling
    # pointer at data the sweep just deleted — refs ARE the retention
    # contract (Iceberg's expire_snapshots honors refs the same way)
    retained.update(r["version"] for r in tbl.refs().values())
    expired = [v for v in versions if v not in retained]
    live: set[str] = set()
    for v in retained:
        man = tbl._manifest(v)
        live.update(man["files"])
        # equality-delete files are live references too: deleting one
        # would silently RESURRECT rows in every retained version that
        # still merges it on read
        live.update(d["file"] for d in man.get("deletes", []))
    expired_refs: set[str] = set()
    for v in expired:
        man = tbl._manifest(v)
        expired_refs.update(man["files"])
        expired_refs.update(d["file"] for d in man.get("deletes", []))
        os.unlink(os.path.join(tbl.manifest_dir, f"v{v}.json"))
    deleted = []
    now = time.time()
    for sub in sorted(os.listdir(tbl.path)):
        subdir = os.path.join(tbl.path, sub)
        if not (sub.startswith("data-") and os.path.isdir(subdir)):
            continue
        kept = 0
        for dirpath, _dirs, files in os.walk(subdir):
            for f in sorted(files):
                if not f.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, f)
                rel = os.path.relpath(full, tbl.path)
                if rel in live:
                    kept += 1
                elif rel in expired_refs or (
                    now - os.path.getmtime(full) >= orphan_grace_s
                ):
                    os.unlink(full)
                    deleted.append(rel)
                else:
                    kept += 1  # young true orphan: possibly a
                    # mid-commit stage by a live writer — age-gated
        if kept == 0:
            shutil.rmtree(subdir, ignore_errors=True)
    return deleted


@query(
    "snapshot_schema_evolution",
    oracle="""
    SELECT 0 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           2 AS n_cols, CAST(0 AS BIGINT) AS n_with_priority
    FROM orders WHERE o_orderkey % 3 <> 0
    UNION ALL
    SELECT 1, CAST(COUNT(*) AS BIGINT), 3,
           CAST(COUNT(*) FILTER (o_orderkey % 3 = 0) AS BIGINT)
    FROM orders
    """,
)
def snapshot_schema_evolution(spark, sf_dir):
    """Additive schema evolution on the snapshot table: v0 commits
    (key, price), v1 appends rows carrying a NEW column — no rewrite
    of v0's files, no table-wide migration. Reading v1 with schema
    merge surfaces the column (NULL for pre-evolution rows); reading
    v0 still returns exactly the original two columns, proving
    historic snapshots are immune to later widening.

    At warehouse scale this is the only affordable evolution: the
    manifest is the unit of schema agreement and parquet's per-file
    self-description does the rest — the mergeSchema planning cost is
    one footer per file, data pages untouched.
    """
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    table_path = os.path.join(SCRATCH, "snapshot_evolve")
    import shutil

    shutil.rmtree(table_path, ignore_errors=True)
    tbl = SnapshotTable(table_path)
    tbl.create(
        orders.filter(F.col("o_orderkey") % 3 != 0).drop("o_orderpriority")
    )
    tbl.append(orders.filter(F.col("o_orderkey") % 3 == 0))

    v0 = tbl.read(spark, version=0)
    v1 = tbl.read(spark, version=1, merge_schema=True)
    s0 = v0.agg(F.count("*").alias("n_rows")).select(
        F.lit(0).alias("version"),
        "n_rows",
        F.lit(len(v0.columns)).alias("n_cols"),
        F.lit(0).cast("long").alias("n_with_priority"),
    )
    s1 = v1.agg(
        F.count("*").alias("n_rows"),
        F.count("o_orderpriority").alias("n_with_priority"),
    ).select(
        F.lit(1).alias("version"),
        "n_rows",
        F.lit(len(v1.columns)).alias("n_cols"),
        "n_with_priority",
    )
    return s0.unionAll(s1)


@query(
    "snapshot_partition_evolution",
    oracle="""
    WITH all_rows AS (
        SELECT o_orderkey, o_totalprice,
               STRFTIME(o_orderdate, '%Y-%m') AS o_month
        FROM orders
    )
    SELECT o_month, CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM all_rows
    WHERE o_month = '1996-03'
    GROUP BY o_month
    """,
)
def snapshot_partition_evolution(spark, sf_dir):
    """Partition-spec evolution: the table's FIRST commit is
    unpartitioned (month is a plain column), a LATER commit is
    month-partitioned — and one read sees both, Iceberg-style, because
    each commit group is scanned under its own layout (its dir as
    basePath recovers `o_month=...` partition values) and the groups
    union by name. No old file is rewritten when the spec changes.

    The month filter prunes DIRECTORIES in the partitioned commit
    (only `o_month=1996-03/` is listed) while the unpartitioned
    commit's files are filtered row-wise via parquet predicate
    pushdown — the exact hybrid a multi-year 100 TB table lives with
    after a partitioning change.
    """
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
    )
    table_path = os.path.join(SCRATCH, "snapshot_partevolve")
    import shutil

    shutil.rmtree(table_path, ignore_errors=True)
    tbl = SnapshotTable(table_path)
    # epoch 1: unpartitioned (odd keys)
    tbl.create(orders.filter(F.col("o_orderkey") % 2 == 1))
    # epoch 2: the pipeline adopts month partitioning (even keys)
    tbl.append(
        orders.filter(F.col("o_orderkey") % 2 == 0), partition_by=["o_month"]
    )
    cur = tbl.read(spark)
    return (
        cur.filter(F.col("o_month") == "1996-03")
        .groupBy("o_month")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def table_changes(tbl: SnapshotTable, spark: SparkSession,
                  v_from: int, v_to: int) -> DataFrame:
    """Row-level change feed between two snapshot versions: '-'
    (removed) / '+' (added) rows, updates as a remove+add pair — the
    Delta CDF / Iceberg changelog contract, derived on demand from
    the two version reads (the manifests ARE the log; merge-on-read
    deletes are applied before diffing, so a delete commit surfaces
    as '-' rows). An incremental consumer checkpoints ONE integer
    (its last-consumed version) and replays each (v, v+1] feed in
    order; tests/test_layout.py pins that the replay reproduces the
    table state exactly across append/upsert/delete commits."""
    old = tbl.read(spark, version=v_from)
    new = tbl.read(spark, version=v_to)
    cols = new.columns
    removed = old.exceptAll(new).select(
        F.lit("-").alias("change"), *cols
    )
    added = new.exceptAll(old).select(
        F.lit("+").alias("change"), *cols
    )
    return removed.unionAll(added)


@query(
    "snapshot_changes",
    oracle="""
    WITH v0 AS (
        SELECT o_orderkey, o_orderstatus FROM orders
        WHERE o_orderkey % 3 = 0
    ),
    v1 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 2 = 0 THEN 'X' ELSE o_orderstatus END
                   AS o_orderstatus
        FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 5 <> 0
    ),
    removed AS (SELECT * FROM v0 EXCEPT ALL SELECT * FROM v1),
    added   AS (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v0)
    SELECT '-' AS change, o_orderkey, o_orderstatus FROM removed
    UNION ALL
    SELECT '+', o_orderkey, o_orderstatus FROM added
    """,
)
def snapshot_changes(spark, sf_dir):
    """Change-data-feed between two snapshot versions: row-level diff
    of v0 → v1 as '+' (added) / '-' (removed) rows — updates appear as
    a remove+add pair, the representation every downstream CDC
    consumer (merge_upsert, scd2_intervals) can replay.

    Computed as two exceptAll passes over the version reads — no
    change log is stored, the manifests ARE the log (diffing file
    LISTS first would skip unchanged files entirely; at 100 TB that
    file-level prune makes the diff proportional to the changed
    commits, not the table).
    """
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    v0_df = orders.filter(F.col("o_orderkey") % 3 == 0)
    v1_df = v0_df.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 2 == 0, "X").otherwise(
            F.col("o_orderstatus")
        ),
    )
    table_path = os.path.join(SCRATCH, "snapshot_changes")
    import shutil

    shutil.rmtree(table_path, ignore_errors=True)
    tbl = SnapshotTable(table_path)
    tbl.create(v0_df)
    tbl.overwrite(v1_df)
    old, new = tbl.read(spark, version=0), tbl.read(spark, version=1)
    removed = old.exceptAll(new).select(
        F.lit("-").alias("change"), "o_orderkey", "o_orderstatus"
    )
    added = new.exceptAll(old).select(
        F.lit("+").alias("change"), "o_orderkey", "o_orderstatus"
    )
    return removed.unionAll(added)


@query(
    "snapshot_skipping",
    oracle="""
    WITH b AS (SELECT MAX(o_custkey) AS m FROM orders)
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders, b
    WHERE o_custkey BETWEEN b.m // 10 AND (3 * b.m) // 10
    GROUP BY o_orderpriority
    """,
)
def snapshot_skipping(spark, sf_dir):
    """Manifest data skipping — the other half of the Iceberg snapshot
    story: per-file column min/max stats collected at COMMIT time from
    the parquet footers (no data scan), and a scan-planning pruned
    read that drops every file whose recorded range provably misses
    the predicate. The table is built as four appends clustered on
    ``o_custkey`` quartiles, so a BETWEEN over ~20% of the key space
    must plan roughly a quarter of the files (the pruning ratio itself
    is pinned by tests/test_layout.py, not here — a key asserts
    values, a pytest asserts plans).

    Correctness never depends on the stats: pruning is conservative
    (missing stats keep the file) and the real row filter still runs
    on the pruned read, so the aggregate matches the oracle's plain
    scan bit-for-bit.

    Scale shape: stats live in the manifest, so planning is a metadata
    read — at 100 TB a selective predicate schedules tasks only for
    surviving files, the same reason Iceberg/Delta queries don't open
    every object. The quartile bounds derive from one 1-row aggregate
    (bounded collect).
    """
    import shutil

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    m = orders.agg(F.max("o_custkey")).collect()[0][0]
    table_path = os.path.join(SCRATCH, "snapshot_skip_orders")
    shutil.rmtree(table_path, ignore_errors=True)
    tbl = SnapshotTable(table_path)
    q = [0, m // 4, m // 2, (3 * m) // 4, m + 1]
    tbl.create(orders.filter(F.col("o_custkey") < q[1]))
    for k in range(1, 4):
        tbl.append(
            orders.filter(
                (F.col("o_custkey") >= q[k]) & (F.col("o_custkey") < q[k + 1])
            )
        )
    lo, hi = m // 10, (3 * m) // 10
    pruned = tbl.read_pruned(spark, {"o_custkey": (lo, hi)})
    return (
        pruned.filter(F.col("o_custkey").between(lo, hi))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "snapshot_row_deletes",
    oracle="""
    SELECT 0 AS version, CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders WHERE o_orderkey % 3 <> 0
    UNION ALL
    SELECT 1, CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2)
    FROM orders
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2)
    FROM orders WHERE o_orderkey % 7 <> 0
    UNION ALL
    SELECT 3, CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2)
    FROM orders WHERE o_orderkey % 7 <> 0 OR o_orderkey % 2 = 0
    UNION ALL
    SELECT 4, CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2)
    FROM orders WHERE o_orderkey % 7 <> 0 OR o_orderkey % 2 = 0
    """,
)
def snapshot_row_deletes(spark, sf_dir):
    """Row-level DELETE without rewriting data files — merge-on-read
    equality deletes, the missing half of the lakehouse surface
    (GDPR erasure / CDC retirements into large immutable files).

    History replayed by the key: v0 commits 2/3 of orders, v1 appends
    the rest, v2 commits an equality-DELETE file for every
    ``o_orderkey % 7 = 0`` key (data files untouched), v3 RE-INSERTS
    the even-keyed half of the deleted keys, v4 compacts. The five
    version reads pin every semantic corner against the oracle's
    straight recomputation:

    - v1 read AFTER the v2 delete still sees all rows — time travel is
      immune to later deletes (the delete lives only in manifests
      >= 2);
    - v2 read drops exactly the %7 keys via the reader-side anti-join
      (sequence 2 > data sequences 0, 1);
    - v3's re-inserted rows SURVIVE the pending delete — delete files
      apply only to STRICTLY older commit sequences (Iceberg v2
      equality-delete semantics), so v3 = %7<>0 rows plus the
      re-inserts, not a resurrection of everything;
    - v4 equals v3 row-for-row after compaction materialized the
      delete away (the new manifest carries no delete files —
      pinned structurally in tests/test_layout.py).

    Scale shape: the delete commit costs O(|deleted keys|) regardless
    of table size — no data file is opened, let alone rewritten. The
    reader-side merge is ONE equi anti-join per delete column set,
    hashed on the delete keys (small delete sets broadcast under AQE);
    compaction retires the read tax on the operator's schedule, not
    the eraser's. That trade — cheap-now, merged-on-read,
    materialized-later — is the only affordable erasure path when a
    key's rows are scattered across thousands of immutable files.
    """
    import shutil

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    table_path = os.path.join(SCRATCH, "snapshot_row_del")
    shutil.rmtree(table_path, ignore_errors=True)
    tbl = SnapshotTable(table_path)
    tbl.create(orders.filter(F.col("o_orderkey") % 3 != 0))
    tbl.append(orders.filter(F.col("o_orderkey") % 3 == 0))
    tbl.delete_where(
        orders.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    )
    tbl.append(
        orders.filter(
            (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 2 == 0)
        )
    )
    compact(tbl, spark)

    def agg(df, v):
        return df.agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        ).select(F.lit(v).alias("version"), "n_orders", "revenue")

    out = agg(tbl.read(spark, version=0), 0)
    for v in range(1, 5):
        out = out.unionAll(agg(tbl.read(spark, version=v), v))
    return out


@query(
    "snapshot_position_deletes",
    oracle="""
    WITH e AS (
        SELECT o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rn
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    o AS (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderkey % 2 = 1
    ),
    merged AS (
        SELECT o_orderkey, o_totalprice FROM e WHERE rn % 5 <> 0
        UNION ALL SELECT o_orderkey, o_totalprice FROM o
    )
    SELECT 0 AS version, CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue FROM e
    UNION ALL
    SELECT 1, CAST((SELECT COUNT(*) FROM e) + COUNT(*) AS BIGINT),
           ROUND((SELECT SUM(o_totalprice) FROM e)
                 + SUM(o_totalprice), 2)
    FROM o
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2)
    FROM merged
    UNION ALL
    SELECT 3, CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2)
    FROM merged
    """,
)
def snapshot_position_deletes(spark, sf_dir):
    """Position deletes — Iceberg v2's second merge-on-read flavor:
    rows named by (data file, row ordinal) instead of by key. The
    natural producer is a scan that found bad rows in place (the same
    ``_metadata.file_path``/``row_index`` columns the reader merges
    on), so erasure needs no key column at all and a delete file row
    costs 2 values regardless of schema width.

    History: v0 commits the even orders as ONE file sorted by
    ``o_orderkey`` (so row ordinal == sorted rank, making the delete
    set recomputable by the oracle's ROW_NUMBER), v1 appends the odd
    orders, v2 position-deletes every 5th ordinal of v0's file — the
    odd-order file is untouched because position deletes bind to one
    named immutable file — and v3 compacts, materializing the deletes
    away (the new manifest carries none; read v3 == read v2
    row-for-row).

    Scale shape: the reader-side merge is ONE anti-join on
    (file, ordinal) — the scan's own ``_metadata`` columns, no data
    column touched; delete commit cost is O(|deleted rows|), and the
    seekable (file, ordinal) form is what a production compactor
    consumes to rewrite only the affected files.
    """
    import shutil

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    table_path = os.path.join(SCRATCH, "snapshot_pos_del")
    shutil.rmtree(table_path, ignore_errors=True)
    tbl = SnapshotTable(table_path)
    evens = orders.filter(F.col("o_orderkey") % 2 == 0)
    tbl.create(evens.repartition(1).sortWithinPartitions("o_orderkey"))
    tbl.append(
        orders.filter(F.col("o_orderkey") % 2 == 1)
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    n_evens = evens.count()
    target = os.path.relpath(tbl.files(0)[0], table_path)
    tbl.delete_positions(
        spark.range(0, n_evens, 5, numPartitions=1).select(
            F.lit(target).alias("file"), F.col("id").alias("pos")
        )
    )
    compact(tbl, spark)

    def agg(df, v):
        return df.agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        ).select(F.lit(v).alias("version"), "n_orders", "revenue")

    out = agg(tbl.read(spark, version=0), 0)
    for v in range(1, 4):
        out = out.unionAll(agg(tbl.read(spark, version=v), v))
    return out


@query(
    "snapshot_bloom_skipping",
    oracle="""
    WITH k AS (
        SELECT o_orderkey FROM orders WHERE o_orderkey % 5000 = 0
        ORDER BY o_orderkey LIMIT 4
    )
    SELECT o.o_orderkey, ROUND(o.o_totalprice, 2) AS price
    FROM orders o JOIN k USING (o_orderkey)
    """,
)
def snapshot_bloom_skipping(spark, sf_dir):
    """Bloom-filter data skipping — the POINT-lookup half of the
    manifest-skipping story (`snapshot_skipping` covers range
    predicates): the table is committed in four hash-distributed
    chunks (``o_orderkey % 4``), so every file's min/max spans the
    whole key range and range stats can prune NOTHING — the layout
    append streams naturally produce. Commit-time per-file bloom
    filters over the declared key column (deterministic hashes,
    ~10 bits/value, k=4) let `read_point` plan only the files whose
    bloom admits the key: the real file for certain, plus ~1–2 %
    false-positive extras, never a miss — pruning stays conservative
    by construction (tests/test_layout.py pins the ratio and the
    missing-bloom fallback; the key pins values).

    Scale shape: blooms live in the manifest (KB per file), so a
    point lookup on a 100 TB append table schedules tasks for ~1 file
    instead of all of them — the needle-in-haystack query (order by
    id, document by hash) that neither partitioning nor min/max
    serves when the key is uniformly distributed.
    """
    import shutil

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    table_path = os.path.join(SCRATCH, "snapshot_bloom_orders")
    shutil.rmtree(table_path, ignore_errors=True)
    tbl = SnapshotTable(table_path, bloom_cols=["o_orderkey"])
    tbl.create(orders.filter(F.col("o_orderkey") % 4 == 0))
    for c in range(1, 4):
        tbl.append(orders.filter(F.col("o_orderkey") % 4 == c))

    keys = [
        r.o_orderkey
        for r in orders.filter(F.col("o_orderkey") % 5000 == 0)
        .orderBy("o_orderkey")
        .limit(4)
        .collect()
    ]
    out = None
    for key in keys:
        hit = (
            tbl.read_point(spark, "o_orderkey", key)
            .filter(F.col("o_orderkey") == key)
            .select(
                "o_orderkey",
                F.round("o_totalprice", 2).alias("price"),
            )
        )
        out = hit if out is None else out.unionAll(hit)
    if out is None:
        return spark.createDataFrame([], "o_orderkey long, price double")
    return out


@query(
    "snapshot_branching",
    oracle="""
    SELECT 0 AS step, 'main@pre-publish' AS ref,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders WHERE o_orderkey % 5 <= 2
    UNION ALL
    SELECT 1, 'wap', CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2)
    FROM orders
    UNION ALL
    SELECT 2, 'main@post-publish', CAST(COUNT(*) AS BIGINT),
           ROUND(SUM(o_totalprice), 2)
    FROM orders
    UNION ALL
    SELECT 3, 'tag:audited-base', CAST(COUNT(*) AS BIGINT),
           ROUND(SUM(o_totalprice), 2)
    FROM orders WHERE o_orderkey % 5 <= 2
    """,
)
def snapshot_branching(spark, sf_dir):
    """Named refs — branches and tags — over the snapshot table: the
    write-audit-publish (WAP) pattern every production lakehouse
    pipeline runs. The key replays the full WAP lifecycle:

    - v0 commits 3/5 of orders; ``main`` (branch), ``wap`` (branch)
      and ``audited-base`` (tag) all point at it;
    - two staging appends advance ``wap`` to v1 then v2 — ordinary
      commits on the one linear version chain that ``main`` simply
      does not reference yet, so consumers reading ``main`` are
      untouched (step 0 pins exactly the base subset DURING staging);
    - the audit passes and ``main`` is published by a metadata-only
      ``fast_forward`` to ``wap``'s head — no data moves (step 2);
    - the tag still reproduces the pre-publish snapshot (step 3):
      tags are immutable retention pins, which ``vacuum`` honors by
      keeping every ref-pointed version live.

    The oracle recomputes each step's aggregate straight from orders,
    so a ref that reads the wrong version, a fast-forward that moves
    data, or staging that leaks into ``main`` all hash-diverge.

    Scale shape: a ref record is O(1) JSON; branching and publishing
    a 100 TB table costs two metadata writes and zero data I/O. Ref
    moves use the same put-if-absent CAS as manifest commits, so
    concurrent publishers cannot lose updates (race pinned in
    tests/test_layout.py).
    """
    import shutil

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    table_path = os.path.join(SCRATCH, "snapshot_branching")
    shutil.rmtree(table_path, ignore_errors=True)
    tbl = SnapshotTable(table_path)
    tbl.create(orders.filter(F.col("o_orderkey") % 5 <= 2))
    tbl.set_ref("main", 0)
    tbl.set_ref("wap", 0)
    tbl.set_ref("audited-base", 0, kind="tag")
    tbl.append(orders.filter(F.col("o_orderkey") % 5 == 3))
    tbl.set_ref("wap", 1)
    tbl.append(orders.filter(F.col("o_orderkey") % 5 == 4))
    tbl.set_ref("wap", 2)

    def agg(df, step, ref):
        return df.agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        ).select(
            F.lit(step).alias("step"), F.lit(ref).alias("ref"),
            "n_orders", "revenue",
        )

    out = agg(tbl.read_ref(spark, "main"), 0, "main@pre-publish")
    out = out.unionAll(agg(tbl.read_ref(spark, "wap"), 1, "wap"))
    tbl.fast_forward("main", "wap")
    out = out.unionAll(
        agg(tbl.read_ref(spark, "main"), 2, "main@post-publish")
    )
    return out.unionAll(
        agg(tbl.read_ref(spark, "audited-base"), 3, "tag:audited-base")
    )


@query(
    "snapshot_cluster_compact",
    oracle="""
    WITH band AS (
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_custkey BETWEEN 100 AND 400
    )
    SELECT 'pre-cluster' AS phase, CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM band
    UNION ALL
    SELECT 'post-cluster', CAST(COUNT(*) AS BIGINT),
           ROUND(SUM(o_totalprice), 2)
    FROM band
    """,
)
def snapshot_cluster_compact(spark, sf_dir):
    """Clustering compaction — the write-side half of data skipping:
    the table arrives as four HASH-distributed commits
    (``o_orderkey % 4``), so every file's ``o_custkey`` min/max spans
    the whole domain and a range query must read ALL files even
    though stats exist. ``compact(cluster_by=["o_custkey"])``
    rewrites the snapshot range-partitioned + sorted on the cluster
    column, giving each file a disjoint range — the SAME stats
    machinery now prunes most files for the band query. The key runs
    the identical range query before and after clustering and both
    phases hash-match the oracle's straight recomputation (clustering
    must never change results, only which files a reader opens); the
    pruning-ratio assertions live in tests/test_layout.py, where the
    file counts are inspected directly.

    Scale shape: this is OPTIMIZE ... ZORDER's contract at 100 TB —
    one clustered rewrite (on the operator's schedule) converts
    every subsequent selective scan from all-files to
    O(selectivity · files), and time travel keeps the pre-cluster
    layout readable.
    """
    import shutil

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table_path = os.path.join(SCRATCH, "snapshot_cluster")
    shutil.rmtree(table_path, ignore_errors=True)
    tbl = SnapshotTable(table_path)
    tbl.create(orders.filter(F.col("o_orderkey") % 4 == 0))
    for c in range(1, 4):
        tbl.append(orders.filter(F.col("o_orderkey") % 4 == c))
    pre_v = tbl.latest_version()
    compact(tbl, spark, target_files=8, cluster_by=["o_custkey"])

    def band(df, phase):
        return (
            df.filter(F.col("o_custkey").between(100, 400))
            .agg(
                F.count("*").alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            )
            .select(
                F.lit(phase).alias("phase"), "n_orders", "revenue"
            )
        )

    pre = band(
        tbl.read_pruned(
            spark, {"o_custkey": (100, 400)}, version=pre_v
        ),
        "pre-cluster",
    )
    post = band(
        tbl.read_pruned(spark, {"o_custkey": (100, 400)}),
        "post-cluster",
    )
    return pre.unionAll(post)


@query(
    "snapshot_branch_diff",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderkey % 4 <> 0
    ),
    staged AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 8 = 1 THEN 1.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
        WHERE o_orderkey % 4 <> 0 OR o_orderkey % 8 = 0
    ),
    removed AS (
        SELECT '-' AS change, b.o_orderkey, b.o_totalprice FROM base b
        WHERE NOT EXISTS (
            SELECT 1 FROM staged s
            WHERE s.o_orderkey = b.o_orderkey
              AND s.o_totalprice = b.o_totalprice)
    ),
    added AS (
        SELECT '+', s.o_orderkey, s.o_totalprice FROM staged s
        WHERE NOT EXISTS (
            SELECT 1 FROM base b
            WHERE b.o_orderkey = s.o_orderkey
              AND b.o_totalprice = s.o_totalprice)
    )
    SELECT change, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM (SELECT * FROM removed UNION ALL SELECT * FROM added)
    """,
)
def snapshot_branch_diff(spark, sf_dir):
    """The write-audit-publish AUDIT query: before fast-forwarding
    ``main`` to a staging branch, show exactly what publishing will
    change — `table_changes` between the two refs' versions ('-' rows
    main will lose, '+' rows it will gain; updates as a pair). This
    is the review surface a data steward reads between WAP's write
    and publish steps, and it composes three earlier pieces (refs,
    merge-on-read upserts, the version-diff change feed) without new
    machinery.

    Scenario: main holds 3/4 of orders; the staging branch lands ONE
    upsert commit that inserts the %8==0 keys and reprices the %8==1
    keys to 1.00. The diff must surface the inserts as bare '+',
    each repricing as a '-'/'+' pair, and nothing else — pinned
    against a straight NOT-EXISTS recomputation of both sides.

    Scale shape: the diff reads only the two versions' manifests;
    with merge-on-read staging the branch's delta is physically the
    upsert's own files, so the exceptAll diff is proportional to the
    CHANGED rows once file-level pruning skips the shared base files.
    """
    import shutil

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    table_path = os.path.join(SCRATCH, "snapshot_branch_diff")
    shutil.rmtree(table_path, ignore_errors=True)
    tbl = SnapshotTable(table_path)
    tbl.create(orders.filter(F.col("o_orderkey") % 4 != 0))
    tbl.set_ref("main", 0)
    staged = orders.filter(
        (F.col("o_orderkey") % 8 == 0) | (F.col("o_orderkey") % 8 == 1)
    ).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 8 == 1, F.lit(1.0)).otherwise(
            F.col("o_totalprice")
        ),
    )
    tbl.upsert(staged, ["o_orderkey"])
    tbl.set_ref("wap", 1)
    diff = table_changes(
        tbl, spark, tbl.ref_version("main"), tbl.ref_version("wap")
    )
    return diff.select(
        "change",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


@query(
    "snapshot_restore",
    oracle="""
    WITH v0 AS (
        SELECT o_orderkey, o_orderstatus FROM orders
        WHERE o_orderkey % 3 = 0
    )
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(3 AS BIGINT) AS n_versions
    FROM v0 GROUP BY o_orderstatus
    """,
)
def snapshot_restore(spark, sf_dir):
    """Durable rollback (Delta ``RESTORE`` / Iceberg rollback): after
    a bad overwrite, ``restore(0)`` republishes v0's manifest as a NEW
    head commit — the table reads as v0 again, the bad v1 stays
    time-travelable, and no data file moved. The key builds
    create → overwrite(corrupted) → restore(0) and returns the final
    read's status histogram plus the version count, so the hash pins
    BOTH that the restored content equals v0 exactly and that the
    rollback was a commit (3 versions), not a destructive rewrite.

    At 100 TB this is the incident-response primitive: a restore
    costs one manifest write regardless of table size, and the
    blast-radius analysis afterwards is `snapshot_changes` between
    the bad version and its neighbors.
    """
    import shutil

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    v0_df = orders.filter(F.col("o_orderkey") % 3 == 0)
    bad = v0_df.withColumn("o_orderstatus", F.lit("CORRUPT"))
    table_path = os.path.join(SCRATCH, "snapshot_restore")
    shutil.rmtree(table_path, ignore_errors=True)
    tbl = SnapshotTable(table_path)
    tbl.create(v0_df)
    tbl.overwrite(bad)
    tbl.restore(0)
    n_versions = len(tbl.versions())
    return (
        tbl.read(spark)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_rows"))
        .select(
            "o_orderstatus",
            "n_rows",
            F.lit(n_versions).cast("long").alias("n_versions"),
        )
    )


@query(
    "merge_cdc_apply",
    oracle="""
    WITH v0 AS (
        SELECT o_orderkey, o_orderstatus FROM orders
        WHERE o_orderkey % 3 = 0
    )
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN 'X'
                ELSE o_orderstatus END AS o_orderstatus
    FROM v0 WHERE o_orderkey % 5 <> 0
    """,
)
def merge_cdc_apply(spark, sf_dir):
    """Mixed-op CDC batch applied in ONE commit (`apply_changes` — the
    Delta ``APPLY CHANGES INTO`` shape): a change feed carrying both
    updates (op='U', repriced rows) and tombstones (op='D') lands
    atomically — one data stage for the upserts, ONE equality-delete
    file covering the keys of both kinds, one manifest version. The
    key returns the post-apply table; the oracle derives the same
    state relationally, so the hash pins update-vs-delete routing AND
    atomicity (a half-applied batch could never match).

    This is the primitive `merge_upsert` (rewrite-partitions) and
    `snapshot_row_deletes` compose into: at 100 TB the commit costs
    O(|changes|) with zero data-file rewrites, and the read-side
    merge stays the one anti-join pass of the merge-on-read contract.
    """
    import shutil

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    v0_df = orders.filter(F.col("o_orderkey") % 3 == 0)
    changes = v0_df.filter(
        (F.col("o_orderkey") % 5 == 0) | (F.col("o_orderkey") % 7 == 0)
    ).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_orderstatus"))
        .otherwise(F.lit("X"))
        .alias("o_orderstatus"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    table_path = os.path.join(SCRATCH, "merge_cdc_apply")
    shutil.rmtree(table_path, ignore_errors=True)
    tbl = SnapshotTable(table_path)
    tbl.create(v0_df)
    tbl.apply_changes(changes, ["o_orderkey"], op_col="op")
    return tbl.read(spark).select("o_orderkey", "o_orderstatus")

"""Exactly-once streaming sinks (SURVEY.md §2.D sink row).

Structured Streaming's foreachBatch gives at-least-once delivery: a
failed micro-batch is REPLAYED with the same batch_id after recovery,
so a naive append sink duplicates rows. Exactly-once therefore needs
an idempotent commit keyed by batch_id — the pattern every
transactional Spark sink (Delta, Iceberg, JDBC-upsert) implements.

``IdempotentBatchSink`` reuses the snapshot table's manifest-pointer
commit (sources/snapshots.py): each micro-batch stages immutable
parquet files, then publishes a manifest recording the batch_id. A
replayed batch_id is detected BEFORE staging and skipped, so the
table never holds a batch twice, and a crash between staging and
publish leaves only invisible orphan files. Readers always see a
manifest-consistent prefix of the stream.

At 100 TB scale nothing here is driver-heavy: the commit log is one
tiny JSON per batch, and data files stream through executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources.snapshots import SnapshotTable


class IdempotentBatchSink:
    """foreachBatch target with batch_id-keyed exactly-once commits."""

    def __init__(self, path: str):
        self.table = SnapshotTable(path)
        self.path = path
        self._committed: set[int] | None = None

    def committed_batches(self) -> set[int]:
        """Batch ids already durable. Seeded from the manifests ONCE
        and maintained in memory: re-parsing every manifest per
        micro-batch made commit-log I/O O(V²) over a stream's
        lifetime. Single-writer assumption (same as the publish
        comment below): a batch committed by a zombie writer is
        invisible to this cache, but its replay then fails the CAS
        publish loudly rather than double-committing."""
        if self._committed is None:
            out = set()
            for v in self.table.versions():
                b = self.table._manifest(v).get("batch_id")
                if b is not None:
                    out.add(b)
            self._committed = out
        return self._committed

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self.committed_batches():
            return  # replayed micro-batch: already durable, skip
        vs = self.table.versions()
        staged = self.table._stage(batch_df, self.table._commit_id())
        # an append pinned to the head seen above, with the batch id
        # recorded; a streaming query has one writer, so a conflict
        # means a zombie executor from a failed run beat us —
        # surfacing it is correct
        self.table._commit(
            staged, pin=vs[-1] if vs else -1, extra={"batch_id": batch_id}
        )
        self._committed.add(batch_id)


class IdempotentUpsertSink(IdempotentBatchSink):
    """foreachBatch target running a batch_id-keyed exactly-once
    UPSERT (merge-on-read MERGE) into the snapshot table — the
    streaming-CDC apply pattern (Delta/Iceberg ``MERGE`` inside
    foreachBatch): each micro-batch's rows REPLACE same-keyed rows
    committed by earlier batches instead of appending next to them.

    Semantics per batch: rows are first deduplicated to one per key
    by descending ``order_cols`` (last-writer-wins INSIDE the batch —
    two same-key rows in one commit would share a sequence and BOTH
    survive the merge-on-read), then committed through
    ``SnapshotTable.upsert``: one manifest version carrying the new
    data files plus an equality-delete on the keys, O(|batch|) cost,
    no data file rewritten. A replayed batch_id is skipped before any
    staging; a crash between stage and publish leaves only invisible
    orphans; and the commit runs with ``max_retries=1`` so a CAS
    conflict — which under the single-writer streaming contract can
    only be a zombie writer from a failed run — fails LOUDLY instead
    of rebasing an old batch onto a newer sequence (which would
    retire the recovered writer's later rows). On restart the
    committed-set re-seeds from the manifests and the batch is
    skipped. Batch 0 bootstraps an empty v0 so the table exists
    before its first merge.

    At 100 TB the read tax of accumulated delete files retires on the
    operator's schedule via OPTIMIZE compaction — the same contract
    as the batch upsert path.
    """

    def __init__(self, path: str, key_cols: list[str],
                 order_cols: list[str]):
        super().__init__(path)
        self.key_cols = list(key_cols)
        self.order_cols = list(order_cols)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        if batch_id in self.committed_batches():
            return  # replayed micro-batch: already durable, skip
        # total ordering: two same-key rows tying on every order_col
        # would otherwise make row_number pick an ARBITRARY winner —
        # nondeterministic across replays of a failed batch. A stable
        # hash over the remaining columns breaks the tie the same way
        # on every replay. MapType columns are excluded: xxhash64
        # rejects them (Spark disallows hashing maps — undefined entry
        # order), and a plan-time AnalysisException would brick a sink
        # that previously accepted such batches; ties that differ ONLY
        # in an unhashable column keep row_number's pick, which is the
        # pre-r10 behavior for exactly that residue.
        def _hashable(dt) -> bool:
            from pyspark.sql import types as T

            if isinstance(dt, T.MapType):
                return False
            if isinstance(dt, T.ArrayType):
                return _hashable(dt.elementType)
            if isinstance(dt, T.StructType):
                return all(_hashable(f.dataType) for f in dt.fields)
            return True

        rest = [
            f.name for f in batch_df.schema.fields
            if f.name not in self.key_cols
            and f.name not in self.order_cols
            and _hashable(f.dataType)
        ]
        tiebreak = (
            [F.xxhash64(*[F.col(c) for c in rest]).desc()] if rest else []
        )
        w = Window.partitionBy(*self.key_cols).orderBy(
            *([F.col(c).desc() for c in self.order_cols] + tiebreak)
        )
        keyed = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if not self.table.versions():
            # bootstrap: empty v0 (no batch recorded) so upsert has a
            # base manifest; the batch itself lands in its own commit
            self.table.create(keyed.limit(0))
        # max_retries=1: this sink is single-writer, so a CAS conflict
        # means a zombie from a failed run is racing us — surface it
        # loudly (the IdempotentBatchSink contract) rather than let
        # upsert's rebase loop re-apply an old batch at a NEWER
        # sequence, which would retire the recovered writer's later
        # rows and invert last-writer-wins
        self.table.upsert(
            keyed, self.key_cols, extra={"batch_id": batch_id},
            max_retries=1,
        )
        self._committed.add(batch_id)

"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource`` API):
the engine's integration seam for feeds no built-in reader covers —
internal wire formats, REST-paged APIs, message-queue snapshots.

``SynthLogDataSource`` is the deterministic reference implementation:
it synthesizes log rows as a closed-form function of the row id, split
across N reader partitions, so the graded key can hash-match a DuckDB
``generate_series`` oracle while proving the full plumbing — source
registration, schema declaration, partition planning (one
``InputPartition`` per task → N-way parallel read), and per-partition
iteration.

Scale notes: a Python DataSource reader runs in Python workers (rows
cross to the JVM via Arrow), so it is for INTEGRATION, not the
columnar hot path — land the feed once, write parquet, and let the
vectorized reader take over (the pattern every key here follows via
scratch round trips). Partition count is the parallelism contract:
readers that can split (by offset range, page cursor, shard id) should
emit one InputPartition per split exactly as this one does.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from ..registry import query

LEVELS = ("DEBUG", "INFO", "WARN", "ERROR")


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SynthLogReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("rows", 1000))
        self.n_parts = int(options.get("partitions", 4))

    def partitions(self):
        chunk = -(-self.n_rows // self.n_parts)
        return [
            _RangePartition(i * chunk, min((i + 1) * chunk, self.n_rows))
            for i in range(self.n_parts)
            if i * chunk < self.n_rows
        ]

    def read(self, partition):
        for i in range(partition.start, partition.end):
            yield _log_row(i)  # the SAME closed form as the stream path


class SynthLogDataSource(DataSource):
    @classmethod
    def name(cls):
        return "synthlog"

    def schema(self):
        return "log_id BIGINT, host STRING, level STRING, latency_ms BIGINT"

    def reader(self, schema):
        return SynthLogReader(self.options)


@query(
    "source_python_ds",
    oracle="""
    WITH logs AS (
        SELECT i AS log_id,
               'host' || (i % 7) AS host,
               (['DEBUG', 'INFO', 'WARN', 'ERROR'])[(i % 4) + 1] AS level,
               (i * 37) % 1000 AS latency_ms
        FROM generate_series(0, 9999) t(i)
    )
    SELECT level, host, COUNT(*) AS n,
           ROUND(AVG(latency_ms), 6) AS avg_latency
    FROM logs GROUP BY level, host
    """,
)
def source_python_ds(spark, sf_dir):
    """Read 10k synthetic log rows through the registered custom
    Python DataSource (8 reader partitions → 8 parallel tasks) and
    aggregate per (level, host). The oracle regenerates the identical
    rows from the closed form, so the hash match proves schema,
    partition planning, and row iteration end-to-end.
    """
    spark.dataSource.register(SynthLogDataSource)
    logs = (
        spark.read.format("synthlog")
        .option("rows", 10000)
        .option("partitions", 8)
        .load()
    )
    return logs.groupBy("level", "host").agg(
        F.count("*").alias("n"),
        F.round(F.avg("latency_ms"), 6).alias("avg_latency"),
    )


def _log_row(i: int):
    """Closed-form synthetic log row — shared by the batch reader, the
    stream reader, and (re-derived via generate_series) the oracles."""
    return (i, f"host{i % 7}", LEVELS[i % 4], (i * 37) % 1000)


try:  # Spark 4 streaming Python DataSource API
    from pyspark.sql.datasource import SimpleDataSourceStreamReader
except ImportError:  # pragma: no cover - older Spark
    SimpleDataSourceStreamReader = object


class SynthLogStreamReader(SimpleDataSourceStreamReader):
    """Offset-based micro-batch replay of the synthetic log.

    The simple stream-reader contract: ``initialOffset`` pins the
    start, each ``read(start)`` returns (rows, nextOffset) — here a
    bounded slice of the closed form — and ``readBetweenOffsets``
    makes any batch REPLAYABLE for exactly-once recovery: because
    rows are a pure function of the offset range, a failed batch
    re-reads identically, which is the invariant a real queue source
    provides via stored offsets.
    """

    def __init__(self, options):
        self.n_rows = int(options.get("rows", 400))
        self.batch_rows = int(options.get("batchRows", 100))

    def initialOffset(self):
        return {"offset": 0}

    def read(self, start):
        s = int(start["offset"])
        e = min(s + self.batch_rows, self.n_rows)
        return iter([_log_row(i) for i in range(s, e)]), {"offset": e}

    def readBetweenOffsets(self, start, end):
        return iter(
            [_log_row(i) for i in range(int(start["offset"]), int(end["offset"]))]
        )


class SynthLogStreamDataSource(DataSource):
    @classmethod
    def name(cls):
        return "synthlog_stream"

    def schema(self):
        return "log_id BIGINT, host STRING, level STRING, latency_ms BIGINT"

    def simpleStreamReader(self, schema):
        return SynthLogStreamReader(self.options)


@query(
    "source_python_stream",
    oracle="""
    WITH logs AS (
        SELECT i AS log_id,
               'host' || (i % 7) AS host,
               (['DEBUG', 'INFO', 'WARN', 'ERROR'])[(i % 4) + 1] AS level,
               (i * 37) % 1000 AS latency_ms
        FROM generate_series(0, 399) t(i)
    )
    SELECT level, COUNT(*) AS n, CAST(SUM(latency_ms) AS BIGINT)
             AS total_latency
    FROM logs GROUP BY level
    """,
)
def source_python_stream(spark, sf_dir):
    """Genuinely EXECUTE a streaming Python DataSource: 400 rows
    arrive through the offset-based stream reader in 100-row
    micro-batches into a memory sink; the key aggregates what landed.
    The hash match proves offset planning, per-batch row iteration,
    Arrow transfer and append-mode delivery end-to-end — with
    deterministic replay (`readBetweenOffsets`) making the pipeline
    exactly-once under retry, the property a production queue source
    must give the checkpoint.
    """
    import time
    import uuid

    spark.dataSource.register(SynthLogStreamDataSource)
    # drop sinks left by previous runs in this shared session — each
    # memory sink holds its rows in driver memory for the session's
    # lifetime otherwise (the catalog grew monotonically across
    # repeated sweeps)
    for t in spark.catalog.listTables():
        if t.name.startswith("pystream_"):
            spark.catalog.dropTempView(t.name)
    name = f"pystream_{uuid.uuid4().hex[:8]}"
    sdf = (
        spark.readStream.format("synthlog_stream")
        .option("rows", 400)
        .option("batchRows", 100)
        .load()
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 120
        # readiness from the query's OWN progress metrics (driver-side
        # JSON, no Spark job) — the old `spark.table(name).count()`
        # poll submitted a job per 50 ms tick that competed with the
        # micro-batches themselves (r14 profile: job walls were 0.7 s
        # of a 2.4 s wall, the rest driver gaps). One real count
        # confirms delivery after progress says all rows landed.
        def _rows_delivered() -> int:
            return int(
                sum(p["numInputRows"] for p in q.recentProgress)
            )

        while _rows_delivered() < 400:
            if time.time() >= deadline:
                # a partial aggregate would surface as a baffling
                # oracle hash mismatch — fail loudly at the cause
                raise RuntimeError(
                    "synthlog stream delivered "
                    f"{spark.table(name).count()}/400 rows in 120s"
                )
            time.sleep(0.05)
        if spark.table(name).count() < 400:  # belt-and-braces
            raise RuntimeError("progress reported rows the sink lacks")
    finally:
        q.stop()
        if not q.awaitTermination(30):
            raise RuntimeError("synthlog stream query did not stop in 30s")
    return (
        spark.table(name)
        .groupBy("level")
        .agg(
            F.count("*").alias("n"),
            F.sum("latency_ms").alias("total_latency"),
        )
    )


class _JsonlCommit(WriterCommitMessage):
    def __init__(self, path: str, n_rows: int):
        self.path = path
        self.n_rows = n_rows


class JsonlWriter(DataSourceWriter):
    """Per-partition JSON-lines writer with two-phase commit: tasks
    write to uniquely-named staging files and report them in commit
    messages; only the driver-side ``commit`` publishes the file list
    as a manifest. A failed/speculative task's file is simply never
    listed — the same staged-files + manifest-pointer protocol as the
    snapshot table, at connector level."""

    def __init__(self, options):
        self.path = options.get("path")

    def write(self, iterator):
        import json as _json
        import os as _os
        import uuid as _uuid

        from pyspark import TaskContext

        tc = TaskContext.get()
        part = tc.partitionId() if tc is not None else 0
        _os.makedirs(self.path, exist_ok=True)
        fname = _os.path.join(
            self.path, f"part-{part:05d}-{_uuid.uuid4().hex}.jsonl"
        )
        n = 0
        with open(fname, "w") as fh:
            for row in iterator:
                fh.write(_json.dumps(row.asDict()) + "\n")
                n += 1
        return _JsonlCommit(fname, n)

    def commit(self, messages):
        import json as _json
        import os as _os

        manifest = {
            "files": sorted(m.path for m in messages),
            "rows": sum(m.n_rows for m in messages),
        }
        with open(_os.path.join(self.path, "_MANIFEST.json"), "w") as fh:
            _json.dump(manifest, fh)

    def abort(self, messages):
        import os as _os

        # contract: a FAILED task's commit message is None — that is
        # the case abort exists for; unlink the stages of the tasks
        # that did succeed
        for m in messages:
            if m is None:
                continue
            try:
                _os.unlink(m.path)
            except OSError:
                pass


class JsonlSinkDataSource(DataSource):
    @classmethod
    def name(cls):
        return "jsonl_sink"

    def writer(self, schema, overwrite):
        return JsonlWriter(self.options)


@query(
    "sink_python_ds",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders WHERE o_orderkey % 7 = 0
    GROUP BY o_orderstatus
    """,
)
def sink_python_ds(spark, sf_dir):
    """Custom Python DataSource WRITE path (Spark 4): a JSON-lines
    sink with real two-phase commit — executors stage uniquely-named
    files and return commit messages, the driver publishes the
    manifest, abort unlinks strays. The read-back (only manifest-listed
    files) must reproduce the source aggregate exactly, proving no
    row was lost or doubled across the distributed write.

    This is the connector seam for systems Spark has no built-in sink
    for; like the Python reader, rows cross to Python workers via
    Arrow, so it is an integration path — the bulk path stays parquet.
    """
    import json as _json
    import os as _os
    import shutil as _shutil

    from ..io import SCRATCH, load

    spark.dataSource.register(JsonlSinkDataSource)
    out_dir = _os.path.join(SCRATCH, "jsonl_sink")
    _shutil.rmtree(out_dir, ignore_errors=True)
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    o.select("o_orderkey", "o_orderstatus", "o_totalprice").write.format(
        "jsonl_sink"
    ).option("path", out_dir).mode("append").save()
    with open(_os.path.join(out_dir, "_MANIFEST.json")) as fh:
        manifest = _json.load(fh)
    back = spark.read.schema(
        "o_orderkey long, o_orderstatus string, o_totalprice double"
    ).json(manifest["files"])
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )

"""Query federation via a custom Python DataSource: partition-parallel
reads from an external SQL engine (DuckDB here; the pattern is any
JDBC-ish store — each InputPartition binds a key-range predicate that
the remote engine evaluates, so Spark pulls N disjoint streams in
parallel and the remote side does its own scan pruning).

This is the lake-federation seam: predicate-bounded partition reads
(range splits on a indexed key), remote-side projection (only the
columns in the SELECT travel), and read-only connections per task. At
100 TB the remote store is the bottleneck — the split count trades
remote fan-in for parallelism, exactly like JDBC's
partitionColumn/lowerBound/upperBound contract.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..io import SCRATCH, load
from ..registry import query


class _KeyRange(InputPartition):
    def __init__(self, db, lo, hi):
        self.db = db
        self.lo = lo
        self.hi = hi


class DuckFedReader(DataSourceReader):
    """Range-partitioned reader over a DuckDB table.

    Each partition runs ``SELECT cols WHERE key >= lo AND key < hi``
    on its own read-only connection — projection and range predicate
    are evaluated remotely, only result rows cross into Spark.
    """

    def __init__(self, options, schema_cols):
        self.db = options["path"]
        self.table = self._ident(options.get("table", "lineitem"))
        self.key = self._ident(options.get("key", "l_orderkey"))
        # the SELECT list comes from the declared Spark schema, never
        # a free-form option: row arity must match the schema Spark
        # converts against, and identifier-validating every name that
        # reaches the f-string keeps the remote SQL injection-free
        # (range bounds stay parameter-bound)
        self.cols = ", ".join(self._ident(c) for c in schema_cols)
        self.n_parts = int(options.get("partitions", 8))
        self.lo = int(options["lower"])
        self.hi = int(options["upper"]) + 1

    @staticmethod
    def _ident(name: str) -> str:
        import re

        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"invalid SQL identifier: {name!r}")
        return name

    def partitions(self):
        span = self.hi - self.lo
        chunk = -(-span // self.n_parts)
        return [
            _KeyRange(self.db, self.lo + i * chunk,
                      min(self.lo + (i + 1) * chunk, self.hi))
            for i in range(self.n_parts)
            if self.lo + i * chunk < self.hi
        ]

    def read(self, partition):
        import duckdb

        con = duckdb.connect(partition.db, read_only=True)
        try:
            # bound the remote engine's buffer pool per task: N parallel
            # readers must not multiply into executor-memory pressure
            con.execute("SET memory_limit='256MB'")
            cur = con.execute(
                f"SELECT {self.cols} FROM {self.table} "
                f"WHERE {self.key} >= ? AND {self.key} < ?",
                [partition.lo, partition.hi],
            )
            while True:
                rows = cur.fetchmany(10000)
                if not rows:
                    break
                yield from rows
        finally:
            con.close()


class DuckFedDataSource(DataSource):
    @classmethod
    def name(cls):
        return "duckfed"

    def schema(self):
        return (
            "l_orderkey BIGINT, l_returnflag STRING, "
            "l_quantity DOUBLE, l_extendedprice DOUBLE"
        )

    def reader(self, schema):
        return DuckFedReader(self.options, schema.fieldNames())


@query(
    "source_duckdb_fed",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def source_duckdb_fed(spark, sf_dir):
    """Federated aggregate over a DuckDB database, read through the
    custom DataSource in 8 key-range partitions.

    The DB file is materialized once from the fixture (the landing
    step a real federation would skip); the read itself proves
    partition planning, remote predicate binding, per-task read-only
    connections, and that the partition union is exactly the table —
    the oracle aggregates the original rows.
    """
    import hashlib
    import duckdb

    os.makedirs(SCRATCH, exist_ok=True)
    # cache key = fixture identity, not just the dir's basename: the
    # source parquet's absolute path + size + mtime. Regenerating a
    # fixture in place (make_sf1 does, every round) or two roots
    # sharing a basename must MISS — a stale hit silently aggregates
    # old rows against an oracle reading the new parquet.
    src = os.path.join(sf_dir, "lineitem.parquet")
    st = os.stat(src)
    fp = hashlib.md5(
        f"{os.path.abspath(src)}:{st.st_size}:{st.st_mtime_ns}".encode()
    ).hexdigest()[:16]
    db = os.path.join(SCRATCH, f"fed_{fp}.duckdb")
    if not os.path.exists(db):
        # build at a temp path, then atomically rename into place:
        # duckdb.connect creates the file instantly, so an interrupted
        # CTAS would otherwise leave a lineitem-less db that the
        # exists() check forever treats as complete
        tmp = f"{db}.tmp-{os.getpid()}"
        con = duckdb.connect(tmp)
        # the one-time landing step streams table creation under a
        # bounded buffer pool so driver RSS stays flat (sf1 rehearsal
        # showed 665 MB unbounded)
        con.execute("SET memory_limit='256MB'")
        con.execute(
            "CREATE TABLE lineitem AS SELECT l_orderkey, l_returnflag, "
            f"l_quantity, l_extendedprice FROM read_parquet('{src}')"
        )
        con.close()
        os.replace(tmp, db)
    bounds = load(spark, sf_dir, "lineitem").agg(
        F.min("l_orderkey"), F.max("l_orderkey")
    ).collect()[0]

    spark.dataSource.register(DuckFedDataSource)
    fed = (
        spark.read.format("duckfed")
        .option("path", db)
        .option("lower", int(bounds[0]))
        .option("upper", int(bounds[1]))
        .option("partitions", 8)
        .load()
    )
    return fed.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )

"""Fixture table loading (SURVEY.md §7 M0).

``load(spark, sf_dir, name)`` reads one parquet table; ``events`` gets
its TIMESTAMP(NANOS) column converted back to a microsecond
``TimestampType`` (``ts DIV 1000`` — integer division, exact; a
float division would lose ulps on 1.7e18-scale nano epochs and could
shift a microsecond). Verified to match DuckDB's values (FIXTURES.md).

At 100 TB the same call works unchanged: ``spark.read.parquet`` over a
directory of files partition-parallelizes the scan, and every declared
query keeps filters/projections declarative so Catalyst pushes them
into the parquet reader (PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import ensure_session_confs

#: Root directory of the tables and files the keys write; every module
#: that writes scratch data imports it from here.
SCRATCH = os.environ.get("HTS_SCRATCH", "/tmp/hts_scratch")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return df


def load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load`` + round-robin repartition to the session's parallelism.

    The fixture parquet files are written as a SINGLE row group, so a
    scan yields one partition no matter what
    ``spark.sql.files.maxPartitionBytes`` says — any expression-heavy
    pipeline downstream (regex, md5, json parsing, shingle explode)
    would run single-threaded. One small shuffle up front buys a
    32-way pipeline. On a real multi-file table the scan is already
    parallel and callers at cluster scale would use plain ``load``;
    the repartition here is the local-fixture analogue of that
    parallelism, not a pattern to ship extra shuffles at 100 TB.
    """
    df = load(spark, sf_dir, name)
    return df.repartition(spark.sparkContext.defaultParallelism)


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk size of a fixture table, 0 if it cannot be stat'ed.

    Spread gates use this to skip the round-robin shuffle when the
    input is too small for parallelism to pay for the exchange
    (measured: llm_knn_numpy's spread costs 1.62× at sf0.1 / 0.8 MB
    but is required at sf1 / 5.9 MB, where the single row group would
    otherwise run one-threaded). Non-local / multi-file tables return
    0 → no spread: a real multi-file scan is already parallel and an
    extra full shuffle would only add cost at scale.
    """
    import os

    path = f"{sf_dir}/{name}.parquet"
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        return os.path.getsize(path)
    except OSError:
        return 0


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load the fixture tables and register each as a temp view."""
    out = {}
    for name in names:
        df = load(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def local_rows_df(
    spark: SparkSession, rows, schema, slices: int | None = None
) -> DataFrame:
    """``createDataFrame`` for driver-local row lists WITHOUT the
    defaultParallelism fan-out.

    ``spark.createDataFrame(rows)`` parallelizes into
    defaultParallelism slices even for a 1-row list; every action on
    that frame then pays one Python-runner round-trip PER SLICE —
    measured 5–7 s for a single-row frame under ``coalesce(1)`` on
    local[32] (32 sequential runner round-trips inside one task), and
    ~0.8 s per broadcast build. Sizing the slice count to the data
    (default: one slice per 10k rows, floor 1) makes the same frame
    cost ~0.1–0.3 s with identical contents. Callers that parallelize
    driver-held WORK ITEMS (e.g. file paths fanned out one task per
    path batch) pass ``slices`` explicitly. An empty list gets one
    empty slice.
    """
    n = slices or max(1, min(
        len(rows) // 10_000 + 1, spark.sparkContext.defaultParallelism
    ))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n), schema
    )


def materialize(df: DataFrame) -> DataFrame:
    """Cache AND eagerly populate — required before self-joins.

    ``df.cache()`` alone is lazy: when a cached DataFrame feeds BOTH
    sides of a self-join, the two scan branches race to populate the
    cache and each re-computes the full lineage (observed: a blocked
    pair-scoring query swinging 0.7 s ↔ 15 s run-to-run). A cheap
    ``count()`` materializes every partition once, so both branches
    read the cache. At cluster scale the same rule applies to any
    cached intermediate consumed by concurrent stages.
    """
    df = df.cache()
    df.count()
    return df

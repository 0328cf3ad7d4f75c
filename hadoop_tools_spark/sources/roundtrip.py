"""Source/sink surface: csv/json scans and partitioned parquet sink
(SURVEY.md §2.B scan/sink rows).

Each key writes a real file set to scratch space, reads it back
through the corresponding source, and aggregates — so the declared
query witnesses the full write→scan→(pruned) read path, and the
DuckDB oracle (same aggregate over the original table) proves the roundtrip
was lossless. Scratch lives under /tmp with mode=overwrite so repeat
runs don't grow unboundedly.

Scale: `partitionBy` on a low-cardinality column gives directory-level
partition pruning — the `sink_parquet_roundtrip` read filters one
partition value and Spark only lists/reads that directory, the same
mechanism that prunes a 100 TB date-partitioned lake down to one day.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exact import sum_pinned
from ..io import SCRATCH, load
from ..registry import query


@query(
    "scan_csv_roundtrip",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def scan_csv_roundtrip(spark, sf_dir):
    """orders → csv (header) → read with explicit schema → agg.

    Doubles survive because Spark writes shortest-roundtrip decimal
    strings; the explicit read schema avoids a second inference pass
    over the data (mandatory at scale).
    """
    path = f"{SCRATCH}/csv_roundtrip"
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    o.write.mode("overwrite").option("header", True).csv(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).option("header", True).csv(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        sum_pinned(F.col("o_totalprice"), 4)
        .cast("double")
        .alias("sum_price"),
    )


@query(
    "scan_json_roundtrip",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_value
    FROM events GROUP BY event_type
    """,
)
def scan_json_roundtrip(spark, sf_dir):
    """events → json lines → read with explicit schema → agg."""
    path = f"{SCRATCH}/json_roundtrip"
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ev.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        sum_pinned(F.col("value"), 2)
        .cast("double")
        .alias("sum_value"),
    )


@query(
    "sink_parquet_roundtrip",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_price
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def sink_parquet_roundtrip(spark, sf_dir):
    """Partitioned parquet sink + pruned read-back.

    The read filters o_orderstatus='F', which is the partition column —
    Spark prunes to the single `o_orderstatus=F/` directory (verified
    by plan assertion in tests/test_plans.py).
    """
    path = f"{SCRATCH}/parquet_roundtrip"
    o = load(spark, sf_dir, "orders")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        sum_pinned(F.col("o_totalprice"), 4)
        .cast("double")
        .alias("sum_price"),
    )


@query(
    "sink_orc_roundtrip",
    oracle="""
    SELECT l_linestatus, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM lineitem GROUP BY l_linestatus
    """,
)
def sink_orc_roundtrip(spark, sf_dir):
    """lineitem → ORC → read back → agg: the second columnar format
    (vectorized reader, predicate pushdown, same partitionBy
    machinery). The oracle aggregates the ORIGINAL parquet table, so
    a hash match proves the ORC write/read cycle is lossless —
    DuckDB never needs to read ORC itself.
    """
    path = f"{SCRATCH}/orc_roundtrip"
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_extendedprice"
    )
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_linestatus").agg(
        F.count("*").alias("n_items"),
        sum_pinned(F.col("l_extendedprice"), 2)
        .cast("double")
        .alias("sum_price"),
    )


@query(
    "sink_dpp_join",
    oracle="""
    WITH dim AS (
        SELECT o_orderpriority
        FROM orders GROUP BY o_orderpriority
        HAVING SUM(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT))
               > 2500000000 * COUNT(*)
    )
    SELECT o.o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_price
    FROM orders o JOIN dim USING (o_orderpriority)
    GROUP BY o.o_orderpriority
    """,
)
def sink_dpp_join(spark, sf_dir):
    """DYNAMIC partition pruning: the fact table is written
    partitioned by o_orderpriority and the dimension is its own
    parquet table filtered on a NON-join column (avg_price), so no
    static filter on the partition column exists anywhere and
    constraint propagation cannot derive one. Spark inserts a
    dynamicpruning# subquery on the fact scan: the broadcast dim
    evaluates first and only the matching partition directories are
    listed and read. On a 100 TB date-partitioned lake this is the
    difference between scanning 5 years and scanning the handful of
    partitions a dimension filter selects. Plan-asserted in
    tests/test_plans.py (the fact scan must carry a dynamicpruning
    expression).
    """
    fact_path = f"{SCRATCH}/dpp_fact"
    dim_path = f"{SCRATCH}/dpp_dim"
    o = load(spark, sf_dir, "orders")
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(fact_path)
    # integer-exact membership test (Σ price_4dp > 250000·10⁴·n):
    # gating set membership on a raw double AVG flips whole partitions
    # in/out when the two engines' last-ulp means straddle the
    # threshold — fixture margins measured as thin as 0.015%
    (
        o.groupBy("o_orderpriority")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 10000 + 0.5).cast("long")
            ).alias("sum_p4"),
            F.count("*").alias("n"),
        )
        .write.mode("overwrite")
        .parquet(dim_path)
    )
    fact = spark.read.parquet(fact_path)
    dim = (
        spark.read.parquet(dim_path)
        .filter(F.col("sum_p4") > 2_500_000_000 * F.col("n"))
        .select("o_orderpriority")
    )
    return (
        fact.join(F.broadcast(dim), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            sum_pinned(F.col("o_totalprice"), 4)
            .cast("double")
            .alias("sum_price"),
        )
    )


@query(
    "scan_xml_roundtrip",
    oracle="""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def scan_xml_roundtrip(spark, sf_dir):
    """customer → XML (Spark 4 built-in source) → read with explicit
    schema → agg; the oracle aggregates the original table, proving a
    lossless write→parse cycle.

    XML is the slowest of the text sources (tag-per-field), so the
    roundtrip keeps only the three needed columns; at scale the
    explicit read schema skips the whole-corpus inference pass, and
    the rowTag split lets Spark parallelize one file across tasks.
    """
    path = f"{SCRATCH}/xml_roundtrip"
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    (
        c.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "customers")
        .option("rowTag", "customer")
        .save(path)
    )
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_mktsegment", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .format("xml")
        .option("rowTag", "customer")
        .load(path)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        sum_pinned(F.col("c_acctbal"), 2)
        .cast("double")
        .alias("sum_bal"),
    )


@query(
    "scan_csv_malformed",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (o_orderkey % 10 <> 0) AS BIGINT) AS n_good,
           CAST(COUNT(*) FILTER (o_orderkey % 10 = 0) AS BIGINT) AS n_bad,
           CAST(COUNT(*) FILTER (o_orderkey % 10 = 0) AS BIGINT)
             AS n_salvaged,
           CAST(SUM(CASE WHEN o_orderkey % 10 <> 0
                         THEN CAST(o_totalprice AS DECIMAL(18,4)) END)
                AS DOUBLE) AS good_revenue
    FROM orders
    """,
)
def scan_csv_malformed(spark, sf_dir):
    """PERMISSIVE scan of a CSV feed with corrupt rows: every 10th
    record carries an unparseable price, the reader lands it in
    `_corrupt_record` instead of failing the job (the ONE malformed
    row in a 100 TB feed must never kill the pipeline — the
    try_-function rule applied to ingestion), and a salvage pass
    re-extracts the key from the raw corrupt text. Counts and the
    good-row revenue hash-match the clean table the feed was written
    from.

    The corrupt-record column is populated at PARSE time, so the
    DataFrame is cached before filtering on it (Spark disallows
    queries whose only referenced column is the internal corrupt
    column on an uncached scan).
    """
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = f"{SCRATCH}/csv_malformed"
    lines = o.select(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.when(
                F.col("o_orderkey") % 10 == 0,
                F.concat(F.lit("corrupt:"), F.col("o_totalprice").cast("string")),
            ).otherwise(F.col("o_totalprice").cast("string")),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(path)
    schema = "o_orderkey LONG, price DOUBLE, _corrupt_record STRING"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .cache()
    )
    salvaged_key = F.regexp_extract(F.col("_corrupt_record"), r"^(\d+),", 1)
    return df.agg(
        F.count("*").alias("n_rows"),
        F.count("price").alias("n_good"),
        F.count("_corrupt_record").alias("n_bad"),
        F.sum(
            F.when(salvaged_key != "", 1).otherwise(0)
        ).cast("long").alias("n_salvaged"),
        sum_pinned(F.col("price"), 4)
        .cast("double")
        .alias("good_revenue"),
    )


@query(
    "sink_rolling_files",
    oracle="""
    SELECT CAST(CEIL(COUNT(*) / 4096.0) AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - (CEIL(COUNT(*) / 4096.0) - 1) * 4096 AS BIGINT)
             AS last_file_rows
    FROM lineitem
    """,
)
def sink_rolling_files(spark, sf_dir):
    """File-size governance on the write path: ``maxRecordsPerFile``
    rolls output files at a fixed row count regardless of task
    partitioning — the knob that stops a skewed task from writing one
    10 GB file (or a thousand 10 KB ones) into a 100 TB table, where
    downstream scan parallelism is set by file granularity. The
    single-task writer here makes the roll boundary exact and
    hash-checkable: ceil(rows/4096) files, remainder in the last.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    path = f"{SCRATCH}/rolling_files"
    (
        li.coalesce(1)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 4096)
        .parquet(path)
    )

    import pyarrow.parquet as _pq

    # footer-only row counts (the parquet_meta pattern): no data pages
    # read, no per-file Spark job
    sizes = sorted(
        _pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    from ..io import local_rows_df

    return local_rows_df(
        spark,
        [(len(sizes), sum(sizes), min(sizes))],
        "n_files long, n_rows long, last_file_rows long",
    )


@query(
    "scan_parquet_schema_merge",
    oracle="""
    WITH old AS (
        SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE) AS o_discount
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    new AS (
        SELECT o_orderkey, o_orderstatus,
               floor(o_totalprice * 100 + 0.5) / 10000 AS o_discount
        FROM orders WHERE o_orderkey % 2 = 1
    ),
    unified AS (SELECT * FROM old UNION ALL SELECT * FROM new)
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(COUNT(o_discount) AS BIGINT) AS n_with_discount,
           CAST(SUM(CAST(COALESCE(o_discount, 0) AS DECIMAL(18,4)))
                AS DOUBLE) AS sum_discount
    FROM unified GROUP BY o_orderstatus
    """,
)
def scan_parquet_schema_merge(spark, sf_dir):
    """Schema evolution on read: two parquet file sets written under
    one table path with DIFFERENT schemas (the second adds
    ``o_discount``), read back with ``mergeSchema`` — old files
    surface the new column as NULL.

    This is the additive-drift reality of a 100 TB lake: years of
    files written by evolving jobs, one logical table. mergeSchema
    reconciles footers at planning time (a metadata operation — data
    pages of old files are never rewritten), and the NULL-filled
    column costs nothing to scan. Contrast snapshot_schema_evolution,
    which handles the same drift at the table-format layer.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = os.path.join(SCRATCH, "schema_merge")
    (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_orderstatus")
        .write.mode("overwrite")
        .parquet(path)
    )
    (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .select(
            "o_orderkey",
            "o_orderstatus",
            # floor-pinned 1% derivation: ROUND(x*0.01, 4) lands on an
            # exact 4-dp midpoint whenever the 4-dp price ends in 50
            # (1/100 rows) and the two engines' ROUND diverge there
            (F.floor(F.col("o_totalprice") * 100 + 0.5) / 10000).alias(
                "o_discount"
            ),
        )
        .write.mode("append")
        .parquet(path)
    )
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("o_discount").alias("n_with_discount"),
            sum_pinned(
                F.coalesce("o_discount", F.lit(0.0)), 4
            )
            .cast("double")
            .alias("sum_discount"),
        )
    )


@query(
    "sink_csv_hostile",
    oracle="""
    WITH hostile AS (
        SELECT p_partkey,
               p_name || ', "' || p_brand || '"' || chr(10) || p_type
                   AS tricky
        FROM part
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(LENGTH(tricky)) AS BIGINT) AS total_chars,
           MD5(STRING_AGG(tricky, '|' ORDER BY p_partkey)) AS content_md5
    FROM hostile
    """,
)
def sink_csv_hostile(spark, sf_dir):
    """CSV roundtrip with hostile content: embedded commas, double
    quotes, and NEWLINES inside quoted fields. The writer must quote +
    escape; the reader must run in multiLine mode (a quoted newline
    spans physical lines, so naive line-splitting corrupts rows).

    The md5 over the ordered recovered strings proves byte-exact
    survival. Scale note: multiLine CSV is NOT splittable (a worker
    cannot start mid-file — it can't know if it's inside quotes), so
    at 100 TB hostile CSV must arrive as many files; this key's single
    small file is the correctness witness, parquet is the scale path.
    """
    p = load(spark, sf_dir, "part")
    hostile = p.select(
        "p_partkey",
        F.concat(
            F.col("p_name"),
            F.lit(', "'),
            F.col("p_brand"),
            F.lit('"\n'),
            F.col("p_type"),
        ).alias("tricky"),
    )
    path = os.path.join(SCRATCH, "csv_hostile")
    hostile.write.mode("overwrite").option("header", True).option(
        "escape", '"'
    ).csv(path)
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .schema("p_partkey long, tricky string")
        .csv(path)
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.length("tricky")).alias("total_chars"),
        F.md5(
            F.concat_ws(
                "|", F.array_sort(F.collect_list(F.struct("p_partkey", "tricky"))).getField("tricky")
            ).cast("binary")
        ).alias("content_md5"),
    )


@query(
    "scan_arrow_ipc",
    oracle="""
    SELECT replace(replace(regexp_extract(filename, '([^/]+)$', 1),
                           'tblpq_', 'tbl_'),
                   '.parquet', '.arrow') AS shard,
           id, name, value
    FROM read_parquet(
        '/root/repo/assets/media/tblpq_*.parquet', filename=true)
    """,
)
def scan_arrow_ipc(spark, sf_dir):
    """Arrow IPC (Feather v2) file scan — the interchange format the
    Python data-ecosystem loaders hand around (datasets, polars, arrow
    flight dumps). Spark has no built-in Arrow-IPC source, so the scan
    is a ``binaryFile`` read (one task per shard, payloads never
    shuffle) + ``mapInPandas`` opening each shard with
    ``pyarrow.ipc.open_file`` and streaming its record batches out —
    the Arrow batches ARE the mapInPandas transport format, so the
    decode is a zero-copy handoff, not a row loop.

    Oracle: cross-format twins — tblpq_{i}.parquet is written from the
    SAME pyarrow Table as tbl_{i}.arrow (tools/gen_media_fixtures.py
    ``write_arrow_fixtures``), so every id/name/value (incl. NULL
    names, negative doubles) must match bit-for-bit.
    """
    from ..operators.multimodal import MEDIA_DIR, read_assets

    def read_shards(batches):
        import pyarrow as pa

        for pdf in batches:
            for _, row in pdf.iterrows():
                shard = row["path"].rsplit("/", 1)[-1]
                with pa.ipc.open_file(pa.BufferReader(row["content"])) as r:
                    for bi in range(r.num_record_batches):
                        out = r.get_batch(bi).to_pandas()
                        out.insert(0, "shard", shard)
                        yield out

    assets = read_assets(spark, MEDIA_DIR, glob="tbl_*.arrow")
    return assets.select("path", "content").mapInPandas(
        read_shards,
        schema="shard string, id long, name string, value double",
    )

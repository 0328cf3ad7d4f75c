"""Key-based parquet upsert with dynamic partition overwrite: merged
content is exact, and partitions without source keys are physically
untouched (same files on disk)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from hadoop_tools_spark.sources.upsert import merge_upsert


def _files(path):
    return {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(f"{path}/**/*.parquet", recursive=True)
    }


def test_merge_upsert_rewrites_only_touched_partitions(spark, sf_dir, tmp_path):
    target = str(tmp_path / "orders_lake")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.write.partitionBy("o_orderstatus").parquet(target)
    before = _files(target)

    # source: update two existing 'F' orders, insert one new 'F' order
    some = (
        orders.filter(F.col("o_orderstatus") == "F")
        .limit(2)
        .collect()
    )
    src = spark.createDataFrame(
        [
            (some[0].o_orderkey, "F", 1111.0),
            (some[1].o_orderkey, "F", 2222.0),
            (999999999, "F", 3333.0),
        ],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    n = merge_upsert(spark, target, src, ["o_orderkey"], "o_orderstatus")
    assert n == 1  # only the 'F' partition touched

    after = _files(target)
    untouched_before = {p: t for p, t in before.items() if "o_orderstatus=F" not in p}
    untouched_after = {p: t for p, t in after.items() if "o_orderstatus=F" not in p}
    assert untouched_before == untouched_after  # same files, same mtimes

    back = spark.read.parquet(target)
    # updated rows carry new values
    got = {
        r.o_orderkey: r.o_totalprice
        for r in back.filter(
            F.col("o_orderkey").isin(
                some[0].o_orderkey, some[1].o_orderkey, 999999999
            )
        ).collect()
    }
    assert got == {
        some[0].o_orderkey: 1111.0,
        some[1].o_orderkey: 2222.0,
        999999999: 3333.0,
    }
    # row count: original + 1 insert, no duplicates of updated keys
    assert back.count() == orders.count() + 1


def test_merge_upsert_is_idempotent(spark, sf_dir, tmp_path):
    target = str(tmp_path / "lake2")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.write.partitionBy("o_orderstatus").parquet(target)
    src = spark.createDataFrame(
        [(999999, "O", 42.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    merge_upsert(spark, target, src, ["o_orderkey"], "o_orderstatus")
    merge_upsert(spark, target, src, ["o_orderkey"], "o_orderstatus")
    back = spark.read.parquet(target)
    assert back.filter(F.col("o_orderkey") == 999999).count() == 1
    assert back.count() == orders.count() + 1


def test_compact_partitions_shrinks_file_count(spark, sf_dir, tmp_path):
    """Many small files per partition -> one file per partition, same
    rows; partitions outside the selection keep their files."""
    from hadoop_tools_spark.sources.upsert import compact_partitions

    target = str(tmp_path / "fragmented")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # fragment: 8 files per partition
    orders.repartition(8).write.partitionBy("o_orderstatus").parquet(target)
    before_rows = spark.read.parquet(target).count()
    n_before = len(_files(target))
    assert n_before >= 8

    n = compact_partitions(spark, target, "o_orderstatus", partitions=["F"])
    assert n == 1
    after = _files(target)
    f_files = [p for p in after if "o_orderstatus=F" in p]
    assert len(f_files) == 1
    assert spark.read.parquet(target).count() == before_rows

    # full-table compaction
    compact_partitions(spark, target, "o_orderstatus")
    statuses = {"F", "O", "P"}
    final = _files(target)
    assert len(final) == len(
        {s for s in statuses if any(f"o_orderstatus={s}" in p for p in final)}
    )
    assert spark.read.parquet(target).count() == before_rows


def test_schema_evolution_merge_schema(spark, sf_dir, tmp_path):
    """Evolving lake schema: files written before a column existed
    read back as NULL for that column under mergeSchema — additive
    evolution without rewriting history."""
    target = str(tmp_path / "evolving")
    v1 = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id long, amount double"
    )
    v1.write.parquet(f"{target}/batch=1")
    v2 = spark.createDataFrame(
        [(3, 30.0, "eur")], "id long, amount double, currency string"
    )
    v2.write.parquet(f"{target}/batch=2")

    back = spark.read.option("mergeSchema", True).parquet(target)
    assert set(back.columns) == {"id", "amount", "currency", "batch"}
    rows = {r.id: r.currency for r in back.collect()}
    assert rows == {1: None, 2: None, 3: "eur"}

def test_compact_partitions_honors_files_per_partition(spark, sf_dir, tmp_path):
    """files_per_partition=3 must yield (about) 3 data files per
    partition directory — the salt must spread rows across writer
    tasks, not collapse each partition to one file."""
    import glob as _glob

    from hadoop_tools_spark.sources.upsert import compact_partitions

    target = str(tmp_path / "compact3")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.repartition(8).write.partitionBy("o_orderstatus").parquet(target)

    compact_partitions(spark, target, "o_orderstatus", files_per_partition=3)
    for d in _glob.glob(f"{target}/o_orderstatus=*"):
        files = _glob.glob(f"{d}/*.parquet")
        assert 1 <= len(files) <= 3, (d, len(files))
    # content identical
    back = spark.read.parquet(target)
    assert back.count() == orders.count()


def test_merge_upsert_null_partition_value(spark, tmp_path):
    """A NULL partition value in the source must REPLACE the matching
    key in the target's null partition, not duplicate it (plain
    ``isin`` evaluates NULL for NULL values and silently dropped the
    target's __HIVE_DEFAULT_PARTITION__ rows from the merge read)."""
    target = str(tmp_path / "null_lake")
    base = spark.createDataFrame(
        [(1, None, 10.0), (2, None, 20.0), (3, "F", 30.0)],
        "k long, p string, v double",
    )
    base.write.partitionBy("p").parquet(target)

    src = spark.createDataFrame(
        [(1, None, 99.0)], "k long, p string, v double"
    )
    n = merge_upsert(spark, target, src, ["k"], "p")
    assert n == 1
    back = spark.read.parquet(target)
    assert back.count() == 3  # replaced, not appended
    assert {
        r.k: r.v for r in back.collect()
    } == {1: 99.0, 2: 20.0, 3: 30.0}


def test_compact_partitions_includes_null_partition(spark, tmp_path):
    """Full-table compaction must also rewrite the null partition —
    the distinct() list contains None and plain ``isin`` silently
    skipped those rows."""
    from hadoop_tools_spark.sources.upsert import compact_partitions

    target = str(tmp_path / "null_compact")
    rows = [(i, None if i % 2 else "F", float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "k long, p string, v double")
    df.repartition(6).write.partitionBy("p").parquet(target)
    null_dir = f"{target}/p=__HIVE_DEFAULT_PARTITION__"
    assert len(glob.glob(f"{null_dir}/*.parquet")) > 1

    compact_partitions(spark, target, "p")
    assert len(glob.glob(f"{null_dir}/*.parquet")) == 1
    back = spark.read.parquet(target)
    assert back.count() == 40
    assert back.filter(F.col("p").isNull()).count() == 20


def test_cmd_cat_directory_is_clean_error(spark, sf_dir, tmp_path, capsys):
    """`hh cat DIR` reports 'Is a directory' and rc=1 — not a py4j
    stack trace."""
    import io

    from hadoop_tools_spark import cli

    d = str(tmp_path / "somedir")
    spark.range(1).write.parquet(d)
    buf = io.BytesIO()
    rc = cli.main(["cat", d], spark=spark, out=buf)
    assert rc == 1
    assert b"" == buf.getvalue() or b"somedir" not in buf.getvalue()
    assert "Is a directory" in capsys.readouterr().err


# ---------------------------------------------------------------------------
# incremental-index freshness: append → re-probe must match a fresh build
# ---------------------------------------------------------------------------


def test_dedup_incremental_matches_fresh_build(spark, sf_dir, tmp_path):
    """Exact-dedup index: build on the first half of the corpus, feed
    the second half through dedup_incremental, and the resulting index
    must equal a from-scratch build over the full corpus (same
    canonical doc per digest — batches split in doc_id order so
    first-occurrence-wins agrees)."""
    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.operators.llm_dedup import (
        build_dedup_index,
        dedup_incremental,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    cut = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    part1 = docs.filter(F.col("doc_id") <= cut)
    part2 = docs.filter(F.col("doc_id") > cut)

    inc_path = str(tmp_path / "dedup_inc")
    build_dedup_index(part1, inc_path)
    dedup_incremental(spark, part2, inc_path)
    incremental = {
        (r.h, r.doc_id) for r in spark.read.parquet(inc_path).collect()
    }

    fresh_path = str(tmp_path / "dedup_fresh")
    build_dedup_index(docs, fresh_path)
    fresh = {(r.h, r.doc_id) for r in spark.read.parquet(fresh_path).collect()}

    assert incremental == fresh


def test_neardup_incremental_matches_fresh_pairs(spark, sf_dir, tmp_path):
    """Band-key index: pairs from (part1-internal ∪ incremental batch)
    must equal the band-blocked candidate pairs of a full fresh corpus,
    and the stored index must match a fresh build row-for-row."""
    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.operators.llm_dedup import (
        build_neardup_index,
        neardup_incremental,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    cut = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    part1 = docs.filter(F.col("doc_id") <= cut)
    part2 = docs.filter(F.col("doc_id") > cut)

    inc_path = str(tmp_path / "nd_inc")
    build_neardup_index(part1, inc_path)
    batch_pairs = {
        (r.doc_a, r.doc_b)
        for r in neardup_incremental(spark, part2, inc_path).collect()
    }
    stored = {
        (r.doc_id, r.band, r.key)
        for r in spark.read.parquet(inc_path).collect()
    }

    fresh_path = str(tmp_path / "nd_fresh")
    build_neardup_index(docs, fresh_path)
    fresh_bands = spark.read.parquet(fresh_path)
    fresh_stored = {
        (r.doc_id, r.band, r.key) for r in fresh_bands.collect()
    }
    assert stored == fresh_stored

    # full-corpus band-blocked pairs, derived from the fresh index
    a, b = fresh_bands.alias("a"), fresh_bands.alias("b")
    full_pairs = {
        (r.doc_a, r.doc_b)
        for r in a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
        .collect()
    }
    part1_ids = {r.doc_id for r in part1.select("doc_id").collect()}
    part1_internal = {
        p for p in full_pairs if p[0] in part1_ids and p[1] in part1_ids
    }
    assert part1_internal | batch_pairs == full_pairs
    # incremental pairs all touch the new batch
    assert all(
        p[0] not in part1_ids or p[1] not in part1_ids for p in batch_pairs
    )


def test_ivf_append_matches_fresh_build(spark, sf_dir, tmp_path):
    """IVF index: train once, build on 80% of vectors, ivf_append the
    rest, and every probe must return exactly what a from-scratch
    build with the SAME quantizer over the full corpus returns."""
    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.operators.llm_knn import (
        _fit_quantizer,
        build_ivf_index,
        ivf_append,
        ivf_search,
        materialize,
    )

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("u")
    )
    cut = e.approxQuantile("vec_id", [0.8], 0.0)[0]
    part1 = e.filter(F.col("vec_id") <= cut)
    part2 = e.filter(F.col("vec_id") > cut)
    C = _fit_quantizer(materialize(e))

    inc_path = str(tmp_path / "ivf_inc")
    build_ivf_index(spark, sf_dir, inc_path, centroids=C, source_df=part1)
    ivf_append(spark, part2, inc_path)

    fresh_path = str(tmp_path / "ivf_fresh")
    build_ivf_index(spark, sf_dir, fresh_path, centroids=C, source_df=e)

    import numpy as np

    qs = e.orderBy("vec_id").limit(8).collect()
    queries = spark.createDataFrame(
        [
            (r.vec_id, [float(x) for x in np.array(r.u) / np.linalg.norm(r.u)])
            for r in qs
        ],
        "q_id long, q_u array<double>",
    )
    got_inc = sorted(
        (r.q_id, r.neighbor_id, r.cosine, r.rn)
        for r in ivf_search(spark, inc_path, queries).collect()
    )
    got_fresh = sorted(
        (r.q_id, r.neighbor_id, r.cosine, r.rn)
        for r in ivf_search(spark, fresh_path, queries).collect()
    )
    assert got_inc == got_fresh and got_inc
    spark.catalog.clearCache()

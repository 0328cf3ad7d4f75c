"""Staged data-file records (sources/datafiles.py): the footer bounds
rule and the per-file records every table writer commits."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq


def test_bounds_all_or_nothing(tmp_path):
    """A column with one stats-less row group gets no bounds at all
    (partial bounds would let skipping drop rows); nested leaves are
    never bounded; complete columns aggregate across row groups."""
    from hadoop_tools_spark.sources.datafiles import bounds

    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({
        "k": pa.array([1, 2, None, None], pa.int64()),
        "s": ["b", "a", "z", "c"],
        "st": pa.array([{"a": i} for i in range(4)],
                       pa.struct([("a", pa.int64())])),
    }), path, row_group_size=2)
    assert pq.ParquetFile(path).metadata.num_row_groups == 2
    assert bounds(path) == ({"s": "a"}, {"s": "z"})


def test_write_records(spark, tmp_path):
    """One record per file with the footer's rows and bounds and the
    unquoted hive partition value (None for the null directory)."""
    from hadoop_tools_spark.sources.datafiles import write

    df = spark.createDataFrame(
        [(1, "a b/c"), (2, "a b/c"), (3, None)], "k long, s string")
    recs = write(df, str(tmp_path / "stage"), ["s"])
    got = {r["partition"]["s"]: (r["rows"], r["mins"]["k"], r["maxs"]["k"])
           for r in recs}
    assert got == {"a b/c": (2, 1, 2), None: (1, 3, 3)}
    assert all(r["size"] > 0 and r["path"].endswith(".parquet")
               for r in recs)

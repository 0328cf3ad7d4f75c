"""Staged data files for the Delta (``deltalog.py``), Iceberg
(``iceberg.py``) and snapshot (``snapshots.py``) writers: the one place
a Spark parquet write becomes per-file commit records.

``write`` stages a frame as parquet and returns one record per file
with its size, row count, hive partition values and column bounds, all
from the file's footer (opened once; no second Spark job). Two rules
live here and nowhere else:

- **Empty-string partition values are refused.** Hive staging writes
  ``''`` and NULL into the same ``__HIVE_DEFAULT_PARTITION__``
  directory, so a ``''`` would be recorded as a null partition and
  read back as NULL. ``write`` fails closed first with one early-exit
  ``take(1)`` probe over the string-typed partition columns (only
  partitioned writes with a string partition column pay it).
- **Bounds are all-or-nothing per column.** ``bounds`` aggregates
  min/max across a file's row groups for top-level columns only, and
  drops a column if any row group lacks statistics: partial bounds
  would be narrower than the file's data and make skipping drop rows.
  Values are returned as pyarrow gives them; each format serializes
  them itself.

``may_match`` is the one data-skipping rule of the three formats; each
format decodes its own recorded bounds into it.
"""

from __future__ import annotations

import glob
import os
import urllib.parse
from functools import reduce

from pyspark.sql import functions as F

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _reject_empty_string_parts(df, partition_by) -> None:
    types = dict(df.dtypes)
    strs = [c for c in partition_by if types[c] == "string"]
    if not strs:
        return
    hit = (df.where(reduce(lambda a, b: a | b,
                           [F.col(c) == "" for c in strs]))
           .select(*strs).take(1))
    if hit:
        col = next(c for c in strs if hit[0][c] == "")
        raise ValueError(
            f"empty-string partition value in column {col!r}: hive-style "
            f"staging cannot distinguish '' from NULL ({_HIVE_NULL}); "
            "filter or transform the column before partitioning on it"
        )


def _bounds(md) -> tuple[dict, dict]:
    mins: dict = {}
    maxs: dict = {}
    bad: set = set()
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if "." in name:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                bad.add(name)
                continue
            mn, mx = st.min, st.max
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    for name in bad:
        mins.pop(name, None)
        maxs.pop(name, None)
    return mins, maxs


def bounds(path: str) -> tuple[dict, dict]:
    """``(mins, maxs)`` by top-level column name from one parquet
    file's footer, under the all-or-nothing rule above."""
    import pyarrow.parquet as pq

    return _bounds(pq.read_metadata(path))


def write(df, stage_dir: str, partition_by=()) -> list[dict]:
    """Write ``df`` as parquet under ``stage_dir`` (overwriting it),
    hive-partitioned on ``partition_by`` when given, and return one
    record per data file, sorted by path::

        {"path", "size", "rows", "partition", "mins", "maxs"}

    ``path`` starts with ``stage_dir``; ``partition`` maps each
    ``partition_by`` column to its unquoted directory value (None for
    the hive null directory)."""
    import pyarrow.parquet as pq

    writer = df.write.mode("overwrite")
    if partition_by:
        _reject_empty_string_parts(df, partition_by)
        # hash-repartition so each task writes its own partition
        # values: one file per value instead of every directory from
        # every input task (or all of them from one task)
        writer = (df.repartition(*[F.col(c) for c in partition_by])
                  .write.mode("overwrite").partitionBy(*partition_by))
    writer.parquet(stage_dir)
    out = []
    for path in sorted(glob.glob(
            os.path.join(stage_dir, "**", "part-*.parquet"), recursive=True)):
        segs = dict(s.split("=", 1)
                    for s in os.path.relpath(path, stage_dir).split(os.sep)
                    if "=" in s)
        md = pq.read_metadata(path)
        mins, maxs = _bounds(md)
        out.append({
            "path": path,
            "size": os.path.getsize(path),
            "rows": md.num_rows,
            "partition": {
                c: (None if segs[c] == _HIVE_NULL
                    else urllib.parse.unquote(segs[c]))
                for c in partition_by
            },
            "mins": mins,
            "maxs": maxs,
        })
    return out


def may_match(mins: dict, maxs: dict, intervals: dict) -> bool:
    """False only when a file's bounds (``mins`` / ``maxs`` by column)
    PROVE no row can fall in every ``{col: (lo, hi)}`` interval (either
    end None for unbounded). An absent bound or an uncomparable type
    keeps the file: skipping narrows a plan, it never filters rows."""
    for col, (lo, hi) in intervals.items():
        mn, mx = mins.get(col), maxs.get(col)
        try:
            if hi is not None and mn is not None and mn > hi:
                return False
            if lo is not None and mx is not None and mx < lo:
                return False
        except TypeError:
            continue
    return True

"""Merge-on-read delete application, shared by the snapshot
(``snapshots.py``) and Iceberg (``iceberg.py``) readers.

A data frame enters ``apply_deletes`` carrying ``_mor_seq`` (its
file's data sequence number) and, for position deletes, ``_mor_path``
and ``_mor_pos`` (the row's file and ordinal, from ``scan_cols``).
Deletes follow the Iceberg v2 rules:

- a position delete ``(_del_path, _del_pos, _del_seq)`` drops the row
  at that ordinal of that file when ``data_seq <= delete_seq``;
- an equality delete drops every row whose key tuple matches a delete
  row null-safely when ``data_seq < delete_seq`` (strictly less: rows
  committed together with the delete survive it).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import local_rows_df

#: max file count for the literal-map sequence attach; past this
#: the broadcast-join form bounds expression-tree size
SEQ_LITERAL_MAX = 1024


def norm_path_col(c):
    """`_metadata.file_path` is a percent-encoded URI while plan
    paths are raw os paths (a table dir with a space made every join
    miss silently). Decode %XX JVM-side; literal '+' is pre-escaped
    because url_decode is form-decoding."""
    c = F.regexp_replace(c, r"\+", "%2B")
    return F.url_decode(F.regexp_replace(c, "^file:/+", "/"))


def attach_seq(spark, df, path_col: str, seq_col: str, pairs):
    """Attach a per-file sequence number column by path: a literal
    CreateMap lookup for bounded file counts (zero driver frames,
    zero joins), a broadcast join otherwise."""
    if len(pairs) <= SEQ_LITERAL_MAX:
        mapping = F.create_map(
            *[lit for p, s in pairs for lit in (F.lit(p), F.lit(s))]
        )
        return df.withColumn(seq_col, F.element_at(mapping, F.col(path_col)))
    seq_map = local_rows_df(
        spark, list(pairs), f"{path_col} string, {seq_col} long"
    )
    return df.join(F.broadcast(seq_map), path_col)


def delete_seq(spark, scan, pairs):
    """Attach ``_del_seq`` to a scan of delete files from each row's
    own file path; ``pairs`` are (raw path, sequence number)."""
    scan = scan.withColumn(
        "_del_file", norm_path_col(F.col("_metadata.file_path"))
    )
    return attach_seq(spark, scan, "_del_file", "_del_seq", pairs).drop(
        "_del_file"
    )


def scan_cols(df):
    """Add ``_mor_path``/``_mor_pos`` from the scan's ``_metadata``.
    Call it on the scan relation itself, before any union: that is
    the only place ``_metadata`` resolves."""
    return df.withColumn(
        "_mor_path", norm_path_col(F.col("_metadata.file_path"))
    ).withColumn("_mor_pos", F.col("_metadata.row_index"))


def apply_deletes(df, pos, eq):
    """Anti-join ``df`` against its deletes and drop the ``_mor_*``
    columns. ``pos`` is None or a ``(_del_path, _del_pos, _del_seq)``
    frame; each frame in ``eq`` holds key columns named as in ``df``
    plus ``_del_seq``."""
    if pos is not None:
        df = df.join(
            pos,
            (df["_mor_path"] == pos["_del_path"])
            & (df["_mor_pos"] == pos["_del_pos"])
            & (df["_mor_seq"] <= pos["_del_seq"]),
            "left_anti",
        )
    for d in eq:
        cols = [c for c in d.columns if c != "_del_seq"]
        d = d.select(*[F.col(c).alias(f"_eq_{c}") for c in cols], "_del_seq")
        cond = df["_mor_seq"] < d["_del_seq"]
        for c in cols:
            cond = cond & df[c].eqNullSafe(d[f"_eq_{c}"])
        df = df.join(d, cond, "left_anti")
    return df.drop("_mor_path", "_mor_pos", "_mor_seq")

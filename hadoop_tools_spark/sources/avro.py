"""From-scratch Apache Avro Object Container File codec + roundtrip key.

The Spark distribution on this box bundles the Avro *library* jars
(avro-1.12.1) but NOT the ``spark-avro`` datasource module, and the
external-module deploy path needs network access — so ``.format
("avro")`` raises ``AnalysisException`` (probed r10). Rather than
declare the format impossible, this module implements the container
format itself from the public specification
(https://avro.apache.org/docs/1.11.1/specification/ — magic ``Obj\\x01``,
metadata map with ``avro.schema``/``avro.codec``, 16-byte sync marker,
zigzag-varint binary encoding, null + deflate codecs), the same
fixture-encoder pattern as the repo's JPEG/WebP/OGG/FLAC codecs: the
encoder exists so the decoder can be exercised against files we
control, and the DuckDB oracle aggregates the ORIGINAL table so a hash
match proves the whole write→read cycle lossless.

It is the engine's one Avro codec: ``scan_avro_roundtrip`` and the
Iceberg manifests and manifest lists (``iceberg.py``) go through the
same datum codec and the same container writer and reader.
``_codec`` compiles a schema once into an encoder and a decoder;
``write_ocf``/``read_ocf`` take tuple rows for a Spark schema,
``write_ocf_generic``/``read_ocf_generic``/``read_ocf_with_meta`` dict
rows for any record schema.

Scale shape: the writer runs inside ``mapInArrow`` (one container
file per input partition — no driver funnel; the only driver
materialization is the one-row-per-partition file manifest), and the
reader pairs ``binaryFile`` scans with a ``mapInArrow`` decoder, so
both directions parallelize per file exactly like the bundled
datasource would, and validity masks keep NULL distinct from NaN.
Supported Spark types: long, int, double, string, boolean, binary,
each nullable via the spec's ``["null", T]`` union.
"""

from __future__ import annotations

import io
import itertools
import json
import os
import struct
import zlib

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exact import sum_pinned
from ..io import SCRATCH
from ..registry import query

MAGIC = b"Obj\x01"
#: fixed sync marker: the spec only requires the 16 bytes be the same
#: within a file; a content-free constant keeps output deterministic.
SYNC = bytes(range(16))

#: Spark type → (Avro type, pyarrow type name)
_SPARK_TYPES = {
    T.LongType(): ("long", "int64"),
    T.IntegerType(): ("int", "int32"),
    T.DoubleType(): ("double", "float64"),
    T.StringType(): ("string", "string"),
    T.BooleanType(): ("boolean", "bool"),
    T.BinaryType(): ("bytes", "binary"),
}


def _spark_type(dt) -> tuple[str, str]:
    if dt not in _SPARK_TYPES:
        raise ValueError(f"unsupported Avro field type: {dt}")
    return _SPARK_TYPES[dt]


# ---------------------------------------------------------------- binary enc

def _enc_long(n: int) -> bytes:
    """Zigzag varint (spec: int/long encoding)."""
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _dec_long(buf: bytes, pos: int) -> tuple[int, int]:
    b = buf[pos]
    pos += 1
    acc = b & 0x7F
    shift = 7
    while b & 0x80:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _avro_schema(schema: T.StructType, name: str = "row") -> dict:
    fields = []
    for f in schema.fields:
        t = _spark_type(f.dataType)[0]
        fields.append(
            {"name": f.name, "type": ["null", t] if f.nullable else t}
        )
    return {"type": "record", "name": name, "fields": fields}


# ------------------------------------------------------------- datum codec
# An encoder appends one datum to a bytearray, ``enc(v, out)``; a
# decoder returns one datum and the position after it, ``dec(buf, pos)``.

_DOUBLE, _FLOAT = struct.Struct("<d"), struct.Struct("<f")


def _enc_int(v, out: bytearray) -> None:
    out += _enc_long(int(v))


def _enc_bytes(v, out: bytearray) -> None:
    out += _enc_long(len(v))
    out += v


def _enc_string(v, out: bytearray) -> None:
    _enc_bytes(str(v).encode("utf-8"), out)


def _dec_bytes(buf, pos: int):
    n, pos = _dec_long(buf, pos)
    return buf[pos:pos + n], pos + n


def _dec_string(buf, pos: int):
    n, pos = _dec_long(buf, pos)
    return buf[pos:pos + n].decode("utf-8"), pos + n


_PRIMITIVES = {
    "null": (lambda v, out: None, lambda buf, pos: (None, pos)),
    "boolean": (lambda v, out: out.append(1 if v else 0),
                lambda buf, pos: (buf[pos] != 0, pos + 1)),
    "int": (_enc_int, _dec_long),
    "long": (_enc_int, _dec_long),
    "float": (lambda v, out: out.extend(_FLOAT.pack(float(v))),
              lambda buf, pos: (_FLOAT.unpack_from(buf, pos)[0], pos + 4)),
    "double": (lambda v, out: out.extend(_DOUBLE.pack(float(v))),
               lambda buf, pos: (_DOUBLE.unpack_from(buf, pos)[0], pos + 8)),
    "bytes": (_enc_bytes, _dec_bytes),
    "string": (_enc_string, _dec_string),
}


def _codec(s, tuples: bool = False):
    """``(enc, dec)`` of Avro schema ``s``: records, arrays, maps,
    ``[null, T]`` unions and the primitives. Each nested schema is
    dispatched on once, here, never per datum. A ``logicalType`` on a
    primitive reads as the underlying type, as the spec asks of a
    reader. Records are dicts keyed by field name, or tuples in field
    order when ``tuples`` (the top level only)."""
    t = s["type"] if isinstance(s, dict) else s
    if isinstance(t, str) and t in _PRIMITIVES:
        return _PRIMITIVES[t]
    if isinstance(s, list):
        return _union(s)
    if t == "record":
        return _record(s["fields"], tuples)
    if t == "array":
        return _blocks(*_codec(s["items"]))
    if t != "map":
        raise ValueError(f"unsupported Avro type: {t}")
    enc_value, dec_value = _codec(s["values"])

    def enc_pair(kv, out: bytearray) -> None:
        _enc_string(kv[0], out)
        enc_value(kv[1], out)

    def dec_pair(buf, pos: int):
        k, pos = _dec_string(buf, pos)
        v, pos = dec_value(buf, pos)
        return (k, v), pos

    enc_pairs, dec_pairs = _blocks(enc_pair, dec_pair)

    def dec_map(buf, pos: int):
        pairs, pos = dec_pairs(buf, pos)
        return dict(pairs), pos

    return lambda v, out: enc_pairs(v.items(), out), dec_map


def _blocks(enc_item, dec_item):
    """Codec of an array's items (a map's pairs): blocks of a count and
    that many items, closed by a zero count. A negative count is
    followed by the block's size in bytes (spec: lets a reader skip)."""
    def enc(items, out: bytearray) -> None:
        if items:
            out += _enc_long(len(items))
            for item in items:
                enc_item(item, out)
        out.append(0)

    def dec(buf, pos: int):
        items = []
        while True:
            n, pos = _dec_long(buf, pos)
            if n == 0:
                return items, pos
            if n < 0:
                n = -n
                _, pos = _dec_long(buf, pos)
            for _ in range(n):
                item, pos = dec_item(buf, pos)
                items.append(item)

    return enc, dec


def _union(branches: list):
    """``[null, T]`` or ``[T, null]``, the one union Iceberg and the
    Spark schemas use: None takes the null branch. A branch index of
    0 or 1 is the one-byte varint 0 or 2."""
    if len(branches) != 2 or "null" not in branches:
        raise ValueError(f"unsupported Avro union: {branches}")
    null = branches.index("null")
    enc_value, dec_value = _codec(branches[1 - null])
    none, some = 2 * null, 2 - 2 * null

    def enc(v, out: bytearray) -> None:
        if v is None:
            out.append(none)
        else:
            out.append(some)
            enc_value(v, out)

    def dec(buf, pos: int):
        if buf[pos] == none:
            return None, pos + 1
        return dec_value(buf, pos + 1)

    return enc, dec


def _record(fields: list[dict], tuples: bool):
    names = [f["name"] for f in fields]
    codecs = [_codec(f["type"]) for f in fields]
    encs = [e for e, _ in codecs]
    decs = [d for _, d in codecs]
    if tuples:
        def enc(row, out: bytearray) -> None:
            for e, v in zip(encs, row, strict=True):
                e(v, out)
        make = tuple
    else:
        # only optional (null-union) fields may be absent from a dict
        keyed = [(f["name"], isinstance(f["type"], list)
                  and "null" in f["type"], e) for f, e in zip(fields, encs)]

        def enc(rec: dict, out: bytearray) -> None:
            for name, optional, e in keyed:
                e(rec.get(name) if optional else rec[name], out)

        def make(vals):
            return dict(zip(names, vals))

    def dec(buf, pos: int):
        vals = []
        for d in decs:
            v, pos = d(buf, pos)
            vals.append(v)
        return make(vals), pos

    return enc, dec


# --------------------------------------------------------------- container

#: the header's metadata, a map of bytes (``avro.schema``, ``avro.codec``)
_ENC_META, _DEC_META = _codec({"type": "map", "values": "bytes"})


def _write(out: io.BufferedIOBase, schema: dict, rows, codec: str,
           block_rows: int | None, meta: dict[str, str] | None = None,
           tuples: bool = False) -> int:
    """Write ``rows`` as one container: the header (``meta`` entries
    join ``avro.schema``/``avro.codec``; keys sorted), then blocks of
    ``block_rows`` rows, each ``codec``-packed and closed by the sync
    marker. ``block_rows=None`` writes exactly one block, empty when
    there are no rows. Returns the row count."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    enc = _codec(schema, tuples)[0]
    header = {"avro.schema": json.dumps(schema), "avro.codec": codec,
              **(meta or {})}
    head = bytearray(MAGIC)
    _ENC_META({k: header[k].encode() for k in sorted(header)}, head)
    out.write(head + SYNC)
    rows = iter(rows)
    n_rows = 0
    while True:
        body = bytearray()
        n = 0
        for row in itertools.islice(rows, block_rows):
            enc(row, body)
            n += 1
        if not n and block_rows:
            return n_rows
        if codec == "deflate":
            # spec: raw DEFLATE, no zlib header/checksum
            c = zlib.compressobj(9, zlib.DEFLATED, -15)
            body = c.compress(body) + c.flush()
        out.write(_enc_long(n) + _enc_long(len(body)))
        out.write(body)
        out.write(SYNC)
        n_rows += n
        if not block_rows:
            return n_rows


def _read(data: bytes, tuples: bool = False
          ) -> tuple[dict, list, dict[str, bytes]]:
    """Decode one container byte string → (schema json, records,
    metadata map with bytes values)."""
    if data[:4] != MAGIC:
        raise ValueError("not an Avro object container file")
    meta, pos = _DEC_META(data, 4)
    sync = data[pos:pos + 16]
    pos += 16
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    dec = _codec(schema, tuples)[1]
    rows: list = []
    end = len(data)
    while pos < end:
        count, pos = _dec_long(data, pos)
        size, pos = _dec_long(data, pos)
        body = data[pos:pos + size]
        pos += size
        if data[pos:pos + 16] != sync:
            raise ValueError("sync marker mismatch")
        pos += 16
        if codec == "deflate":
            body = zlib.decompress(body, -15)
        bp = 0
        for _ in range(count):
            rec, bp = dec(body, bp)
            rows.append(rec)
    return schema, rows, meta


def write_ocf(
    out: io.BufferedIOBase,
    schema: T.StructType,
    rows,
    codec: str = "deflate",
    block_rows: int = 4096,
) -> int:
    """Serialize ``rows`` (iterable of tuples, field order = schema
    order) as one Avro OCF stream. Returns the row count."""
    return _write(out, _avro_schema(schema), rows, codec, block_rows,
                  tuples=True)


def read_ocf(data: bytes) -> tuple[list[str], list[tuple]]:
    """Decode one OCF byte string → (field names, rows)."""
    schema, rows, _ = _read(data, tuples=True)
    return [f["name"] for f in schema["fields"]], rows


def write_ocf_generic(path: str, schema: dict, rows: list[dict],
                      extra_meta: dict[str, str] | None = None) -> int:
    """One deflate-coded Avro OCF at ``path`` (published with
    ``os.replace``), all rows in one block, with a (possibly nested)
    record schema. Returns the file's byte length."""
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "wb") as fh:
        _write(fh, schema, rows, "deflate", None, extra_meta)
        size = fh.tell()
    os.replace(tmp, path)
    return size


def read_ocf_generic(data: bytes) -> tuple[dict, list[dict]]:
    """Decode one OCF byte string → (schema json, rows-as-dicts)."""
    schema, rows, _ = _read(data)
    return schema, rows


def read_ocf_with_meta(data: bytes) -> tuple[dict, list[dict], dict]:
    """Like ``read_ocf_generic`` but also returns the OCF metadata map
    (bytes values) — Iceberg manifests carry the table schema they
    were written under in the ``schema`` key."""
    return _read(data)


# ------------------------------------------------------------- DataFrame API


def write_avro(df, path: str, codec: str = "deflate") -> int:
    """Distributed OCF write: one container file per input partition
    via ``mapInArrow`` (a 1-row file manifest comes back — the only
    driver materialization is #partitions rows). Returns the number
    of files written.

    ``mapInArrow``, not ``mapInPandas``: Arrow record batches carry
    explicit validity masks, so a NULL in a long/double column
    arrives as Python ``None`` from ``to_pylist()`` — the pandas
    route collapses nullable numerics to NaN, which both crashes
    ``int()`` on long columns and silently conflates NULL with a
    genuine NaN double (the ``["null", T]`` union must distinguish
    them). Filenames are ``part-<partitionId>`` and published with an
    atomic ``os.replace``: a retried or speculative task attempt
    lands on the SAME name with identical content instead of leaving
    a duplicate-row orphan for the glob reader (uuid names cannot be
    overwritten by the retry).

    LOCAL-MODE CONTRACT (ADVICE r10): executors open plain local
    paths and the driver sweeps the directory with os.listdir — both
    assume driver and executors share one filesystem. That holds in
    local[*] and on any shared mount (NFS/Fuse); on a multi-node
    cluster with executor-local disks the parts would scatter and
    the overwrite sweep would miss them — route ``path`` through a
    shared filesystem there, or use Spark's builtin spark-avro. The
    sweep also removes stale ``*.tmp-*`` orphans from failed task
    attempts that died between open and os.replace."""
    os.makedirs(path, exist_ok=True)
    for old in os.listdir(path):  # mode=overwrite semantics
        # include tmp orphans from attempts killed mid-write: their
        # pid-suffixed names never collide with live attempts of THIS
        # job (fresh pids), so the sweep is race-free at write start
        if old.endswith(".avro") or ".avro.tmp-" in old:
            os.remove(os.path.join(path, old))
    schema = df.schema

    def part_writer(batches):
        import pyarrow as pa

        from pyspark import TaskContext

        rows = []
        for rb in batches:
            cols = [rb.column(i).to_pylist() for i in range(rb.num_columns)]
            rows.extend(zip(*cols))
        if not rows:
            return
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else os.getpid()
        fn = os.path.join(path, f"part-{pid:05d}.avro")
        tmp = f"{fn}.tmp-{os.getpid()}"
        with open(tmp, "wb") as fh:
            n = write_ocf(fh, schema, rows, codec=codec)
        os.replace(tmp, fn)  # atomic publish; retry overwrites, not adds
        yield pa.record_batch(
            [pa.array([fn], pa.string()), pa.array([n], pa.int64())],
            names=["file", "rows"],
        )

    manifest = df.mapInArrow(part_writer, "file string, rows long")
    return manifest.count()  # bounded: one row per partition


def read_avro(spark, path: str, schema: T.StructType):
    """Distributed OCF read: ``binaryFile`` scan (one task per file)
    + ``mapInArrow`` decode. ``schema`` declares the expected Spark
    column types (explicit-schema read, the scale-mandatory form —
    same contract as the csv roundtrip's explicit schema). Arrow
    arrays are built with explicit types, so decoded ``None`` becomes
    a true NULL while a decoded NaN double stays NaN."""
    import pyarrow as pa

    names = [f.name for f in schema.fields]
    pa_types = [getattr(pa, _spark_type(f.dataType)[1])()
                for f in schema.fields]

    def decode(batches):
        for rb in batches:
            for blob in rb.column(0).to_pylist():
                got, rows = read_ocf(bytes(blob))
                if got != names:
                    raise ValueError(f"field mismatch: {got} != {names}")
                arrays = [
                    pa.array([r[i] for r in rows], type=pa_types[i])
                    for i in range(len(names))
                ]
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    files = spark.read.format("binaryFile").load(f"{path}/*.avro")
    return files.select("content").mapInArrow(decode, schema)


@query(
    "scan_avro_roundtrip",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def scan_avro_roundtrip(spark, sf_dir):
    """orders → Avro OCF (deflate) → read back → agg.

    Closes the r9 verdict's declared format gap: ``spark-avro`` is not
    deployable here (no network, jar absent — probed), so the
    container format is implemented from the public spec in this
    module. The oracle aggregates the ORIGINAL parquet table; a hash
    match proves the OCF write/read cycle lossless — DuckDB never
    reads Avro itself (the ORC-roundtrip pattern)."""
    path = f"{SCRATCH}/avro_roundtrip"
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderpriority", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    # spread before the OCF write: one container file per input
    # partition means the single-row-group fixture scan would encode
    # (and later decode) the whole table in ONE task; spreading makes
    # both sides of the roundtrip parallel (the 100 TB input is
    # already multi-partition — load_spread is the local analogue)
    from ..io import load_spread

    o = load_spread(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    write_avro(o, path, codec="deflate")
    back = read_avro(spark, path, schema)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        sum_pinned(F.col("o_totalprice"), 4)
        .cast("double")
        .alias("sum_price"),
    )

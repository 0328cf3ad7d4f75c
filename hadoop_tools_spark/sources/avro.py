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

Scale shape: the writer runs inside ``mapInArrow`` (one container
file per input partition — no driver funnel; the only driver
materialization is the one-row-per-partition file manifest), and the
reader pairs ``binaryFile`` scans with a ``mapInArrow`` decoder, so
both directions parallelize per file exactly like the bundled
datasource would, and validity masks keep NULL distinct from NaN. Supported Spark types: long, double, string,
boolean, binary, each nullable via the spec's ``["null", T]`` union.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exact import sum_pinned
from ..io import SCRATCH, load
from ..registry import query

MAGIC = b"Obj\x01"
#: fixed sync marker: the spec only requires the 16 bytes be the same
#: within a file; a content-free constant keeps output deterministic.
SYNC = bytes(range(16))

_SPARK_TO_AVRO = {
    T.LongType(): "long",
    T.IntegerType(): "int",
    T.DoubleType(): "double",
    T.StringType(): "string",
    T.BooleanType(): "boolean",
    T.BinaryType(): "bytes",
}


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


def _dec_long(buf: memoryview, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _avro_schema(schema: T.StructType, name: str = "row") -> dict:
    fields = []
    for f in schema.fields:
        t = _SPARK_TO_AVRO.get(f.dataType)
        if t is None:
            raise ValueError(f"unsupported Avro field type: {f.dataType}")
        fields.append(
            {"name": f.name, "type": ["null", t] if f.nullable else t}
        )
    return {"type": "record", "name": name, "fields": fields}


def _enc_value(t: str, v) -> bytes:
    if t == "long" or t == "int":
        return _enc_long(int(v))
    if t == "double":
        return struct.pack("<d", float(v))
    if t == "string":
        b = str(v).encode("utf-8")
        return _enc_long(len(b)) + b
    if t == "bytes":
        return _enc_long(len(v)) + bytes(v)
    if t == "boolean":
        return b"\x01" if v else b"\x00"
    raise ValueError(t)


def write_ocf(
    out: io.BufferedIOBase,
    schema: T.StructType,
    rows,
    codec: str = "deflate",
    block_rows: int = 4096,
) -> int:
    """Serialize ``rows`` (iterable of tuples, field order = schema
    order) as one Avro OCF stream. Returns the row count."""
    aschema = _avro_schema(schema)
    out.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(aschema).encode(),
        "avro.codec": codec.encode(),
    }
    out.write(_enc_long(len(meta)))
    for k, v in sorted(meta.items()):
        kb = k.encode()
        out.write(_enc_long(len(kb)) + kb + _enc_long(len(v)) + v)
    out.write(_enc_long(0))  # end of metadata map
    out.write(SYNC)

    kinds = [
        (f["type"][1] if isinstance(f["type"], list) else f["type"])
        for f in aschema["fields"]
    ]
    nullable = [isinstance(f["type"], list) for f in aschema["fields"]]
    n_rows = 0
    buf = bytearray()
    n_in_block = 0

    def flush():
        nonlocal buf, n_in_block
        if not n_in_block:
            return
        body = bytes(buf)
        if codec == "deflate":
            # spec: raw DEFLATE, no zlib header/checksum
            c = zlib.compressobj(9, zlib.DEFLATED, -15)
            body = c.compress(body) + c.flush()
        out.write(_enc_long(n_in_block) + _enc_long(len(body)))
        out.write(body)
        out.write(SYNC)
        buf = bytearray()
        n_in_block = 0

    for row in rows:
        for i, v in enumerate(row):
            if nullable[i]:
                if v is None:
                    buf += _enc_long(0)  # union branch 0 = null
                    continue
                buf += _enc_long(1)
            buf += _enc_value(kinds[i], v)
        n_in_block += 1
        n_rows += 1
        if n_in_block >= block_rows:
            flush()
    flush()
    return n_rows


def read_ocf(data: bytes) -> tuple[list[str], list[tuple]]:
    """Decode one OCF byte string → (field names, rows)."""
    mv = memoryview(data)
    if bytes(mv[:4]) != MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    meta = {}
    while True:
        n, pos = _dec_long(mv, pos)
        if n == 0:
            break
        if n < 0:  # spec: negative count precedes a byte size
            n = -n
            _, pos = _dec_long(mv, pos)
        for _ in range(n):
            klen, pos = _dec_long(mv, pos)
            k = bytes(mv[pos:pos + klen]).decode()
            pos += klen
            vlen, pos = _dec_long(mv, pos)
            meta[k] = bytes(mv[pos:pos + vlen])
            pos += vlen
    sync = bytes(mv[pos:pos + 16])
    pos += 16
    aschema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    names = [f["name"] for f in aschema["fields"]]
    kinds = [
        (f["type"][1] if isinstance(f["type"], list) else f["type"])
        for f in aschema["fields"]
    ]
    nullable = [isinstance(f["type"], list) for f in aschema["fields"]]

    rows: list[tuple] = []
    end = len(data)
    while pos < end:
        count, pos = _dec_long(mv, pos)
        size, pos = _dec_long(mv, pos)
        body = mv[pos:pos + size]
        pos += size
        if bytes(mv[pos:pos + 16]) != sync:
            raise ValueError("sync marker mismatch")
        pos += 16
        if codec == "deflate":
            body = memoryview(zlib.decompress(bytes(body), -15))
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec!r}")
        bp = 0
        for _ in range(count):
            vals = []
            for i, t in enumerate(kinds):
                if nullable[i]:
                    branch, bp = _dec_long(body, bp)
                    if branch == 0:
                        vals.append(None)
                        continue
                if t in ("long", "int"):
                    v, bp = _dec_long(body, bp)
                elif t == "double":
                    v = struct.unpack_from("<d", body, bp)[0]
                    bp += 8
                elif t == "string":
                    ln, bp = _dec_long(body, bp)
                    v = bytes(body[bp:bp + ln]).decode("utf-8")
                    bp += ln
                elif t == "bytes":
                    ln, bp = _dec_long(body, bp)
                    v = bytes(body[bp:bp + ln])
                    bp += ln
                elif t == "boolean":
                    v = body[bp] == 1
                    bp += 1
                else:
                    raise ValueError(t)
                vals.append(v)
            rows.append(tuple(vals))
    return names, rows


# ------------------------------------------------------------- DataFrame API

_SPARK_TO_ARROW = {
    T.LongType(): "int64",
    T.IntegerType(): "int32",
    T.DoubleType(): "float64",
    T.StringType(): "string",
    T.BooleanType(): "bool",
    T.BinaryType(): "binary",
}


def _arrow_type(dt):
    import pyarrow as pa

    name = _SPARK_TO_ARROW.get(dt)
    if name is None:
        raise ValueError(f"unsupported Avro field type: {dt}")
    return getattr(pa, name)()


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
    pa_types = [_arrow_type(f.dataType) for f in schema.fields]

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

"""LLM-operator semantics beyond the oracle gate: dedup invariants,
clustering correctness, language-ID on genuine multilingual text,
multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_dedup_keeps_min_id_and_is_idempotent(spark, sf_dir):
    from hadoop_tools_spark.operators.llm_dedup import llm_dedup_exact

    kept = sorted(r["doc_id"] for r in llm_dedup_exact(spark, sf_dir).collect())
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    # doubled input (2N rows) must collapse back to N, all original ids
    assert len(kept) == n_docs
    assert all(k < 1000000 for k in kept)  # min id wins over shifted copy


def test_dup_cluster_labels_are_component_minima(spark, sf_dir):
    from hadoop_tools_spark.operators.llm_dedup import (
        llm_dup_cluster,
        llm_neardup_pairs,
    )

    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in llm_dup_cluster(spark, sf_dir).collect()
    }
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in llm_neardup_pairs(spark, sf_dir).collect()
    ]
    # same component -> same label; label is the component min
    import collections

    adj = collections.defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    seen = set()
    for start in adj:
        if start in seen:
            continue
        comp, stack = set(), [start]
        while stack:
            v = stack.pop()
            if v in comp:
                continue
            comp.add(v)
            stack.extend(adj[v] - comp)
        seen |= comp
        expect = min(comp)
        for v in comp:
            assert labels[v] == expect, (v, labels[v], expect)
    # singletons label themselves
    singles = set(labels) - seen
    assert all(labels[v] == v for v in singles)


def test_langid_on_real_multilingual_text(spark):
    from hadoop_tools_spark.operators.llm_text import langid_expr

    rows = [
        ("机器学习是人工智能的一个分支", "zh"),
        ("el niño pregunta ¿dónde está la biblioteca?", "es"),
        ("le garçon est très heureux d'être ici", "fr"),
        ("die größe der übung ist schön", "de"),
        ("the quick brown fox jumps over the lazy dog", "en"),
    ]
    df = spark.createDataFrame(rows, ["text", "expected"])
    got = df.select("expected", langid_expr("text").alias("pred")).collect()
    for r in got:
        assert r["pred"] == r["expected"], r


def test_multimodal_decoders_real_and_gated():
    """Codec-free formats decode for real; compressed formats raise
    (the PIL/ffmpeg seam) — and decode round-trips the generator's
    closed-form pixel values exactly."""
    import numpy as np
    from hadoop_tools_spark.operators.multimodal import decode_image, decode_wav
    from tools.gen_media_fixtures import bmp_bytes, ppm_bytes, wav_bytes

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n\x1a\n")
    w, h, px = decode_image(ppm_bytes(16, 12, 0))
    assert (w, h, px.shape) == (16, 12, (12, 16, 3))
    assert px[3, 5, 2] == (5 * 7 + 3 * 13 + 2 * 29) % 256
    w, h, px = decode_image(bmp_bytes(10, 8, 1))
    assert (w, h, px.shape) == (10, 8, (8, 10, 3))
    # BMP stored BGR bottom-up; decode returns RGB top-down
    assert px[2, 4, 0] == (4 * 11 + 2 * 17 + 2 * 23 + 41) % 256
    rate, ch, samples = decode_wav(wav_bytes(300, 2))
    assert (rate, ch, len(samples)) == (8000, 1, 300)
    assert samples[7] == ((7 * 31 + 2 * 97) % 2048) - 1024


def test_multimodal_feature_extraction_real(spark):
    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        extract_features,
        read_assets,
    )

    assets = read_assets(spark, MEDIA_DIR, glob="img_*")
    feats = extract_features(assets)
    rows = feats.collect()
    assert len(rows) == 12  # 8 ppm + 4 bmp
    assert feats.columns == ["path", "media_type", "width", "height", "mean_pixel"]
    # payload column is gone -> downstream ops are metadata-only
    assert "content" not in feats.columns
    by_name = {r.path.rsplit("/", 1)[-1]: r for r in rows}
    assert (by_name["img_0.ppm"].width, by_name["img_0.ppm"].height) == (16, 12)
    assert (by_name["img_2.bmp"].width, by_name["img_2.bmp"].height) == (20, 14)
    assert all(0.0 <= r.mean_pixel <= 255.0 for r in rows)


def test_quality_filter_rejects_bad_docs(spark):
    from hadoop_tools_spark.registry import QUERIES

    # synthetic degenerate docs: too short, no diversity
    rows = [
        (1, "a a a a a a a a a a", "en", "src0", 19),  # uniq_ratio 0.1
        (2, "one two", "en", "src0", 7),  # too short
        (3, "many different words in this reasonable document here", "en", "src0", 53),
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    df.createOrReplaceTempView("tmp_docs")
    from pyspark.sql import functions as F

    words = F.split("text", " ")
    uniq = F.size(F.array_distinct(words)) / F.size(words)
    kept = df.filter(
        F.size(words).between(5, 10000) & (uniq > 0.2)
    ).collect()
    assert [r["doc_id"] for r in kept] == [3]


def test_multimodal_resize_real_golden(spark):
    """Resize: 1 row per asset, thumbnail is a real 16x16 P6 PPM whose
    bytes equal an independent numpy nearest-neighbor resample."""
    import numpy as np
    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        decode_ppm,
        read_assets,
        resize_images,
    )

    assets = read_assets(spark, MEDIA_DIR, glob="*.ppm")
    out = {r.path.rsplit("/", 1)[-1]: r for r in resize_images(assets, 16, 16).collect()}
    assert len(out) == 8
    hdr = b"P6\n16 16\n255\n"
    for name, r in out.items():
        assert r.thumb[: len(hdr)] == hdr
        assert len(r.thumb) == len(hdr) + 16 * 16 * 3
        # golden: independent recompute from the on-disk fixture
        with open(f"{MEDIA_DIR}/{name}", "rb") as f:
            w, h, px = decode_ppm(f.read())
        ys = (np.arange(16) * h) // 16
        xs = (np.arange(16) * w) // 16
        expect = px[ys][:, xs]
        assert bytes(r.thumb)[len(hdr):] == expect.tobytes(), name
        assert r.mean_thumb == pytest.approx(expect.astype(float).mean())


def test_multimodal_frame_sampling_real(spark):
    """Frame sampling: row count per WAV = ceil((n//160)/2); mean_amp
    matches an independent numpy recompute per frame."""
    import numpy as np
    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        decode_wav,
        read_assets,
        sample_frames,
    )

    assets = read_assets(spark, MEDIA_DIR, glob="*.wav")
    frames = sample_frames(assets, frame_len=160, every_n=2)
    got = frames.collect()
    by_file = {}
    for r in got:
        by_file.setdefault(r.path.rsplit("/", 1)[-1], []).append(r)
    assert len(by_file) == 4
    for name, rows in by_file.items():
        with open(f"{MEDIA_DIR}/{name}", "rb") as f:
            _, _, samples = decode_wav(f.read())
        n_frames = len(samples) // 160
        assert sorted(r.frame_id for r in rows) == list(range(0, n_frames, 2))
        for r in rows:
            frame = samples[r.frame_id * 160 : (r.frame_id + 1) * 160]
            assert r.mean_amp == pytest.approx(frame.astype(float).mean()), name

def test_connected_components_long_chain_converges(spark):
    """A 200-node path graph has diameter 199: plain propagation needs
    ~200 rounds, pointer-doubling must finish well inside the default
    30 — and every node must land on the component minimum (0)."""
    from pyspark.sql import functions as F

    from hadoop_tools_spark.operators.llm_dedup import (
        connected_components,
        edges_from_pairs,
    )

    n = 200
    verts = spark.range(n).select(F.col("id").alias("doc_id"))
    pairs = (
        spark.range(n - 1)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    )
    edges = edges_from_pairs(pairs)
    labels = connected_components(verts, edges).collect()
    assert len(labels) == n
    assert {r.cluster_id for r in labels} == {0}


def test_connected_components_raises_on_exhausted_rounds(spark):
    import pytest
    from pyspark.sql import functions as F

    from hadoop_tools_spark.operators.llm_dedup import (
        connected_components,
        edges_from_pairs,
    )

    n = 200
    verts = spark.range(n).select(F.col("id").alias("doc_id"))
    pairs = (
        spark.range(n - 1)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    )
    edges = edges_from_pairs(pairs)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(verts, edges, max_rounds=2)

def test_decode_png_matches_ppm_twin():
    """Every png_{i}.png fixture must decode to the exact pixel array
    of its img_{i}.ppm twin — covers all five PNG filter types (rows
    cycle 0-4 at encode time)."""
    import os

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        decode_png,
        decode_ppm,
    )

    import numpy as np

    for i in range(8):
        with open(os.path.join(MEDIA_DIR, f"png_{i}.png"), "rb") as f:
            png = f.read()
        with open(os.path.join(MEDIA_DIR, f"img_{i}.ppm"), "rb") as f:
            ppm = f.read()
        wp, hp, pxp = decode_png(png)
        wm, hm, pxm = decode_ppm(ppm)
        assert (wp, hp) == (wm, hm)
        assert np.array_equal(pxp, pxm), f"pixel mismatch in png_{i}"


def test_decode_png_grey_and_rgba_profiles():
    """Grey (type 0) replicates to 3 channels; RGBA (type 6) drops
    alpha — synthetic minimal PNGs, filter 0 rows."""
    import struct
    import zlib

    import numpy as np

    from hadoop_tools_spark.operators.multimodal import decode_png

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    def build(w, h, ctype, nch, pxfn):
        stream = bytearray()
        for y in range(h):
            stream.append(0)
            for x in range(w):
                for c in range(nch):
                    stream.append(pxfn(x, y, c))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(stream)))
            + chunk(b"IEND", b"")
        )

    grey = build(5, 4, 0, 1, lambda x, y, c: (x * 3 + y * 7) % 256)
    w, h, px = decode_png(grey)
    assert (w, h, px.shape) == (5, 4, (4, 5, 3))
    assert np.array_equal(px[:, :, 0], px[:, :, 1])
    assert px[2, 3, 0] == (3 * 3 + 2 * 7) % 256

    rgba = build(4, 3, 6, 4, lambda x, y, c: (x + y * 5 + c * 11) % 256)
    w, h, px = decode_png(rgba)
    assert (w, h, px.shape) == (4, 3, (3, 4, 3))
    assert px[1, 2, 2] == (2 + 1 * 5 + 2 * 11) % 256  # alpha dropped

def test_jpeg_roundtrip_fidelity():
    """encode→decode round trip on smooth gradients stays within
    tight error bounds at q90 (lossy, so not bit-exact), exact dims,
    and odd (non-multiple-of-8) sizes exercise edge-block
    replication."""
    import numpy as np

    from hadoop_tools_spark.operators.jpeg import decode_jpeg, encode_jpeg

    for (w, h) in [(16, 12), (33, 21), (5, 7)]:
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        px = np.stack(
            [
                (xx * 3 + yy * 2) % 256,
                (xx * 5 + 30) % 256,
                (yy * 4 + 60) % 256,
            ],
            axis=2,
        ).astype(np.uint8)
        w2, h2, out = decode_jpeg(encode_jpeg(px, quality=90))
        assert (w2, h2) == (w, h)
        diff = np.abs(out.astype(int) - px.astype(int))
        assert diff.max() <= 8, diff.max()
        assert diff.mean() <= 2.0, diff.mean()


def test_jpeg_fixture_decode_matches_source_function():
    """Committed jpg_{i}.jpg fixtures decode close to the generator's
    closed-form pixel arrays (same bounds as the round-trip)."""
    import os

    import numpy as np

    from hadoop_tools_spark.operators.jpeg import decode_jpeg
    from hadoop_tools_spark.operators.multimodal import MEDIA_DIR

    for i in range(6):
        w, h = 16 + i * 4, 12 + i * 3
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        px = np.stack(
            [
                (xx * (3 + i) + yy * 2) % 256,
                (xx * 5 + yy * (2 + i) + 30) % 256,
                (yy * 4 + i * 17 + 60) % 256,
            ],
            axis=2,
        ).astype(np.uint8)
        with open(os.path.join(MEDIA_DIR, f"jpg_{i}.jpg"), "rb") as f:
            w2, h2, out = decode_jpeg(f.read())
        assert (w2, h2) == (w, h)
        diff = np.abs(out.astype(int) - px.astype(int))
        # the mod-256 wraps create a few sharp edges -> local ringing;
        # mean error stays tight
        assert diff.mean() <= 3.0, (i, diff.mean())


def test_jpeg12_roundtrip_fidelity():
    """12-bit extended sequential (SOF1) encode→decode: exact dims,
    error bounds on the 8-bit-reduced output (decode >> keeps the top
    8 of 12 bits; compare vs source >> 4), odd sizes for edge blocks,
    and header invariants (SOF1 marker, precision byte 12, 16-bit
    DQT)."""
    import numpy as np

    from hadoop_tools_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_ext12,
    )

    for (w, h) in [(16, 12), (33, 21), (5, 7)]:
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        px = np.stack(
            [
                (xx * 48 + yy * 32) % 4096,
                (xx * 80 + 480) % 4096,
                (yy * 64 + 960) % 4096,
            ],
            axis=2,
        ).astype(np.uint16)
        blob = encode_jpeg_ext12(px, quality=92)
        # SOF1 marker present, SOF0 absent; precision byte is 12;
        # both DQT segments declare Pq=1 (16-bit entries, seglen 131)
        sof1 = blob.find(b"\xff\xc1")
        assert sof1 > 0 and blob.find(b"\xff\xc0") < 0
        assert blob[sof1 + 4] == 12
        dqt = blob.find(b"\xff\xdb")
        assert blob[dqt + 4] >> 4 == 1 and blob[dqt + 3] == 131
        w2, h2, out = decode_jpeg(blob)
        assert (w2, h2) == (w, h)
        diff = np.abs(out.astype(int) - (px >> 4).astype(int))
        assert diff.max() <= 8, diff.max()
        assert diff.mean() <= 2.0, diff.mean()


def test_jpeg12_fixture_decode_matches_source_function():
    """Committed jpg12_{i}.jpg fixtures decode close to the
    generator's closed-form 12-bit arrays (mod-4096 wraps allow local
    ringing; mean stays tight)."""
    import os

    import numpy as np

    from hadoop_tools_spark.operators.jpeg import decode_jpeg
    from hadoop_tools_spark.operators.multimodal import MEDIA_DIR

    for i in range(3):
        w, h = 18 + i * 5, 14 + i * 4
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        px = np.stack(
            [
                (xx * (40 + 7 * i) + yy * 23) % 4096,
                (xx * 31 + yy * (52 + 9 * i) + 600) % 4096,
                (xx * 17 + yy * 11 + i * 301 + 1200) % 4096,
            ],
            axis=2,
        ).astype(np.uint16)
        with open(os.path.join(MEDIA_DIR, f"jpg12_{i}.jpg"), "rb") as f:
            w2, h2, out = decode_jpeg(f.read())
        assert (w2, h2) == (w, h)
        diff = np.abs(out.astype(int) - (px >> 4).astype(int))
        assert diff.mean() <= 3.0, (i, diff.mean())


def test_jpeg_lossless_roundtrip_exact_all_predictors():
    """SOF3 lossless: encode→decode is BIT-EXACT for every T.81 H.1
    predictor (1-7), RGB and greyscale, on full-range random data —
    no smoothness assumption, unlike the lossy bounds."""
    import numpy as np

    from hadoop_tools_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_lossless,
    )

    rng = np.random.RandomState(11)
    for pred in range(1, 8):
        px = rng.randint(0, 256, size=(13, 17, 3)).astype(np.uint8)
        w, h, out = decode_jpeg(encode_jpeg_lossless(px, predictor=pred))
        assert (w, h) == (17, 13)
        assert np.array_equal(out, px), pred
    g = rng.randint(0, 256, size=(7, 5)).astype(np.uint8)
    _, _, out = decode_jpeg(encode_jpeg_lossless(g, predictor=7))
    assert np.array_equal(out[:, :, 0], g)


def test_jpeg_lossless_16bit_mod_wrap_exact():
    """16-bit lossless differences run mod 2^16 (T.81 H.1), hitting
    the SSSS=16 escape on full-range random data; the raw-plane
    decode surface must reproduce the source exactly."""
    import numpy as np

    from hadoop_tools_spark.operators.jpeg import (
        decode_lossless_planes,
        encode_jpeg_lossless,
    )

    rng = np.random.RandomState(3)
    px = rng.randint(0, 65536, size=(9, 11, 3)).astype(np.uint16)
    prec, pt, planes = decode_lossless_planes(encode_jpeg_lossless(px, predictor=4))
    assert (prec, pt) == (16, 0)
    assert np.array_equal(np.stack(planes, axis=2), px.astype(np.int64))


def test_jpeg_lossless_fixtures_bit_exact_to_ppm_recipe():
    """Committed jls_{i}.jpg fixtures (predictors rotating 1-7) decode
    bit-identically to the img_{i}.ppm closed-form pixel function —
    the exactness the cross-format oracle key relies on."""
    import os

    import numpy as np

    from hadoop_tools_spark.operators.jpeg import decode_jpeg
    from hadoop_tools_spark.operators.multimodal import MEDIA_DIR

    for i in range(8):
        w, h = 16 + i * 3, 12 + i * 2
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        px = np.stack(
            [(xx * 7 + yy * 13 + c * 29 + i * 31) % 256 for c in range(3)],
            axis=2,
        ).astype(np.uint8)
        with open(os.path.join(MEDIA_DIR, f"jls_{i}.jpg"), "rb") as f:
            w2, h2, out = decode_jpeg(f.read())
        assert (w2, h2) == (w, h)
        assert np.array_equal(out, px), i


def test_jpeg_lossless_rejects_non_rgb_component_counts():
    """A 2-component lossless frame has no RGB interpretation; the
    normalizer must raise (so the tolerant seam flags the row) rather
    than emit a malformed (h, w, 2) stack."""
    import numpy as np
    import pytest

    from hadoop_tools_spark.operators.jpeg import _decode_lossless

    with pytest.raises(NotImplementedError):
        _decode_lossless(8, 0, [np.zeros((2, 2), dtype=np.int64)] * 2)


def test_decode_image_exception_surface_is_closed():
    """Fuzz the decode seam: truncations and random bit-flips of every
    committed media fixture must raise ONLY the three classes
    extract_features_tolerant catches — any other class would kill an
    executor task at corpus scale instead of flagging the row. (This
    harness caught struct.error/KeyError/StopIteration/OverflowError
    escaping before decode_image normalized them.)

    DeprecationWarnings are escalated to errors: numpy's int32
    out-of-bounds assignment warning (the JPEG DC-predictor walk on
    corrupt streams, fixed by _mask_dc) becomes a hard OverflowError on
    future numpy — this pins that it can never resurface."""
    import glob
    import os
    import random
    import warnings

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        decode_image,
    )

    rng = random.Random(99)
    for f in sorted(glob.glob(os.path.join(MEDIA_DIR, "*"))):
        with open(f, "rb") as fh:
            blob = fh.read()
        # tiny prefixes land INSIDE text headers (the PPM field scan
        # hung forever on these before the EOF guards)
        muts = [blob[:3], blob[:7], blob[:15]]
        muts += [blob[: int(len(blob) * fr)] for fr in (0.2, 0.6, 0.9)]
        for _ in range(12):
            b = bytearray(blob)
            for _ in range(rng.randint(1, 4)):
                p = rng.randrange(len(b))
                b[p] ^= 1 << rng.randrange(8)
            muts.append(bytes(b))
        for m in muts:
            try:
                with warnings.catch_warnings():
                    warnings.simplefilter("error", DeprecationWarning)
                    decode_image(m)
            except (NotImplementedError, ValueError, IndexError):
                pass  # the tolerant seam's catch list — allowed


def test_webdataset_shard_fixtures_are_valid_ustar():
    """The hand-rolled shard_{i}.tar fixtures must be readable by the
    stdlib tarfile module (independent USTAR conformance: names,
    sizes, payloads, checksums), and carry the paired .txt/.ppm
    members per webdataset stem."""
    import io
    import os
    import tarfile

    from hadoop_tools_spark.operators.multimodal import MEDIA_DIR

    for i in range(3):
        with open(os.path.join(MEDIA_DIR, f"shard_{i}.tar"), "rb") as f:
            blob = f.read()
        with tarfile.open(fileobj=io.BytesIO(blob)) as tf:
            names = tf.getnames()
            assert len(names) == 2 * (2 + i)
            stems = {n.split(".")[0] for n in names}
            for stem in stems:
                assert f"{stem}.txt" in names and f"{stem}.ppm" in names
            for m in tf.getmembers():
                payload = tf.extractfile(m).read()
                assert len(payload) == m.size
                if m.name.endswith(".ppm"):
                    assert payload.startswith(b"P6\n")


def test_decode_ppm_truncated_header_raises_not_hangs():
    """A PPM cut mid-header-field must raise ValueError immediately —
    the unguarded field scan used to increment past EOF forever (a
    permanently hung executor task, worse than any exception)."""
    import pytest

    from hadoop_tools_spark.operators.multimodal import decode_image

    for blob in (b"P6\n123", b"P6\n", b"P6\n12 34", b"P6\n#comment"):
        with pytest.raises(ValueError):
            decode_image(blob)


def test_webdataset_walk_drops_torn_payload(spark, tmp_path):
    """A shard truncated INSIDE a member's payload must drop that
    member (a digest over partial bytes under the full claimed size
    would be a phantom row), keeping the intact members before it."""
    import os

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        read_assets,
        webdataset_members,
    )

    with open(os.path.join(MEDIA_DIR, "shard_0.tar"), "rb") as f:
        blob = f.read()
    # shard_0: 4 members; cut inside the LAST member's payload
    offs, off = [], 0
    while off + 512 <= len(blob) and blob[off] != 0:
        offs.append(off)
        size = int(blob[off + 124 : off + 135].decode(), 8)
        off += 512 + (size + 511) // 512 * 512
    assert len(offs) == 4
    (tmp_path / "shard_cut.tar").write_bytes(blob[: offs[3] + 512 + 10])

    out = webdataset_members(
        read_assets(spark, str(tmp_path), glob="shard_*")
    ).collect()
    assert len(out) == 3  # the three intact members


def test_warc_walk_stops_on_corrupt_header_terminator(spark, tmp_path):
    """Flipping a byte of a mid-file header's CRLFCRLF must stop the
    walk at that record (fail closed) — not emit a garbage row whose
    digest covers the wrong byte range."""
    import os

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        read_assets,
        warc_records,
    )

    with open(os.path.join(MEDIA_DIR, "crawl_1.warc"), "rb") as f:
        blob = bytearray(f.read())
    # corrupt the CRLFCRLF terminating the SECOND record's header
    second = blob.index(b"WARC/1.0", 8)
    term = blob.index(b"\r\n\r\n", second)
    blob[term] = 0x58  # 'X'
    (tmp_path / "crawl_bad.warc").write_bytes(bytes(blob))

    out = warc_records(
        read_assets(spark, str(tmp_path), glob="crawl_*")
    ).collect()
    assert len(out) == 1  # only the leading warcinfo record
    assert out[0].record_type == "warcinfo"


def test_webdataset_walk_survives_torn_shard(spark, tmp_path):
    """A shard torn mid-header (non-octal size bytes) must yield the
    members BEFORE the tear, not a task failure — the same
    flag-don't-die contract as the tolerant image seam."""
    import os

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        read_assets,
        webdataset_members,
    )

    with open(os.path.join(MEDIA_DIR, "shard_1.tar"), "rb") as f:
        blob = bytearray(f.read())
    # shard_1 has 6 members; corrupt the size field of the 3rd header
    offs, off = [], 0
    while off + 512 <= len(blob) and blob[off] != 0:
        offs.append(off)
        size = int(bytes(blob[off + 124 : off + 135]).decode(), 8)
        off += 512 + (size + 511) // 512 * 512
    assert len(offs) == 6
    blob[offs[2] + 124 : offs[2] + 135] = b"XXXXXXXXXXX"
    (tmp_path / "shard_torn.tar").write_bytes(bytes(blob))

    out = webdataset_members(
        read_assets(spark, str(tmp_path), glob="shard_*")
    ).collect()
    assert len(out) == 2  # the two members before the torn header
    assert sorted(r.member for r in out) == ["sample10.ppm", "sample10.txt"]


def test_warc_walk_survives_torn_record(spark, tmp_path):
    """An archive torn mid-record (header without its CRLFCRLF
    terminator) must yield the records BEFORE the tear, not a task
    failure."""
    import os

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        read_assets,
        warc_records,
    )

    with open(os.path.join(MEDIA_DIR, "crawl_1.warc"), "rb") as f:
        blob = f.read()
    # crawl_1 has 4 records (warcinfo + 3 responses); cut inside the
    # third record's header, before its blank line
    third = blob.index(b"WARC/1.0", blob.index(b"WARC/1.0", 8) + 8)
    torn = blob[: third + 40]
    (tmp_path / "crawl_torn.warc").write_bytes(torn)

    out = warc_records(
        read_assets(spark, str(tmp_path), glob="crawl_*")
    ).collect()
    assert len(out) == 2
    assert sorted(r.record_type for r in out) == ["response", "warcinfo"]


def test_warc_gzip_members_match_plain_twin():
    """Pure-Python invariant behind the llm_warc_gzip oracle: the
    concatenated decompressed members of crawlgz_N reproduce the
    plain crawl_N byte stream exactly."""
    import os

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        _gzip_members,
    )

    for i in range(3):
        with open(os.path.join(MEDIA_DIR, f"crawlgz_{i}.warc.gz"), "rb") as f:
            gz = f.read()
        with open(os.path.join(MEDIA_DIR, f"crawl_{i}.warc"), "rb") as f:
            plain = f.read()
        members = list(_gzip_members(gz))
        # warcinfo + responses (+ crawl_2's three hostile records)
        assert len(members) == 2 + i + 1 + (3 if i == 2 else 0)
        assert b"".join(members) == plain
        # every member is exactly one record (the splittability
        # property CommonCrawl relies on)
        assert all(m.startswith(b"WARC/1.0") for m in members)


def test_warc_gzip_walk_survives_torn_member(spark, tmp_path):
    """An archive truncated inside its FINAL gzip member (trailer
    never arrives) must yield the records before the tear, not a
    task failure."""
    import os

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        read_assets,
        warc_gzip_records,
    )

    with open(os.path.join(MEDIA_DIR, "crawlgz_1.warc.gz"), "rb") as f:
        blob = f.read()
    (tmp_path / "crawlgz_torn.warc.gz").write_bytes(blob[:-10])

    out = warc_gzip_records(
        read_assets(spark, str(tmp_path), glob="crawlgz_*")
    ).collect()
    assert len(out) == 3  # crawl_1 holds 4 records; the last is torn
    assert sorted(r.record_type for r in out) == [
        "response", "response", "warcinfo",
    ]


def test_warc_gzip_walk_stops_on_corrupt_magic(spark, tmp_path):
    """Corrupting the SECOND member's gzip magic must stop the walk
    there (fail closed) — mid-stream junk is never skipped over."""
    import os

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        _gzip_members,
        read_assets,
        warc_gzip_records,
    )

    with open(os.path.join(MEDIA_DIR, "crawlgz_1.warc.gz"), "rb") as f:
        blob = bytearray(f.read())
    first = list(_gzip_members(bytes(blob)))[0]
    # locate member 2's start: re-walk consumed offsets via zlib
    import zlib

    d = zlib.decompressobj(wbits=31)
    d.decompress(bytes(blob))
    second_off = len(blob) - len(d.unused_data)
    assert blob[second_off : second_off + 2] == b"\x1f\x8b"
    blob[second_off] = 0x58
    (tmp_path / "crawlgz_bad.warc.gz").write_bytes(bytes(blob))

    out = warc_gzip_records(
        read_assets(spark, str(tmp_path), glob="crawlgz_*")
    ).collect()
    assert len(out) == 1
    assert out[0].record_type == "warcinfo"
    assert out[0].content_length == len(first.split(b"\r\n\r\n", 1)[1]) - 4


def test_warc_hostile_records_framed_and_filtered(spark):
    """crawl_2's three hostile-but-legal records must flow through
    the walks exactly as the oracles do: the ~2 KB-header record is
    framed (terminator window 8192 bytes), the folded-header
    metadata record passes the line validator, and the bodyless
    response appears in the record walk but NOT in the HTML walk."""
    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        read_assets,
        warc_html_bodies,
        warc_records,
    )

    assets = read_assets(spark, MEDIA_DIR, glob="crawl_2.warc")
    recs = warc_records(assets).collect()
    by_uri = {r.target_uri: r for r in recs}
    assert len(recs) == 8  # warcinfo + 4 pages + long-hdr + bodyless + meta

    long = [u for u in by_uri if "/deep/" in u]
    assert long and len(long[0]) > 1200  # header really exceeds 1200 B
    assert by_uri[long[0]].record_type == "response"

    assert by_uri["http://example.com/2/no-body"].content_length == 45
    assert by_uri["http://example.com/2/meta"].record_type == "metadata"

    html = warc_html_bodies(assets).collect()
    uris = {r.target_uri for r in html}
    assert long[0] in uris  # long header framed, body extracted
    assert "http://example.com/2/no-body" not in uris  # bodyless skipped
    assert "http://example.com/2/meta" not in uris  # non-response skipped


def test_warc_cdx_offsets_support_random_access(spark):
    """The property the CDX index exists for: for EVERY indexed row,
    reading exactly bytes [offset, offset+length) out of the archive
    yields one self-contained record whose re-framed identity matches
    the indexed one — no scan of the surrounding archive needed."""
    import os
    import re

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        _warc_frames,
        llm_warc_cdx,
    )

    rows = llm_warc_cdx(spark, None).collect()
    # 3+4+8 records across crawl_0/1/2 (incl. the hostile three)
    assert len(rows) == 15
    by_path = {}
    for r in rows:
        by_path.setdefault(r.path, []).append(r)
    for path, idx in by_path.items():
        with open(path, "rb") as f:
            blob = f.read()
        # offsets tile the archive end to end, no gaps or overlap
        spans = sorted((r.rec_offset, r.rec_length) for r in idx)
        pos = 0
        for off, n in spans:
            assert off == pos
            pos += n
        assert pos == len(blob)
        for r in idx:
            rec = blob[r.rec_offset : r.rec_offset + r.rec_length]
            frames = list(_warc_frames(rec))
            assert len(frames) == 1  # self-contained: exactly 1 record
            _off, n, hdr, _payload = frames[0]
            assert n == r.rec_length
            uri = re.search(r"WARC-Target-URI: ([^\r]+)", hdr)
            assert (uri.group(1) if uri else "") == r.target_uri


def test_warc_walks_fail_closed_at_every_truncation():
    """Exhaustive version of the targeted torn-record tests: for
    EVERY prefix length of crawl_0 (and its gzip twin), the walks
    must raise nothing and yield only records that are intact in the
    prefix — i.e. a tear anywhere degrades output, never crashes a
    task or emits a mis-framed row."""
    import os

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        _gzip_members,
        _warc_frames,
    )

    with open(os.path.join(MEDIA_DIR, "crawl_0.warc"), "rb") as f:
        plain = f.read()
    full = list(_warc_frames(plain))
    for cut in range(len(plain)):
        got = list(_warc_frames(plain[:cut]))
        # every yielded frame must be one of the true frames, fully
        # inside the prefix, and they must be a prefix-run of them
        assert got == [fr for fr in full[: len(got)]]
        for off, n, _h, _p in got:
            assert off + n <= cut + 4  # only the final CRLFCRLF may
            # be what the cut removed (the walk doesn't require it)

    with open(os.path.join(MEDIA_DIR, "crawlgz_0.warc.gz"), "rb") as f:
        gz = f.read()
    members = list(_gzip_members(gz))
    for cut in range(len(gz)):
        got = list(_gzip_members(gz[:cut]))
        assert got == members[: len(got)]  # prefix-run, never garbage


def test_warc_frames_roundtrip_random_records():
    """Generative round-trip: random records — arbitrary binary
    payloads (including CRLFCRLF-bearing and empty ones), URIs, and
    folded header lines — serialized by an INDEPENDENT in-test
    writer must be recovered by `_warc_frames` exactly: same count,
    same headers, same payload bytes, offsets tiling the archive."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hadoop_tools_spark.operators.multimodal import _warc_frames

    rec = st.tuples(
        st.sampled_from(["response", "request", "metadata", "warcinfo"]),
        st.text(
            st.characters(min_codepoint=33, max_codepoint=126),
            min_size=0,
            max_size=200,
        ),
        st.binary(min_size=0, max_size=300),
        st.booleans(),  # include a folded header line?
    )

    def serialize(records) -> bytes:
        out = bytearray()
        for wtype, uri, payload, fold in records:
            hdr = [b"WARC/1.0", b"WARC-Type: " + wtype.encode()]
            if uri:
                hdr.append(b"WARC-Target-URI: " + uri.encode())
            if fold:
                hdr.append(b"X-Fold: a")
                hdr.append(b"\tcontinued")
            hdr.append(b"Content-Length: " + str(len(payload)).encode())
            out += b"\r\n".join(hdr) + b"\r\n\r\n" + payload + b"\r\n\r\n"
        return bytes(out)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(rec, min_size=0, max_size=6))
    def check(records):
        blob = serialize(records)
        frames = list(_warc_frames(blob))
        assert len(frames) == len(records)
        pos = 0
        for (wtype, uri, payload, _fold), (off, n, hdr, got) in zip(
            records, frames
        ):
            assert off == pos
            pos += n
            assert got == payload
            assert f"WARC-Type: {wtype}" in hdr
            if uri:
                assert f"WARC-Target-URI: {uri}" in hdr
        assert pos == len(blob)

    check()


def test_wikidump_bz2_streams_match_plain_twin():
    """Multistream invariant the round-6 oracle will rely on: the
    concatenated decompressed bz2 streams of wiki_N.xml.bz2 reproduce
    the plain wiki_N.xml byte stream exactly, and every stream after
    the header is page-aligned (the enwiki splittability property)."""
    import os

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        _bz2_streams,
    )

    for i in range(3):
        with open(os.path.join(MEDIA_DIR, f"wiki_{i}.xml.bz2"), "rb") as f:
            multi = f.read()
        with open(os.path.join(MEDIA_DIR, f"wiki_{i}.xml"), "rb") as f:
            plain = f.read()
        streams = list(_bz2_streams(multi))
        assert b"".join(streams) == plain
        n_pages = 5 + 2 * i
        # header + ceil(pages/2) page blocks + footer
        assert len(streams) == 1 + (n_pages + 1) // 2 + 1
        for s in streams[1:-1]:
            assert s.lstrip().startswith(b"<page>")
            assert s.rstrip().endswith(b"</page>")


def test_wikidump_pages_walk_matches_direct_parse(spark):
    """The Spark walk's rows must equal a direct single-process parse
    of the plain twin: same page ids, namespaces, titles, text
    digests, and char counts."""
    import hashlib
    import os
    import re

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        read_assets,
        wikidump_pages,
    )

    rows = wikidump_pages(
        read_assets(spark, MEDIA_DIR, glob="wiki_*.xml.bz2")
    ).collect()
    assert len(rows) == (5 + 0) + (5 + 2) + (5 + 4)

    got = {(r.page_id): r for r in rows}
    for i in range(3):
        with open(os.path.join(MEDIA_DIR, f"wiki_{i}.xml")) as f:
            xml = f.read()
        pages = re.findall(r"<page>.*?</page>", xml, re.S)
        assert len(pages) == 5 + 2 * i
        for p in pages:
            pid = int(re.search(r"<id>(\d+)</id>", p).group(1))
            body = re.search(r"<text[^>]*>(.*?)</text>", p, re.S).group(1)
            r = got[pid]
            assert r.ns == int(re.search(r"<ns>(\d+)</ns>", p).group(1))
            assert r.title == re.search(
                r"<title>([^<]*)</title>", p
            ).group(1)
            assert r.text_md5 == hashlib.md5(body.encode()).hexdigest()
            assert r.n_text_chars == len(body)


def test_wikidump_walk_fails_closed():
    """Torn final stream drops only that stream; corrupt mid-file
    magic stops the walk; every truncation degrades, never crashes."""
    import os

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        _bz2_streams,
    )

    with open(os.path.join(MEDIA_DIR, "wiki_1.xml.bz2"), "rb") as f:
        multi = f.read()
    full = list(_bz2_streams(multi))
    torn = list(_bz2_streams(multi[:-5]))
    assert torn == full[: len(torn)] and len(torn) < len(full)

    # corrupt the second stream's magic: walk stops after stream 1
    import bz2 as _bz2

    d = _bz2.BZ2Decompressor()
    d.decompress(multi)
    second = len(multi) - len(d.unused_data)
    assert multi[second : second + 3] == b"BZh"
    bad = bytearray(multi)
    bad[second] = 0x51
    assert list(_bz2_streams(bytes(bad))) == full[:1]

    for cut in range(0, len(multi), 7):
        got = list(_bz2_streams(multi[:cut]))
        assert got == full[: len(got)]


def test_warc_fetch_ranged_reads_match_full_scan(spark):
    """The CDX consumer contract: fetching a filtered URI set through
    the index (seek + bounded read per record) returns exactly the
    identity tuples the full-scan walk produces for those URIs —
    including the hostile long-header and bodyless records."""
    from pyspark.sql import functions as F

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        llm_warc_cdx,
        read_assets,
        warc_fetch,
        warc_records,
    )

    cdx = llm_warc_cdx(spark, None)
    wanted = cdx.filter(F.length("target_uri") % 2 == 0)
    fetched = {
        (r.path, r.target_uri): r for r in warc_fetch(wanted).collect()
    }
    scan = {
        (r.path, r.target_uri): r
        for r in warc_records(
            read_assets(spark, MEDIA_DIR, glob="crawl_*.warc")
        ).collect()
        if len(r.target_uri) % 2 == 0
    }
    assert fetched.keys() == scan.keys() and fetched
    for uri, r in fetched.items():
        assert r.fetch_ok
        assert r.record_type == scan[uri].record_type
        assert r.content_length == scan[uri].content_length
        assert r.payload_md5 == scan[uri].payload_md5


def test_warc_fetch_flags_stale_offsets(spark):
    """A stale index entry (offset pointing mid-record) must yield
    fetch_ok = false, never a crash or a silently mis-framed row."""
    from pyspark.sql import functions as F

    from hadoop_tools_spark.operators.multimodal import (
        llm_warc_cdx,
        warc_fetch,
    )

    cdx = llm_warc_cdx(spark, None).limit(3)
    stale = cdx.withColumn("rec_offset", F.col("rec_offset") + 7)
    rows = warc_fetch(stale).collect()
    assert rows and all(not r.fetch_ok for r in rows)


def test_warc_fetch_wrong_record_and_bad_spans_flagged(spark):
    """Review-pass regressions: a stale offset landing on a DIFFERENT
    intact record must not return that record labeled with the
    requested URI; a length off by +50 or -4 must fail the exact-span
    check; negative offsets and a vanished archive flag rows instead
    of crashing the task."""
    from pyspark.sql import functions as F

    from hadoop_tools_spark.operators.multimodal import (
        llm_warc_cdx,
        warc_fetch,
    )

    cdx = llm_warc_cdx(spark, None).filter(
        F.col("target_uri").startswith("http://example.com/0/")
    )
    rows = cdx.collect()
    assert len(rows) >= 2
    # point row 0's URI at row 1's record span: intact record, wrong uri
    crossed = cdx.limit(2).withColumn(
        "rec_offset",
        F.when(
            F.col("target_uri") == rows[0].target_uri,
            F.lit(rows[1].rec_offset),
        ).otherwise(F.lit(rows[0].rec_offset)),
    ).withColumn(
        "rec_length",
        F.when(
            F.col("target_uri") == rows[0].target_uri,
            F.lit(rows[1].rec_length),
        ).otherwise(F.lit(rows[0].rec_length)),
    )
    assert all(not r.fetch_ok for r in warc_fetch(crossed).collect())

    # +50 only asserts on MID-archive records: for the final record
    # the read EOF-truncates back to exactly the right bytes, which
    # is a genuinely correct fetch
    mid = cdx.filter(F.col("target_uri").endswith("page0"))
    long_len = warc_fetch(
        mid.withColumn("rec_length", F.col("rec_length") + 50)
    ).collect()
    assert long_len and all(not r.fetch_ok for r in long_len)
    short_len = warc_fetch(
        cdx.withColumn("rec_length", F.col("rec_length") - 4)
    ).collect()
    assert short_len and all(not r.fetch_ok for r in short_len)

    neg = warc_fetch(cdx.withColumn("rec_offset", F.lit(-9))).collect()
    assert neg and all(not r.fetch_ok for r in neg)

    gone = warc_fetch(
        cdx.withColumn("path", F.lit("/nonexistent/archive.warc"))
    ).collect()
    assert gone and all(not r.fetch_ok for r in gone)


def test_wikidump_walk_stops_on_page_spanning_streams(spark, tmp_path):
    """Streams cut by BYTE count instead of page count (a page spans
    two streams) must fail closed: complete pages before the split
    are kept, the dangling fragment and everything after are dropped
    — never a silently vanished page with rows continuing."""
    import bz2
    import os

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        read_assets,
        wikidump_pages,
    )

    with open(os.path.join(MEDIA_DIR, "wiki_1.xml"), "rb") as f:
        plain = f.read()
    # cut inside the FOURTH page: streams are [prefix incl. 3 whole
    # pages + a fragment] and [rest]
    fourth = [plain.index(b"<page>", 0)]
    for _ in range(3):
        fourth.append(plain.index(b"<page>", fourth[-1] + 1))
    cut = fourth[-1] + 40
    multi = bz2.compress(plain[:cut]) + bz2.compress(plain[cut:])
    (tmp_path / "wiki_9.xml.bz2").write_bytes(multi)

    rows = wikidump_pages(
        read_assets(spark, str(tmp_path), glob="wiki_*.xml.bz2")
    ).collect()
    ids = sorted(r.page_id for r in rows)
    assert ids == [1000, 1001, 1002]  # 3 complete pages, rest dropped


def test_wikitext_clean_matches_python_reference(spark):
    """The JVM transform chain must equal a Python re implementation
    of the identical rules over every fixture page — and actually
    strip the markup the fixtures carry (templates, piped and plain
    wikilinks, bold/italic, headings)."""
    import re

    from pyspark.sql import functions as F

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        read_assets,
        wikidump_text,
        wikitext_clean,
    )

    df = wikidump_text(read_assets(spark, MEDIA_DIR, glob="wiki_*.xml.bz2"))
    rows = df.select(
        "page_id", "wikitext", wikitext_clean(F.col("wikitext")).alias("t")
    ).collect()
    assert len(rows) == 21

    def ref(s):
        s = re.sub(r"\{\{[^{}]*\}\}", " ", s)
        s = re.sub(r"\{\{[^{}]*\}\}", " ", s)
        s = re.sub(r"\[\[[^\[\]|]*\|([^\[\]|]*)\]\]", r"\1", s)
        s = re.sub(r"\[\[([^\[\]|]*)\]\]", r"\1", s)
        s = re.sub(r"'{2,}", "", s)
        s = re.sub(r"={2,}", " ", s)
        return re.sub(r"\s+", " ", s).strip()

    for r in rows:
        assert r.t == ref(r.wikitext), r.page_id
        assert "{{" not in r.t and "[[" not in r.t
        assert "''" not in r.t and "==" not in r.t
        assert "the topic" in r.t  # piped link resolved to its label
        assert "Section" in r.t  # heading text kept, markers gone


def test_staged_r6_keys_hash_match_their_oracles(spark):
    """Parity gate for the five staged_r6 keys (registered round 6):
    each Spark DataFrame must pass the SAME comparator
    tools/verify_local.py applies to registered keys against its
    DuckDB oracle."""
    import duckdb

    from hadoop_tools_spark import registry
    from hadoop_tools_spark.operators import staged_r6
    from tools.verify_local import compare

    con = duckdb.connect()
    for key in ("llm_multimodal_flac", "llm_wikidump_bz2",
                "llm_wikitext_clean", "llm_wikidump_links",
                "llm_warc_fetch"):
        fn = getattr(staged_r6, key)
        sdf = fn(spark, None).toPandas()
        odf = con.execute(registry.ORACLES[key]).df()
        errs = compare(key, sdf, odf)
        assert not errs, (key, errs[:3])
        assert len(sdf) > 0, key


def test_flac_twins_bit_exact_vs_wav():
    """Lossless twin invariant (the lossless-JPEG↔PPM pattern): every
    flac_i.flac decodes to EXACTLY the PCM of snd_i.wav — same rate,
    channel count, bit depth, and every sample bit-equal."""
    import os

    from hadoop_tools_spark.operators.flac import decode_flac
    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        decode_wav,
    )

    for i in range(4):
        with open(os.path.join(MEDIA_DIR, f"snd_{i}.wav"), "rb") as f:
            wrate, wch, wsamples = decode_wav(f.read())
        with open(os.path.join(MEDIA_DIR, f"flac_{i}.flac"), "rb") as f:
            frate, fch, fbps, fsamples = decode_flac(f.read())
        assert (frate, fch, fbps) == (wrate, wch, 16)
        assert fsamples.reshape(-1).tolist() == wsamples.tolist()


def test_flac_fail_closed_on_corruption_and_truncation():
    """Any single flipped bit outside STREAMINFO's un-CRC'd hint
    fields, and any truncation, must raise ValueError (CRC-8/CRC-16/
    MD5 layers) — never decode garbage or hang."""
    import os

    from hadoop_tools_spark.operators.flac import decode_flac
    from hadoop_tools_spark.operators.multimodal import MEDIA_DIR

    with open(os.path.join(MEDIA_DIR, "flac_0.flac"), "rb") as f:
        blob = f.read()
    # bytes 8-17 are STREAMINFO min-blocksize/framesize hints: the
    # only region FLAC leaves without any integrity cover
    for pos in list(range(4, 8)) + list(range(18, len(blob), 97)):
        b2 = bytearray(blob)
        b2[pos] ^= 0x40
        with pytest.raises(ValueError):
            decode_flac(bytes(b2))
    for cut in range(0, len(blob), 23):
        with pytest.raises(ValueError):
            decode_flac(blob[:cut])


def test_flac_sequence_and_stream_bound_guards():
    """Review-pass regressions: (a) total-samples = 0 is legal
    'unknown' — every present frame must still decode; (b) reordered
    frames must be rejected via the coded frame number even when the
    MD5 is unknown; (c) trailing bytes after the final frame must
    fail closed."""
    import os

    from hadoop_tools_spark.operators.flac import decode_flac
    from hadoop_tools_spark.operators.multimodal import MEDIA_DIR

    with open(os.path.join(MEDIA_DIR, "flac_0.flac"), "rb") as f:
        blob = bytearray(f.read())
    full = decode_flac(bytes(blob))[3]

    unknown = bytearray(blob)
    # STREAMINFO body = bytes 8..41; the 36-bit total is the low
    # nibble of byte 21 plus bytes 22-25, the MD5 is bytes 26-41
    unknown[21] &= 0xF0
    unknown[22:26] = bytes(4)
    unknown[26:42] = bytes(16)  # MD5 unknown
    got = decode_flac(bytes(unknown))[3]
    assert got.tolist() == full.tolist()  # all 2048 samples, not zero

    # swap frames 2 and 3 (equal-size full blocks) in the MD5-unknown
    # twin: per-frame CRCs still pass, only the sequence guard can act
    start = 42
    ends = [start]
    pos = start
    while len(ends) < 4:
        pos = bytes(blob).index(b"\xff\xf8", pos + 2)
        ends.append(pos)
    f2, f3 = ends[1], ends[2]
    swapped = bytearray(unknown)
    swapped[f2:f3], swapped[f3 : ends[3]] = (
        unknown[f3 : ends[3]],
        unknown[f2:f3],
    )
    with pytest.raises(ValueError, match="sequence"):
        decode_flac(bytes(swapped))

    with pytest.raises(ValueError, match="trailing"):
        decode_flac(bytes(blob) + b"\x00\x01\x02")


def _flac_stream(ch_code, subframe_writers, n, n_ch, pcm_lr, bps=16):
    """Hand-build a one-frame FLAC file for decoder branch tests:
    STREAMINFO (with the true PCM MD5) + one frame whose subframes
    are written by the given callbacks."""
    import hashlib
    import struct

    from tools.gen_media_fixtures import (
        _flac_crc8,
        _flac_crc16,
        _FlacBitW,
    )

    data = b"".join(
        struct.pack("<h", v) for frame in pcm_lr for v in frame
    )
    out = bytearray(b"fLaC")
    out.append(0x80)
    out += (34).to_bytes(3, "big")
    v = (n << 0) | (15 << 36) | ((n_ch - 1) << 41) | (8000 << 44)
    v |= (n << 112) | (n << 128)  # min/max blocksize
    out += v.to_bytes(18, "big") + hashlib.md5(data).digest()

    w = _FlacBitW()
    w.w(0x3FFE, 14)
    w.w(0, 2)
    w.w(6, 4)       # 8-bit blocksize follows
    w.w(4, 4)       # 8 kHz
    w.w(ch_code, 4)
    w.w(4, 3)       # 16-bit
    w.w(0, 1)
    w.w(0, 8)       # frame number 0
    w.w(n - 1, 8)
    w.buf.append(_flac_crc8(w.buf))
    for write_sub in subframe_writers:
        write_sub(w)
    w.align()
    w.w(_flac_crc16(w.buf), 16)
    return bytes(out + w.buf)


def test_flac_decoder_stereo_wasted_escape_branches():
    """Branches the fixture encoder never emits, each hand-built and
    checked against closed-form expected PCM: the three stereo
    decorrelation modes (left/side, right/side, mid/side with the odd
    side bit), wasted-bits shifting, escape-coded partitions, the
    5-bit rice2 method, and fixed orders 3-4."""
    from hadoop_tools_spark.operators.flac import decode_flac

    L = [100, -5, 777, -1024, 3, 3, 250, -999]
    R = [90, 5, -777, 1023, 3, -3, -250, 500]
    n = len(L)
    side = [a - b for a, b in zip(L, R)]
    mid = [(a + b) >> 1 for a, b in zip(L, R)]

    def verbatim(vals, bits):
        def wr(w):
            w.w(0, 1)
            w.w(1, 6)
            w.w(0, 1)
            for s in vals:
                w.w(s, bits)
        return wr

    interleaved = [(a, b) for a, b in zip(L, R)]
    for code, c0, b0, c1, b1 in (
        (8, L, 16, side, 17),      # left/side
        (9, side, 17, R, 16),      # right/side
        (10, mid, 16, side, 17),   # mid/side
    ):
        blob = _flac_stream(
            code, [verbatim(c0, b0), verbatim(c1, b1)], n, 2, interleaved
        )
        _, ch, _, out = decode_flac(blob)
        assert ch == 2
        assert out[:, 0].tolist() == L and out[:, 1].tolist() == R, code

    # wasted bits: samples all multiples of 4, stored >>2 in 14 bits
    vals = [v * 4 for v in (-200, 50, 0, 8000, -8000, 1, -1, 127)]

    def wasted_sub(w):
        w.w(0, 1)
        w.w(1, 6)
        w.w(1, 1)       # wasted flag
        w.w(1, 2)       # unary 1 -> wasted = 2
        for s in vals:
            w.w(s >> 2, 14)

    blob = _flac_stream(0, [wasted_sub], n, 1, [(v,) for v in vals])
    assert decode_flac(blob)[3][:, 0].tolist() == vals

    # escape partition (raw 5-bit residuals) + rice2 method + fixed
    # orders 3 and 4, one frame each; samples are built FORWARD from
    # small residuals so every residual fits the 5-bit escape width
    for order, method in ((3, 0), (4, 1)):
        coefs = {3: [3, -3, 1], 4: [4, -6, 4, -1]}[order]
        samples = [7, -3, 12, -14][:order]
        for r in (2, -1, 0, 3, -4, 1, 2, -2)[: 8 - order]:
            pred = sum(c * samples[-j - 1] for j, c in enumerate(coefs))
            samples.append(r + pred)

        def fixed_sub(w, order=order, method=method, coefs=coefs):
            w.w(0, 1)
            w.w(8 + order, 6)
            w.w(0, 1)
            for s in samples[:order]:
                w.w(s, 16)
            w.w(method, 2)
            w.w(0, 4)   # partition order 0
            pbits = 4 if method == 0 else 5
            w.w((1 << pbits) - 1, pbits)  # escape code
            w.w(5, 5)   # raw residual width
            for i in range(order, len(samples)):
                r = samples[i] - sum(
                    c * samples[i - j - 1] for j, c in enumerate(coefs)
                )
                assert -16 <= r <= 15
                w.w(r, 5)

        blob = _flac_stream(
            0, [fixed_sub], len(samples), 1, [(v,) for v in samples]
        )
        assert decode_flac(blob)[3][:, 0].tolist() == samples, (order, method)


def test_jaccard_ngram_short_docs_in_block_no_crash(spark, tmp_path):
    """Review regression: two <3-word docs sharing a 40-char prefix
    land in a multi-member block; the gram expression must yield an
    empty array (no pair), not INVALID_ARRAY_INDEX — the unguarded
    trigram copy this key once inlined crashed here."""
    from hadoop_tools_spark.operators.llm_dedup import llm_jaccard_ngram

    long_word = "x" * 45
    spark.createDataFrame(
        [
            (1, long_word, len(long_word)),
            (2, long_word + " tail", len(long_word) + 5),
            (3, "three words here totally unrelated", 34),
        ],
        "doc_id long, text string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    rows = llm_jaccard_ngram(spark, str(tmp_path)).collect()
    assert rows == []  # no crash, and no gram-less pair emitted


def test_jpeg12_rejects_baseline_frame():
    """T.81 forbids 12-bit samples in a baseline (SOF0) frame — the
    parser must reject the combination rather than mis-decode."""
    import struct as _s

    import pytest

    from hadoop_tools_spark.operators.jpeg import decode_jpeg

    bad = (
        b"\xff\xd8"
        + _s.pack(">HH", 0xFFC0, 11)
        + bytes([12]) + _s.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    )
    with pytest.raises(NotImplementedError):
        decode_jpeg(bad + b"\xff\xd9")


def test_jpeg_rejects_unsupported_profiles():
    import struct as _s

    import pytest

    from hadoop_tools_spark.operators.jpeg import decode_jpeg

    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")
    # arithmetic-coded SOF9 stays out of scope and must raise so the
    # tolerant path can flag it
    arith = (
        b"\xff\xd8"
        + _s.pack(">HH", 0xFFC9, 11)
        + bytes([8]) + _s.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    )
    with pytest.raises(NotImplementedError):
        decode_jpeg(arith + b"\xff\xd9")


def _minimal_dct_headers(n_comp):
    """SOI..SOS header bytes for an 8x8 SOF0 frame with ``n_comp``
    components (no entropy data — callers append it + EOI)."""
    import struct as _s

    soi = b"\xff\xd8"
    dqt = b"\xff\xdb" + _s.pack(">H", 67) + bytes([0]) + bytes([1] * 64)
    sof = (
        b"\xff\xc0"
        + _s.pack(">H", 8 + 3 * n_comp)
        + bytes([8])
        + _s.pack(">HH", 8, 8)
        + bytes([n_comp])
        + bytes(b for i in range(n_comp) for b in (i + 1, 0x11, 0))
    )
    sos = (
        b"\xff\xda"
        + _s.pack(">H", 6 + 2 * n_comp)
        + bytes([n_comp])
        + bytes(b for i in range(n_comp) for b in (i + 1, 0x00))
        + bytes([0, 63, 0])
    )
    return soi + dqt + sof + sos


def test_jpeg_rejects_cmyk_and_two_component_dct_frames():
    """4-component (Adobe CMYK/YCCK) and 2-component DCT frames must
    raise NotImplementedError — ignoring the extra plane would emit
    decode_ok=true with garbage RGB through the tolerant seam."""
    import pytest

    from hadoop_tools_spark.operators.jpeg import decode_jpeg

    for n_comp in (2, 4):
        with pytest.raises(NotImplementedError):
            decode_jpeg(_minimal_dct_headers(n_comp) + b"\xff\xd9")


def test_jpeg_fill_bytes_before_markers_are_skipped():
    """T.81 B.1.1.2 allows 0xFF fill bytes before any marker (camera
    firmware emits them); the parser must not read them as a marker
    code and swallow a bogus 64 KB 'segment'."""
    import numpy as np

    from hadoop_tools_spark.operators.jpeg import decode_jpeg, encode_jpeg

    px = (np.arange(16 * 16 * 3, dtype=np.uint8) % 251).reshape(16, 16, 3)
    blob = encode_jpeg(px, quality=90)
    # insert a fill byte before DQT and two before EOI
    stuffed = blob.replace(b"\xff\xdb", b"\xff\xff\xdb", 1)
    assert stuffed.endswith(b"\xff\xd9")
    stuffed = stuffed[:-2] + b"\xff\xff\xff\xd9"
    w0, h0, base = decode_jpeg(blob)
    w1, h1, out = decode_jpeg(stuffed)
    assert (w0, h0) == (w1, h1) == (16, 16)
    assert np.array_equal(base, out)


def test_jpeg_grayscale_rounds_like_color_path():
    """1-component DC-only block whose IDCT output is 128.75 must
    round to 129 (half-up, the 3-component convention), not truncate
    to 128."""
    import numpy as np

    from hadoop_tools_spark.operators.jpeg import decode_jpeg

    # hand-coded single 8x8 grayscale block: DC tree {0: SSSS=3},
    # AC tree {0: EOB}; entropy bits = DC code '0' + '110' (diff=6)
    # + EOB '0' -> 01100 padded with 1s = 0x67. Dequant q=1 ->
    # constant plane 6/8 = 0.75, +128 level shift = 128.75.
    dht = (
        b"\xff\xc4" + bytes([0, 20, 0x00])
        + bytes([1] + [0] * 15) + bytes([3])
        + b"\xff\xc4" + bytes([0, 20, 0x10])
        + bytes([1] + [0] * 15) + bytes([0x00])
    )
    headers = _minimal_dct_headers(1)
    sos_at = headers.index(b"\xff\xda")
    blob = headers[:sos_at] + dht + headers[sos_at:] + b"\x67" + b"\xff\xd9"
    w, h, out = decode_jpeg(blob)
    assert (w, h) == (8, 8)
    assert out[0, 0, 0] == 129, int(out[0, 0, 0])
    assert np.unique(out).tolist() == [129]


def test_codec_encoders_validate_input():
    """encode_jpeg rejects non-uint8 input (its 12-bit sibling exists
    for uint16); encode_webp_lossless rejects dimensions outside the
    14-bit VP8L field instead of silently truncating them."""
    import numpy as np
    import pytest

    from hadoop_tools_spark.operators.jpeg import encode_jpeg
    from hadoop_tools_spark.operators.webp import encode_webp_lossless

    with pytest.raises(ValueError):
        encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint16))
    with pytest.raises(ValueError):
        encode_jpeg(np.zeros((8, 8), dtype=np.uint8))
    with pytest.raises(ValueError):
        encode_webp_lossless(np.zeros((1, 16385, 3), dtype=np.uint8))


def test_jpeg_progressive_matches_baseline_exactly():
    """Progressive (SOF2) and baseline (SOF0) encodings of the same
    source quantize to identical coefficients, so the two decodes must
    be PIXEL-IDENTICAL — a strong cross-check because the bitstream
    layouts (spectral bands, successive approximation, EOB runs,
    per-scan optimal Huffman tables) share no code with the baseline
    entropy coder."""
    import numpy as np

    from hadoop_tools_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(3)
    cases = []
    for (w, h) in [(16, 12), (29, 23), (8, 8), (33, 17)]:
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        cases.append(
            np.stack(
                [
                    (xx * 3 + yy * 2) % 256,
                    (xx * 5 + yy * 4 + 30) % 256,
                    (yy * 4 + 60) % 256,
                ],
                axis=2,
            ).astype(np.uint8)
        )
    # dense noise stresses ZRL/EOB-run/refinement paths; q25 makes
    # long EOB runs
    cases.append(rng.integers(0, 256, (40, 56, 3), dtype=np.uint8))
    for i, px in enumerate(cases):
        q = 25 if i == len(cases) - 1 else 90
        base = decode_jpeg(encode_jpeg(px, quality=q))[2]
        w2, h2, prog = decode_jpeg(encode_jpeg_progressive(px, quality=q))
        assert (w2, h2) == (px.shape[1], px.shape[0])
        assert np.array_equal(prog, base), f"case {i}"


def test_jpeg_subsampled_and_restart_roundtrip():
    """4:2:0 / 4:2:2 with restart intervals: exact dims, bounded error
    (chroma is box-averaged down and replicated back up), and the
    decode must equal the reference pipeline computed directly in
    numpy (subsample → quantize → dequantize → upsample)."""
    import numpy as np

    from hadoop_tools_spark.operators.jpeg import decode_jpeg, encode_jpeg

    for (w, h), sub, dri in [
        ((16, 12), "420", 0),
        ((29, 23), "420", 2),
        ((33, 17), "422", 3),
        ((24, 16), "422", 0),
    ]:
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        px = np.stack(
            [
                (xx * 3 + yy * 2) % 256,
                (xx * 5 + yy * 4 + 30) % 256,
                (yy * 4 + 60) % 256,
            ],
            axis=2,
        ).astype(np.uint8)
        blob = encode_jpeg(px, quality=90, subsample=sub, restart_interval=dri)
        w2, h2, out = decode_jpeg(blob)
        assert (w2, h2) == (w, h)
        diff = np.abs(out.astype(int) - px.astype(int))
        assert diff.mean() <= 6.0, (sub, dri, diff.mean())
        # restart markers present iff requested
        n_rst = sum(
            1
            for p in range(len(blob) - 1)
            if blob[p] == 0xFF and 0xD0 <= blob[p + 1] <= 0xD7
        )
        assert (n_rst > 0) == (dri > 0), (sub, dri, n_rst)


def test_jpeg_subsampled_decode_matches_reference_pipeline():
    """Coefficient-level oracle for 4:2:0: re-run the exact encoder
    math in straight numpy (box-average chroma, DCT, quantize,
    dequantize, IDCT, replicate) and require the decoder's output to
    match it bit-for-bit — isolates entropy/MCU-interleave bugs from
    acceptable lossy error."""
    import numpy as np

    from hadoop_tools_spark.operators import jpeg as J

    w, h = 29, 23
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    px = np.stack(
        [
            (xx * 7 + yy * 3) % 256,
            (xx * 2 + yy * 9 + 40) % 256,
            (xx + yy * 4 + 80) % 256,
        ],
        axis=2,
    ).astype(np.uint8)
    blob = J.encode_jpeg(px, quality=85, subsample="420", restart_interval=2)
    _, _, out = J.decode_jpeg(blob)

    coefs, hv, (qy, qc), (mcux, mcuy) = J._component_coefs(px, 85, "420")
    planes = []
    for ci, ((hi, vi), q) in enumerate(zip(hv, [qy, qc, qc])):
        deq = coefs[ci] * q.reshape(8, 8)
        sp = np.einsum("ij,abik,kl->abjl", J._C, deq.astype(float), J._C)
        bh, bw = sp.shape[:2]
        plane = sp.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        ys = (np.arange(h) * vi) // 2 if vi == 1 else np.arange(h)
        xs = (np.arange(w) * hi) // 2 if hi == 1 else np.arange(w)
        planes.append(plane[ys][:, xs])
    y = planes[0] + 128.0
    cb, cr = planes[1], planes[2]
    exp = np.clip(
        np.stack(
            [
                y + 1.402 * cr,
                y - 0.344136 * cb - 0.714136 * cr,
                y + 1.772 * cb,
            ],
            axis=2,
        ),
        0,
        255,
    )
    assert np.array_equal(out, (exp + 0.5).astype(np.uint8))

def test_avi_roundtrip_and_sampled_decode():
    """MJPEG-AVI round trip: container metadata exact, sampled frames
    decode close to their source arrays, skipped frames untouched."""
    import numpy as np

    from hadoop_tools_spark.operators.avi import (
        decode_video_frames,
        encode_avi,
        parse_avi,
    )

    w, h, n = 24, 16, 9
    frames = []
    for t in range(n):
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        frames.append(
            np.stack(
                [
                    (xx * 3 + t * 10) % 256,
                    (yy * 5 + t * 7) % 256,
                    (xx + yy + t * 13) % 256,
                ],
                axis=2,
            ).astype(np.uint8)
        )
    blob = encode_avi(frames, fps=5, quality=90)
    pw, ph, total, raw = parse_avi(blob)
    assert (pw, ph, total, len(raw)) == (w, h, n, n)
    dec = decode_video_frames(blob, every_n=2)
    assert [d[0] for d in dec] == [0, 2, 4, 6, 8]
    for fid, fw, fh, px in dec:
        assert (fw, fh) == (w, h)
        diff = np.abs(px.astype(int) - frames[fid].astype(int))
        assert diff.mean() <= 3.0, (fid, diff.mean())


def test_avi_rejects_non_avi():
    import pytest

    from hadoop_tools_spark.operators.avi import parse_avi

    with pytest.raises(ValueError):
        parse_avi(b"RIFFxxxxWAVE")
    with pytest.raises(ValueError):
        parse_avi(b"garbage")


def test_gif_roundtrip_bitexact():
    """encode_gif -> decode_gif is bit-exact for random palettes and
    index maps, interlaced and not, including the small-palette code
    width and the 4096-entry dictionary-reset path."""
    import numpy as np

    from hadoop_tools_spark.operators.gif import decode_gif, encode_gif

    rng = np.random.RandomState(11)
    for w, h, ncol, interlaced in [
        (16, 12, 256, False),
        (16, 12, 256, True),
        (1, 1, 2, False),
        (255, 3, 16, True),
        (100, 37, 256, True),
        (300, 200, 256, False),  # > 4096 LZW entries: reset path
    ]:
        pal = rng.randint(0, 256, (ncol, 3)).astype(np.uint8)
        idx = rng.randint(0, ncol, (h, w)).astype(np.uint8)
        gw, gh, px = decode_gif(encode_gif(w, h, pal, idx, interlaced))
        assert (gw, gh) == (w, h)
        assert np.array_equal(px, pal[idx]), (w, h, ncol, interlaced)


def test_decode_gif_matches_ppm_twin():
    """The committed gif_{i}.gif fixtures decode pixel-identical to
    their img_{i}.ppm twins (the cross-format guarantee the oracle
    hash relies on)."""
    import os

    import numpy as np

    from hadoop_tools_spark.operators.gif import decode_gif
    from hadoop_tools_spark.operators.multimodal import MEDIA_DIR, decode_ppm

    for i in range(8):
        with open(os.path.join(MEDIA_DIR, f"gif_{i}.gif"), "rb") as f:
            gw, gh, gpx = decode_gif(f.read())
        with open(os.path.join(MEDIA_DIR, f"img_{i}.ppm"), "rb") as f:
            pw, ph, ppx = decode_ppm(f.read())
        assert (gw, gh) == (pw, ph)
        assert np.array_equal(gpx, ppx), i


def test_substring_dedup_spans_verified(spark, sf_dir):
    """Every reported span really is duplicated: the span's text
    windows each appear in at least one other document, spans are
    maximal (extending one char either way breaks the property), and
    span_len is consistent."""
    from hadoop_tools_spark.operators.llm_dedup import (
        _SUB_K,
        llm_dedup_substring,
    )

    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }

    def shared(doc_id, p):
        """1-based window at p duplicated in another doc?"""
        g = docs[doc_id][p - 1: p - 1 + _SUB_K]
        return len(g) == _SUB_K and any(
            d != doc_id and g in t for d, t in docs.items()
        )

    rows = llm_dedup_substring(spark, sf_dir).collect()
    assert rows, "fixture seeds shared prefixes; spans must exist"
    for r in rows[:40]:
        assert r.span_len == r.span_end - r.span_start + 1
        assert shared(r.doc_id, r.span_start)
        assert shared(r.doc_id, r.span_end - _SUB_K + 1)
        # maximality on the left edge
        if r.span_start > 1:
            assert not shared(r.doc_id, r.span_start - 1)


def test_trigram_expr_short_docs_yield_empty_not_crash(spark):
    """Docs with <3 words must produce an empty gram array — the naive
    sequence(1, size-2) descends for short docs and crashes with
    INVALID_INDEX_OF_ZERO (round-4 ADVICE). Exercises 0/1/2/3/4-word
    inputs through the same expression every MinHash/containment key
    explodes."""
    from hadoop_tools_spark.operators.llm_dedup import _trigram_expr

    rows = [(0, ""), (1, "one"), (2, "two words"), (3, "now three words"),
            (4, "four words in here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", _trigram_expr().alias("g")).collect()
    }
    assert out[0] == [] and out[1] == [] and out[2] == []
    assert out[3] == ["now three words"]
    assert out[4] == ["four words in", "words in here"]


def test_webp_roundtrip_all_paths():
    """Encoder→decoder bit-exact round-trips across every VP8L decoder
    branch: plain literals, subtract-green, color cache, palette with
    all pixel-packing widths, LZ77 runs, all-14-mode predictor
    transform, color transform, meta-prefix groups, and combinations."""
    import numpy as np

    from hadoop_tools_spark.operators.webp import (
        decode_webp,
        encode_webp_lossless,
    )

    def img(w, h, seed):
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        return np.stack(
            [(xx * 7 + yy * 13 + c * 29 + seed * 31) % 256 for c in range(3)],
            axis=2,
        ).astype(np.uint8)

    cases = [
        {},
        {"subtract_green": True},
        {"cache_bits": 6},
        {"palette": True},
        {"lz77_runs": True},
        {"predictor_bits": 2},
        {"color_bits": 2},
        {"meta_bits": 2},
        {"subtract_green": True, "color_bits": 2, "predictor_bits": 3},
    ]
    for kw in cases:
        src = img(21, 15, 4)
        w, h, out = decode_webp(encode_webp_lossless(src, **kw))
        assert (w, h) == (21, 15) and np.array_equal(out, src), kw
    # palette packing widths 3/2/1/0 with a non-divisible width
    rng = np.random.default_rng(11)
    for ncol in (2, 4, 16, 200):
        colors = rng.integers(0, 256, size=(ncol, 3), dtype=np.uint8)
        src = colors[rng.integers(0, ncol, size=(9, 23))]
        _, _, out = decode_webp(encode_webp_lossless(src, palette=True))
        assert np.array_equal(out, src), ncol
    # degenerate shapes and uniform color
    for w, h in [(1, 1), (1, 9), (9, 1)]:
        src = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        _, _, out = decode_webp(encode_webp_lossless(src))
        assert np.array_equal(out, src)
    uni = np.full((5, 7, 3), 99, dtype=np.uint8)
    for kw in ({}, {"palette": True}, {"lz77_runs": True}):
        _, _, out = decode_webp(encode_webp_lossless(uni, **kw))
        assert np.array_equal(out, uni)


def test_webp_fixture_decode_matches_ppm_twin():
    """Committed webp_{i}.webp fixtures are pixel-identical to the
    img_{i}.ppm twins (the cross-format property the graded key's
    oracle relies on)."""
    import glob as globmod
    import os

    import numpy as np

    from hadoop_tools_spark.operators.multimodal import MEDIA_DIR, decode_ppm
    from hadoop_tools_spark.operators.webp import decode_webp

    paths = sorted(globmod.glob(os.path.join(MEDIA_DIR, "webp_*.webp")))
    assert len(paths) == 8
    for p in paths:
        i = int(os.path.basename(p).split("_")[1].split(".")[0])
        with open(p, "rb") as f:
            w, h, px = decode_webp(f.read())
        with open(os.path.join(MEDIA_DIR, f"img_{i}.ppm"), "rb") as f:
            pw, ph, ppx = decode_ppm(f.read())
        assert (w, h) == (pw, ph)
        assert np.array_equal(px, ppx), p


def test_webp_rejects_lossy_and_junk():
    import struct

    import pytest as _pytest

    from hadoop_tools_spark.operators.webp import _DIST_MAP, decode_webp

    # lossy VP8 chunk -> NotImplementedError (tolerant key flags it)
    payload = b"\x00" * 10
    vp8 = b"VP8 " + struct.pack("<I", len(payload)) + payload
    blob = b"RIFF" + struct.pack("<I", 4 + len(vp8)) + b"WEBP" + vp8
    with _pytest.raises(NotImplementedError):
        decode_webp(blob)
    with _pytest.raises(ValueError):
        decode_webp(b"RIFX" + b"\x00" * 30)
    # spec distance-map invariants: 120 entries, all unique, first
    # entries match the published neighborhood order
    assert len(_DIST_MAP) == 120 and len(set(_DIST_MAP)) == 120
    decoded = [(8 - (t & 0xF), t >> 4) for t in _DIST_MAP]  # (dx, dy)
    assert decoded[:6] == [(0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0)]
    assert all(dy >= 0 and (dy > 0 or dx > 0) for dx, dy in decoded)


def test_webp_container_walk_vp8x_extended():
    """A VP8X extended-format container with the VP8L chunk after the
    header still decodes (the RIFF walk skips unknown chunks)."""
    import struct

    import numpy as np

    from hadoop_tools_spark.operators.webp import (
        decode_webp,
        encode_webp_lossless,
    )

    src = np.arange(5 * 4 * 3, dtype=np.uint8).reshape(4, 5, 3)
    plain = encode_webp_lossless(src)
    vp8l_chunk = plain[12:]  # strip RIFF+size+WEBP, keep VP8L chunk
    vp8x = b"VP8X" + struct.pack("<I", 10) + bytes(10)
    body = b"WEBP" + vp8x + vp8l_chunk
    blob = b"RIFF" + struct.pack("<I", len(body)) + body
    w, h, out = decode_webp(blob)
    assert (w, h) == (5, 4) and np.array_equal(out, src)


def test_substring_hashed_twin_matches_exact_anchor(spark, sf_dir):
    """The hash-shuffled scale twin produces EXACTLY the anchor's spans
    (the collision-repair stage makes hashing invisible in results)."""
    from hadoop_tools_spark.operators.llm_dedup import (
        llm_dedup_substring,
        llm_substring_dedup_hashed,
    )

    a = {tuple(r) for r in llm_dedup_substring(spark, sf_dir).collect()}
    b = {tuple(r) for r in llm_substring_dedup_hashed(spark, sf_dir).collect()}
    assert a == b and a


def test_hostile_media_stays_inside_tolerant_seam():
    """A LIST chunk between fmt and data (real recorders emit these)
    and a bit-flipped PNG height must surface as catchable ValueError
    rows — AssertionError/MemoryError escape the tolerant contract
    (dead executor task) and `python -O` strips asserts entirely."""
    import struct
    import zlib

    import pytest

    from hadoop_tools_spark.operators.multimodal import (
        decode_image,
        decode_wav,
    )
    from tools.gen_media_fixtures import png_bytes, wav_bytes

    wav = bytearray(wav_bytes(50, 3))
    info = b"LIST" + struct.pack("<I", 4) + b"INFO"
    hostile = bytes(wav[:36]) + info + bytes(wav[36:])
    with pytest.raises(ValueError):
        decode_wav(hostile)

    png = bytearray(png_bytes(8, 8, 0))
    # IHDR height lives at bytes 20..23; inflate it absurdly and
    # re-stamp the chunk CRC so only the dimension is wrong
    png[20:24] = struct.pack(">I", 0x40000000)
    png[29:33] = struct.pack(">I", zlib.crc32(bytes(png[12:29])))
    with pytest.raises(ValueError):
        decode_image(bytes(png))


def test_avi_flags_and_second_stream_isolation():
    """dwFlags must not claim AVIF_HASINDEX (0x10) when no idx1 chunk
    exists, and parse_avi must collect stream 0 only — a second
    stream's '01dc' chunks would corrupt frame_id indexing."""
    import struct

    import numpy as np

    from hadoop_tools_spark.operators.avi import encode_avi, parse_avi

    frames = [
        np.full((8, 8, 3), 40 * i, dtype=np.uint8) for i in range(3)
    ]
    blob = encode_avi(frames)
    avih_at = blob.index(b"avih") + 8
    flags = struct.unpack_from("<I", blob, avih_at + 12)[0]
    assert not flags & 0x10, hex(flags)  # no index -> no HASINDEX
    assert flags & 0x100, hex(flags)  # interleaved
    # splice a fake second-stream chunk into the movi list
    movi_at = blob.index(b"movi")
    payload = b"\xff\xd8fake\xff\xd9"
    fake = b"01dc" + struct.pack("<I", len(payload)) + payload
    riff_len = struct.unpack_from("<I", blob, 4)[0]
    list_at = movi_at - 8
    list_len = struct.unpack_from("<I", blob, list_at + 4)[0]
    spliced = bytearray(blob[: movi_at + 4] + fake + blob[movi_at + 4 :])
    struct.pack_into("<I", spliced, 4, riff_len + len(fake))
    struct.pack_into("<I", spliced, list_at + 4, list_len + len(fake))
    w, h, total, got = parse_avi(bytes(spliced))
    assert len(got) == 3, len(got)  # the 01dc chunk is NOT stream 0


def test_zip_walk_fail_closed_branches(spark, tmp_path):
    """The ZIP walk's fail-closed contracts: (a) a torn payload drops
    the shard's remaining members but keeps intact earlier ones is
    impossible for ZIP (the central directory sits at EOF — truncation
    kills the EOCD), so truncation must yield ZERO rows, not garbage;
    (b) a corrupted central-directory signature stops the walk at that
    entry; (c) an unsupported compression method drops only that
    member; (d) an undecodable deflate stream drops only that member."""
    import os
    import struct

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        read_assets,
        zip_members,
    )

    with open(os.path.join(MEDIA_DIR, "zipds_0.zip"), "rb") as f:
        blob = f.read()

    def walk(d):
        return zip_members(read_assets(spark, str(d), glob="*.zip")).collect()

    # (a) truncated shard: EOCD gone -> zero rows
    d = tmp_path / "a"; d.mkdir()
    (d / "cut.zip").write_bytes(blob[:-30])
    assert walk(d) == []

    # locate the central directory
    n = len(blob)
    cd_off = struct.unpack("<I", blob[n - 6 : n - 2])[0]
    assert blob[cd_off : cd_off + 4] == b"PK\x01\x02"

    # (b) corrupt the SECOND CD entry's signature: only entry 1 survives
    nl, xl, cl = struct.unpack("<HHH", blob[cd_off + 28 : cd_off + 34])
    e2 = cd_off + 46 + nl + xl + cl
    bad = bytearray(blob); bad[e2] = 0x00
    d = tmp_path / "b"; d.mkdir()
    (d / "badsig.zip").write_bytes(bytes(bad))
    assert len(walk(d)) == 1

    # (c) entry 1 claims method 99: dropped, the other 5 survive
    bad = bytearray(blob)
    struct.pack_into("<H", bad, cd_off + 10, 99)
    d = tmp_path / "c"; d.mkdir()
    (d / "meth.zip").write_bytes(bytes(bad))
    out = walk(d)
    assert len(out) == 5
    assert all(r.method in (0, 8) for r in out)

    # (d) corrupt a deflated member's payload bytes: that member drops
    # find the deflated entry (doc_0_a) in the CD to get its local off
    off, target_lho, target_comp = cd_off, None, None
    while blob[off : off + 4] == b"PK\x01\x02":
        meth, = struct.unpack("<H", blob[off + 10 : off + 12])
        comp, = struct.unpack("<I", blob[off + 20 : off + 24])
        lho, = struct.unpack("<I", blob[off + 42 : off + 46])
        enl, exl, ecl = struct.unpack("<HHH", blob[off + 28 : off + 34])
        if meth == 8 and target_lho is None:
            target_lho, target_comp = lho, comp
        off += 46 + enl + exl + ecl
    lnl, lxl = struct.unpack("<HH", blob[target_lho + 26 : target_lho + 30])
    p0 = target_lho + 30 + lnl + lxl
    bad = bytearray(blob)
    for i in range(p0, p0 + target_comp):
        bad[i] = 0xFF  # not a valid deflate stream
    d = tmp_path / "d"; d.mkdir()
    (d / "zlib.zip").write_bytes(bytes(bad))
    out = walk(d)
    assert len(out) == 5
    assert "docs/doc_0_a.txt" not in {r.member for r in out}

    # (e) corrupt lho pointing at a stray PK\x03\x04 near EOF: the
    # short local-header slice must fail closed (no struct.error
    # escaping the task — review finding r7)
    bad = bytearray(blob)
    struct.pack_into("<I", bad, cd_off + 42, n - 10)
    bad[n - 10 : n - 6] = b"PK\x03\x04"
    d = tmp_path / "e"; d.mkdir()
    (d / "lho.zip").write_bytes(bytes(bad))
    assert walk(d) == []  # first entry's local header is garbage


def test_gopher_funnel_all_rules_fire_and_match_oracle(spark, tmp_path):
    """The fixture corpus only ever fires words/stop/uniq/pass — the
    mean_len and alpha branches were cross-engine-unverified (review
    finding r7). Build a synthetic corpus where EVERY rule fires and
    run the full verify_local comparator on it."""
    import duckdb
    import pandas as pd

    from hadoop_tools_spark.operators.llm_text import llm_quality_gopher
    from hadoop_tools_spark.registry import ORACLES
    from tools.verify_local import compare

    docs = [
        ("words", "tiny doc " * 5),                      # 10 words
        ("mean_len_low", "ab " * 49 + "ab"),             # mean 2 < 4
        ("mean_len_high", "abcdefghijkl " * 49 + "abcdefghijkl"),
        ("alpha", ("abc123 " * 30 + "the word " + "ok " * 18).strip()),
        ("stop", ("alpha beta gamma delta epsilon " * 10).strip()),
        ("uniq", "the " + "samey " * 59 + "samey"),
        ("pass", ("these quick brown foxes jumped over that lazy doggy "
                  "and rushed farther into winner bigly " * 3).strip()),
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "text": [t for _, t in docs],
            "lang": [name for name, _ in docs],  # lang == expected rule
            "source": ["synth"] * len(docs),
            "n_chars": [len(t) for _, t in docs],
        }
    )
    sf_dir = str(tmp_path)
    pdf.to_parquet(f"{sf_dir}/documents.parquet")

    sdf = llm_quality_gopher(spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    odf = con.execute(ORACLES["llm_quality_gopher"]).df()
    errs = compare("llm_quality_gopher", sdf, odf)
    assert not errs, errs[:3]
    # every doc must be attributed to the rule its lang names
    got = {r.lang: r.rule for r in sdf.itertuples()}
    assert got == {
        "words": "words", "mean_len_low": "mean_len",
        "mean_len_high": "mean_len", "alpha": "alpha", "stop": "stop",
        "uniq": "uniq", "pass": "pass",
    }


def test_image_phash_png_twins_collide_at_zero(spark):
    """The perceptual-dedup claim in its sharpest form: every
    png_i.png (a real PNG decode) must land at Hamming 0 from its
    pixel-identical img_i.ppm source, and the refuse gate must name
    the banded scale path."""
    import pytest as _pytest

    from hadoop_tools_spark.operators import multimodal as mm

    pairs = {
        (r.a, r.b): r.hamming
        for r in mm.llm_image_phash(spark, None).collect()
    }
    for i in range(8):
        assert pairs.get((f"img_{i}.ppm", f"png_{i}.png")) == 0, i

    orig = mm.IMAGE_PHASH_MAX_ROWS
    mm.IMAGE_PHASH_MAX_ROWS = 3
    try:
        with _pytest.raises(ValueError, match="llm_image_phash_lsh"):
            mm.llm_image_phash(spark, None)
    finally:
        mm.IMAGE_PHASH_MAX_ROWS = orig


def test_tiff_roundtrip_matrix():
    """Encoder→decoder exactness over byte order × strip height ×
    compression (none/PackBits/LZW) × predictor — every decoder
    branch, including the inline-vs-offset IFD rule flipping with
    strip count and LZW's early-change/table-reset paths."""
    import numpy as np

    from hadoop_tools_spark.operators.tiff import decode_tiff, encode_tiff

    rng = np.random.RandomState(7)
    for h, w in [(12, 16), (26, 37), (1, 1), (5, 7)]:
        px = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        for bo in "<>":
            for rps in (None, 1, 3, h):
                for comp in ("none", "packbits", "lzw"):
                    for pred in (1, 2):
                        blob = encode_tiff(
                            px, byteorder=bo, rows_per_strip=rps,
                            compression=comp, predictor=pred,
                        )
                        w2, h2, out = decode_tiff(blob)
                        assert (w2, h2) == (w, h) and (out == px).all(), (
                            h, w, bo, rps, comp, pred,
                        )
    # constant image: maximal PackBits runs incl. the 128-run split
    const = np.full((9, 131, 3), 77, np.uint8)
    _, _, out = decode_tiff(encode_tiff(const, packbits=True))
    assert (out == const).all()


def test_tiff_tiled_roundtrip_and_fail_closed():
    """Tiled TIFF (6.0 §15, r9): exact round-trip over byte order ×
    compression × predictor × tile shape with edge padding discarded;
    the single-tile inline-offset case; and the fail-closed corners —
    strip+tile tag conflict, tile count not covering the image, a
    tile overrunning EOF."""
    import struct

    import numpy as np
    import pytest as _pytest

    from hadoop_tools_spark.operators.tiff import decode_tiff, encode_tiff

    rng = np.random.RandomState(11)
    for h, w in [(16, 16), (22, 16), (34, 24), (17, 49)]:
        px = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        for bo in "<>":
            for comp, pred in (
                ("none", 1), ("packbits", 1), ("lzw", 1), ("lzw", 2),
            ):
                for tiles in ((16, 16), (32, 16), (16, 32)):
                    blob = encode_tiff(
                        px, byteorder=bo, compression=comp,
                        predictor=pred, tiles=tiles,
                    )
                    w2, h2, out = decode_tiff(blob)
                    assert (w2, h2) == (w, h) and (out == px).all(), (
                        h, w, bo, comp, pred, tiles,
                    )

    # single tile covering the whole image: offsets/counts inline
    px = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    one = encode_tiff(px, tiles=(16, 16))
    _, _, out = decode_tiff(one)
    assert (out == px).all()

    def tag_pos(b, tag):
        (ifd,) = struct.unpack_from("<I", b, 4)
        (n,) = struct.unpack_from("<H", b, ifd)
        for i in range(n):
            base = ifd + 2 + 12 * i
            if struct.unpack_from("<H", b, base)[0] == tag:
                return base
        raise AssertionError(tag)

    # (a) a file claiming BOTH strips and tiles is inconsistent:
    # retag TileWidth(322) as RowsPerStrip? no — splice a strip-offset
    # tag id over TileLength so both families appear
    bad = bytearray(one)
    struct.pack_into("<H", bad, tag_pos(bad, 323), 273)
    with _pytest.raises(ValueError):
        decode_tiff(bytes(bad))

    # (b) tile count that cannot cover the image
    px2 = rng.randint(0, 256, (34, 24, 3), dtype=np.uint8)
    multi = bytearray(encode_tiff(px2, tiles=(16, 16)))
    struct.pack_into("<I", multi, tag_pos(multi, 322) + 8, 32)
    with _pytest.raises(ValueError):
        decode_tiff(bytes(multi))

    # (c) torn tile data: truncated file must raise, not wrap
    with _pytest.raises(ValueError):
        decode_tiff(bytes(encode_tiff(px2, tiles=(16, 16))[:-20]))

    # (d) a tile offset pointing past EOF (offset array lives right
    # after the 6-byte BPS block at byte 14 in this writer's layout)
    over = bytearray(encode_tiff(px2, tiles=(16, 16)))
    struct.pack_into("<I", over, 14, 10_000_000)
    with _pytest.raises(ValueError):
        decode_tiff(bytes(over))


def test_tiff_twins_bit_exact_vs_ppm():
    """Every tif_i.tif fixture decodes to EXACTLY img_i.ppm's pixels
    (the lossless-twin invariant behind the llm_multimodal_tiff
    oracle), through the decode_image dispatch."""
    import os

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        decode_image,
        decode_ppm,
    )

    for i in range(8):
        with open(os.path.join(MEDIA_DIR, f"tif_{i}.tif"), "rb") as f:
            w, h, tp = decode_image(f.read())
        with open(os.path.join(MEDIA_DIR, f"img_{i}.ppm"), "rb") as f:
            w2, h2, pp = decode_ppm(f.read())
        assert (w, h) == (w2, h2) and (tp == pp).all(), i


def test_tiff_unsupported_profiles_fail_loudly():
    """Out-of-profile TIFFs (planar 2, 16-bit, LZW, tiled-by-missing-
    strips) must raise the tolerant-seam classes, never decode to a
    silently wrong image."""
    import struct

    import numpy as np
    import pytest as _pytest

    from hadoop_tools_spark.operators.tiff import decode_tiff, encode_tiff

    px = np.zeros((4, 4, 3), np.uint8)
    blob = bytearray(encode_tiff(px))

    def tag_pos(b, tag):
        (ifd,) = struct.unpack_from("<I", b, 4)
        (n,) = struct.unpack_from("<H", b, ifd)
        for i in range(n):
            base = ifd + 2 + 12 * i
            if struct.unpack_from("<H", b, base)[0] == tag:
                return base
        raise AssertionError(tag)

    jpg = bytearray(blob)
    struct.pack_into("<H", jpg, tag_pos(jpg, 259) + 8, 7)  # JPEG-in-TIFF
    with _pytest.raises(NotImplementedError):
        decode_tiff(bytes(jpg))

    planar = bytearray(blob)
    struct.pack_into("<H", planar, tag_pos(planar, 284) + 8, 2)
    with _pytest.raises(NotImplementedError):
        decode_tiff(bytes(planar))

    short = bytes(blob)[:40]
    with _pytest.raises((ValueError, NotImplementedError)):
        decode_tiff(short)


def test_tiff_review_findings_r7():
    """Review-finding pins: RowsPerStrip=0 must raise a tolerant-seam
    class (not ZeroDivisionError), and unrecognized IFD tags of ANY
    type (RATIONAL XResolution, ASCII DateTime — what real scanners
    write) must be SKIPPED per TIFF 6.0, not rejected."""
    import struct

    import numpy as np
    import pytest as _pytest

    from hadoop_tools_spark.operators.tiff import decode_tiff, encode_tiff

    px = np.arange(4 * 5 * 3, dtype=np.uint8).reshape(4, 5, 3)
    blob = bytearray(encode_tiff(px))

    def tag_pos(b, tag):
        (ifd,) = struct.unpack_from("<I", b, 4)
        (n,) = struct.unpack_from("<H", b, ifd)
        for i in range(n):
            base = ifd + 2 + 12 * i
            if struct.unpack_from("<H", b, base)[0] == tag:
                return base
        raise AssertionError(tag)

    zero_rps = bytearray(blob)
    struct.pack_into("<I", zero_rps, tag_pos(zero_rps, 278) + 8, 0)
    with _pytest.raises(ValueError, match="RowsPerStrip"):
        decode_tiff(bytes(zero_rps))

    # rewrite the PlanarConfig entry into XResolution (RATIONAL type 5,
    # offset pointing at garbage): the decoder must skip it and still
    # decode correctly (planar defaults to 1)
    rational = bytearray(blob)
    base = tag_pos(rational, 284)
    struct.pack_into("<HHI", rational, base, 282, 5, 1)
    struct.pack_into("<I", rational, base + 8, 8)
    w, h, out = decode_tiff(bytes(rational))
    assert (w, h) == (5, 4) and (out == px).all()


def test_tiff_grayscale_decode():
    """Grayscale TIFFs (photometric 0 WhiteIsZero and 1 BlackIsZero,
    SamplesPerPixel 1) decode replicated-to-RGB across both byte
    orders and all three compressions — hand-built files, since the
    encoder only writes the RGB fixture profile."""
    import struct

    import numpy as np

    from hadoop_tools_spark.operators.tiff import (
        _lzw_encode,
        _packbits_encode,
        decode_tiff,
    )

    def gray_tiff(y, photo, comp, bo):
        h, w = y.shape
        data = (255 - y if photo == 0 else y).tobytes()
        if comp == 32773:
            data = _packbits_encode(data)
        elif comp == 5:
            data = _lzw_encode(data)
        u16, u32 = bo + "H", bo + "I"
        magic = b"II*\x00" if bo == "<" else b"MM\x00*"
        ifd_off = 8 + len(data) + (len(data) & 1)

        def e(tag, typ, cnt, val, short=False):
            b = struct.pack(u16, tag) + struct.pack(u16, typ)
            b += struct.pack(u32, cnt)
            if short:
                return b + struct.pack(u16, val) + b"\x00\x00"
            return b + struct.pack(u32, val)

        ents = [
            e(256, 4, 1, w), e(257, 4, 1, h), e(258, 3, 1, 8, True),
            e(259, 3, 1, comp, True), e(262, 3, 1, photo, True),
            e(273, 4, 1, 8), e(277, 3, 1, 1, True), e(278, 4, 1, h),
            e(279, 4, 1, len(data)),
        ]
        out = bytearray(magic + struct.pack(u32, ifd_off) + data)
        if len(out) & 1:
            out += b"\x00"
        out += struct.pack(u16, len(ents))
        for x in ents:
            out += x
        out += struct.pack(u32, 0)
        return bytes(out)

    y = np.random.RandomState(2).randint(0, 256, (9, 13), dtype=np.uint8)
    for photo in (0, 1):
        for comp in (1, 5, 32773):
            for bo in "<>":
                w2, h2, px = decode_tiff(gray_tiff(y, photo, comp, bo))
                assert (w2, h2) == (13, 9)
                assert all(
                    (px[:, :, ch] == y).all() for ch in range(3)
                ), (photo, comp, bo)


def test_zip_walk_finds_eocd_behind_archive_comment(spark, tmp_path):
    """ADVICE r7: a commented archive (EOCD not at EOF-22) must parse,
    and a decoy PK\\x05\\x06 inside the comment whose comment-length
    field doesn't span to EOF must be rejected by the backward scan.
    zipds_3.zip is the committed witness (comment contains a decoy);
    also pins that a comment longer than the shard's own tail window
    boundary math never walks past buffer start."""
    import os

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        read_assets,
        zip_members,
    )

    out = zip_members(
        read_assets(spark, MEDIA_DIR, glob="zipds_3.zip")
    ).collect()
    # the 6-member plan: dir entry + empty + 4 payload members
    assert len(out) == 6
    assert {r.member for r in out} == {
        "meta/manifest_3.txt", "docs/doc_3_a.txt", "docs/doc_3_b.txt",
        "empty_3.bin", "dir_3/", "blob_3.raw",
    }

    # a shard that is ONLY a comment-like tail (no valid EOCD): 0 rows
    d = tmp_path / "junk"
    d.mkdir()
    (d / "junk.zip").write_bytes(b"PK\x05\x06" + bytes(40))
    assert zip_members(
        read_assets(spark, str(d), glob="*.zip")
    ).collect() == []


def test_ccnet_thresholds_equal_ntile_anchor(spark, sf_dir):
    """The broadcast-threshold scale twin must reproduce the NTILE
    anchor row-for-row on the fixture."""
    from hadoop_tools_spark.operators.llm_text import (
        llm_ccnet_buckets,
        llm_ccnet_thresholds,
    )

    anchor = {(r.doc_id, r.lang, r.bucket)
              for r in llm_ccnet_buckets(spark, sf_dir).collect()}
    twin = {(r.doc_id, r.lang, r.bucket)
            for r in llm_ccnet_thresholds(spark, sf_dir).collect()}
    assert anchor and twin == anchor
    spark.catalog.clearCache()


def test_ccnet_thresholds_resolve_boundary_ties_like_ntile(spark, tmp_path):
    """Adversarial corpus: one language whose docs ALL tie on score
    (identical text), sizes chosen so both tercile boundaries cut
    through the tied run — the composite (score, doc_id) threshold
    must split exactly where NTILE does. Second language exercises the
    n % 3 != 0 uneven-group sizes; third has n < 3 (degenerate
    terciles)."""
    from hadoop_tools_spark.operators.llm_text import (
        llm_ccnet_buckets,
        llm_ccnet_thresholds,
    )

    rows = []
    # lang a: 7 docs, all the same text -> all scores tie; NTILE sizes
    # 3/2/2 must come out of doc_id order alone
    for i in range(7):
        rows.append((100 + i, "same words for every doc", "a"))
    # lang b: 8 docs, two distinct texts (4 + 4) -> a tie run crosses
    # the k1=3 boundary mid-run and the k2=6 boundary too
    for i in range(4):
        rows.append((200 + i, "alpha beta gamma", "b"))
    for i in range(4):
        rows.append((210 + i, "delta epsilon zeta eta theta", "b"))
    # lang c: 2 docs (< 3): NTILE gives groups 1 and 2, no tail
    rows.append((300, "tiny", "c"))
    rows.append((301, "tiny too", "c"))
    spark.createDataFrame(
        [(d, t, lg, "s", len(t)) for d, t, lg in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    anchor = {(r.doc_id, r.bucket)
              for r in llm_ccnet_buckets(spark, str(tmp_path)).collect()}
    twin = {(r.doc_id, r.bucket)
            for r in llm_ccnet_thresholds(spark, str(tmp_path)).collect()}
    assert twin == anchor
    # sanity: the tied lang-a run really is split 3/2/2 by doc_id
    a_buckets = sorted(
        (d, b) for d, b in anchor if 100 <= d < 200
    )
    assert [b for _, b in a_buckets] == (
        ["head"] * 3 + ["middle"] * 2 + ["tail"] * 2
    )
    spark.catalog.clearCache()


def test_mp4_roundtrip_matrix():
    """Encoder→walker exactness across the structural branch matrix:
    {stco, co64} × {32-bit, largesize mdat} × chunkings (1, 3, ragged)
    × {trailing size==0 free box or not} — every sample slice must be
    byte-identical to its input JPEG and every declared dim exact."""
    import numpy as np

    from hadoop_tools_spark.operators.jpeg import encode_jpeg
    from hadoop_tools_spark.operators.mp4 import (
        encode_mp4,
        mp4_samples,
        parse_boxes,
    )

    w, h = 24, 16
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    jpegs = [
        encode_jpeg(
            np.stack([(xx + t) % 256, (yy * 2 + t) % 256,
                      (xx + yy + t) % 256], axis=2).astype(np.uint8),
            quality=90,
        )
        for t in range(7)
    ]
    for co64 in (False, True):
        for large in (False, True):
            for spc in (1, 3, 5):
                for free in (0, 11):
                    blob = encode_mp4(
                        jpegs, w, h, samples_per_chunk=spc, co64=co64,
                        large_mdat=large, trailing_free=free,
                    )
                    got = mp4_samples(blob)
                    assert len(got) == 7, (co64, large, spc, free)
                    for i, off, size, dw, dh in got:
                        assert blob[off:off + size] == jpegs[i]
                        assert (dw, dh) == (w, h)
                    types = [t for _, t, _, _ in parse_boxes(blob)]
                    assert ("co64" in types) == co64
                    assert ("free" in types) == bool(free)


def test_mp4_torn_box_fail_closed():
    """A lying/torn box header stops the walk keeping boxes already
    emitted; torn sample tables or payloads yield zero sample rows —
    never garbage, never an exception out of the task."""
    import struct

    import numpy as np

    from hadoop_tools_spark.operators.jpeg import encode_jpeg
    from hadoop_tools_spark.operators.mp4 import (
        encode_mp4,
        mp4_samples,
        parse_boxes,
    )

    w, h = 24, 16
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    jpegs = [
        encode_jpeg(
            np.stack([(xx + t) % 256, yy % 256, (xx + yy) % 256],
                     axis=2).astype(np.uint8),
            quality=90,
        )
        for t in range(4)
    ]
    blob = encode_mp4(jpegs, w, h, samples_per_chunk=2)
    full = parse_boxes(blob)

    # (a) truncate mid-moov: the walk keeps ftyp+mdat (and any moov
    # children it got through) but never emits a box past the tear
    cut = bytearray(blob[:-40])
    part = parse_boxes(bytes(cut))
    assert 0 < len(part) < len(full)
    assert mp4_samples(bytes(cut)) == []  # stco torn off -> no samples

    # (b) a box size lying past its parent stops the walk at that box
    bad = bytearray(blob)
    moov_off = next(o for _, t, o, _ in full if t == "moov")
    struct.pack_into(">I", bad, moov_off, len(blob) * 2)
    assert all(t != "moov" for _, t, _, _ in parse_boxes(bytes(bad)))

    # (c) a sample overrunning EOF (stsz corrupted huge) -> no rows
    bad = bytearray(blob)
    stsz_off = next(o for _, t, o, _ in full if t == "stsz")
    struct.pack_into(">I", bad, stsz_off + 20, 10_000_000)
    assert mp4_samples(bytes(bad)) == []

    # (d) stsc map not covering the sample count -> no rows
    bad = bytearray(blob)
    stsc_off = next(o for _, t, o, _ in full if t == "stsc")
    struct.pack_into(">I", bad, stsc_off + 20, 1)  # first run spc 2->1
    assert mp4_samples(bytes(bad)) == []


def test_mp4_samples_match_avi_twin_frames(spark):
    """Cross-format twin contract: mp4_{0,1,2}.mp4 carry byte-identical
    JPEG payloads to vid_{0,1,2}.avi — the same check that ties the
    lossless image codecs to their PPM twins."""
    import os

    from hadoop_tools_spark.operators.avi import parse_avi
    from hadoop_tools_spark.operators.mp4 import mp4_samples
    from hadoop_tools_spark.operators.multimodal import MEDIA_DIR

    for i in range(3):
        with open(os.path.join(MEDIA_DIR, f"vid_{i}.avi"), "rb") as f:
            _, _, _, avi_frames = parse_avi(f.read())
        with open(os.path.join(MEDIA_DIR, f"mp4_{i}.mp4"), "rb") as f:
            blob = f.read()
        samples = [blob[o:o + s] for _, o, s, _, _ in mp4_samples(blob)]
        assert samples == avi_frames, f"mp4_{i} diverges from its AVI twin"


def test_mp4_multi_trak_first_wins():
    """Multi-trak files: sample extraction must use the FIRST trak's
    stbl in document order on BOTH engines (the oracle's tb CTE takes
    MIN(offset) for the same reason — the r8 review caught a MAX there
    that would have read the LAST trak while Python read the first).
    Splice a second trak (different stsd dims) into moov and assert
    the first trak's dims still come out."""
    import struct

    import numpy as np

    from hadoop_tools_spark.operators.jpeg import encode_jpeg
    from hadoop_tools_spark.operators.mp4 import (
        encode_mp4,
        mp4_samples,
        parse_boxes,
    )

    w, h = 24, 16
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    jpegs = [
        encode_jpeg(
            np.stack([(xx + t) % 256, yy % 256, (xx + yy) % 256],
                     axis=2).astype(np.uint8),
            quality=90,
        )
        for t in range(3)
    ]
    blob = bytearray(encode_mp4(jpegs, w, h))
    boxes = parse_boxes(bytes(blob))
    moov_off, moov_sz = next(
        (o, s) for _, t, o, s in boxes if t == "moov"
    )
    trak_off, trak_sz = next(
        (o, s) for _, t, o, s in boxes if t == "trak"
    )
    # second trak = byte copy of the first with stsd width/height bumped
    trak2 = bytearray(blob[trak_off : trak_off + trak_sz])
    stsd_rel = next(
        o for p, t, o, _ in parse_boxes(bytes(blob)) if t == "stsd"
    ) - trak_off
    struct.pack_into(">HH", trak2, stsd_rel + 16 + 32, 999, 777)
    spliced = (
        blob[:moov_off]
        + struct.pack(">I4s", moov_sz + len(trak2), b"moov")
        + blob[moov_off + 8 : moov_off + moov_sz]
        + trak2
    )
    types = [t for _, t, _, _ in parse_boxes(bytes(spliced))]
    assert types.count("trak") == 2
    got = mp4_samples(bytes(spliced))
    assert len(got) == 3
    assert all((dw, dh) == (w, h) for _, _, _, dw, dh in got), got


def test_wet_writer_conformance_and_injection_guard():
    """wet_bytes output must be strict WARC framing (the engine's own
    fail-closed walker recovers every record with identical payload
    digests), survive payloads CONTAINING the record separator, and
    reject CR/LF header injection via the URI."""
    import pytest

    from hadoop_tools_spark.operators.multimodal import (
        _hex_md5,
        _rec_identity,
        _warc_iter,
        wet_bytes,
    )

    recs = [
        ("http://a.example/x", "plain text body"),
        ("http://b.example/y", ""),  # empty conversion payload
        ("http://c.example/z", "tricky \r\n\r\n separator inside"),
        ("http://d.example/é", "unicode café payload ☕"),
    ]
    blob = wet_bytes(recs)
    walked = [_rec_identity(h, p) for h, p in _warc_iter(blob)]
    assert len(walked) == len(recs)
    for (uri, text), (rtype, wuri, clen, digest) in zip(recs, walked):
        assert rtype == "conversion" and wuri == uri
        assert clen == len(text.encode("utf-8"))
        assert digest == _hex_md5(text.encode("utf-8"))

    # torn final record: dropped, earlier ones kept (walker contract)
    assert len(list(_warc_iter(blob[:-10]))) == len(recs) - 1

    with pytest.raises(ValueError):
        wet_bytes([("http://evil/\r\nWARC-Type: response", "x")])


def test_mp3_frame_walk_arithmetic_and_fail_closed():
    """The MP3 frame chain: spec-exact lengths for every (version,
    layer) table, ID3v2 syncsafe skip, and the fail-closed corners —
    torn final frame dropped, lost sync stops the walk, ID3v1 trailer
    terminates cleanly, free-format/reserved headers never emit."""
    from hadoop_tools_spark.operators.mp3 import (
        _frame_len,
        encode_mp3,
        mp3_frames,
    )

    # spot-check the public-spec arithmetic (ISO 11172-3 examples):
    # MPEG-1 L3 128 kbps @ 44100 -> 417 (+1 padded); L1 slot counting
    assert _frame_len(1, 3, 128, 44100, 0) == 417
    assert _frame_len(1, 3, 128, 44100, 1) == 418
    assert _frame_len(1, 1, 256, 32000, 1) == (12 * 256000 // 32000 + 1) * 4
    assert _frame_len(2, 3, 64, 22050, 0) == 72 * 64000 // 22050
    assert _frame_len(2, 2, 64, 24000, 0) == 144 * 64000 // 24000

    specs = [(1, 3, 9, 0, 0), (1, 1, 4, 2, 1), (1, 2, 7, 0, 0),
             (2, 3, 8, 0, 1), (2, 1, 6, 2, 0), (2, 2, 3, 1, 0)]
    blob = encode_mp3(specs, id3_size=57,
                      trailing=b"TAG" + bytes(125))
    rows = mp3_frames(blob)
    assert [(r[3], r[4], r[7]) for r in rows] == [
        (v, l, p) for v, l, _, _, p in specs
    ]
    # offsets chain exactly: each frame starts where the previous ended
    off = 67  # 10-byte ID3v2 header + 57 payload bytes
    for r in rows:
        assert r[1] == off
        off += r[2]
    # ID3v1 trailer: walk stops at lost sync, all frames kept
    assert len(rows) == len(specs)

    # torn final frame: dropped, earlier frames kept
    assert len(mp3_frames(blob[: rows[-1][1] + 3])) == len(specs) - 1
    # lost sync mid-chain stops the walk there
    bad = bytearray(blob)
    bad[rows[2][1]] = 0x00
    assert len(mp3_frames(bytes(bad))) == 2
    # free-format (bitrate idx 0) and reserved samplerate fail closed
    hdr = bytearray(blob[67 : 67 + 4])
    hdr[2] = 0x00  # bitrate idx 0
    assert mp3_frames(bytes(hdr) + blob[71:]) == []
    hdr = bytearray(blob[67 : 67 + 4])
    hdr[2] = (hdr[2] & 0xF0) | 0x0C  # samplerate idx 3 (reserved)
    assert mp3_frames(bytes(hdr) + blob[71:]) == []
    # a torn ID3v2 header (under 10 bytes) yields no frames, no crash
    assert mp3_frames(b"ID3\x03\x00") == []


def test_mp3_fixture_walk_matches_committed_bytes():
    """Committed mp3_{0..4} fixtures: the walk must cover every file,
    the torn-tail fixture (mp3_4) must drop exactly its final frame,
    and frame digests must re-derive from the raw bytes."""
    import glob
    import hashlib
    import os

    from hadoop_tools_spark.operators.mp3 import mp3_frames
    from hadoop_tools_spark.operators.multimodal import MEDIA_DIR

    files = sorted(glob.glob(os.path.join(MEDIA_DIR, "mp3_*.mp3")))
    assert len(files) == 5
    counts = {}
    for f in files:
        with open(f, "rb") as fh:
            blob = fh.read()
        rows = mp3_frames(blob)
        counts[os.path.basename(f)] = len(rows)
        for fid, off, flen, *_rest, digest in rows:
            span = blob[off : off + flen]
            assert span[0] == 0xFF and (span[1] & 0xE0) == 0xE0
            assert digest == hashlib.md5(
                span.hex().upper().encode()
            ).hexdigest()
    assert counts == {
        "mp3_0.mp3": 20, "mp3_1.mp3": 16, "mp3_2.mp3": 24,
        "mp3_3.mp3": 18, "mp3_4.mp3": 11,
    }


def test_mp4_samples_df_drops_undecodable_samples(spark, tmp_path):
    """Intact stbl tables pointing at a corrupt mdat span (valid offsets,
    invalid JPEG) must DROP that sample and keep the rest — the zip
    walker's undecodable-member seam, not an escaped ValueError killing
    the task (ADVICE r8)."""
    import struct

    import numpy as np

    from hadoop_tools_spark.operators.jpeg import encode_jpeg
    from hadoop_tools_spark.operators.mp4 import encode_mp4, mp4_samples
    from hadoop_tools_spark.operators.multimodal import mp4_samples_df, read_assets

    w, h = 24, 16
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    jpegs = [
        encode_jpeg(
            np.stack([(xx + t) % 256, yy % 256, (xx + yy) % 256],
                     axis=2).astype(np.uint8),
            quality=90,
        )
        for t in range(3)
    ]
    blob = bytearray(encode_mp4(jpegs, w, h))
    # tables are intact; trash the SECOND sample's SOI marker in mdat
    # (ValueError path) AND the THIRD sample's SOS entropy-table ids
    # (KeyError-from-missing-Huffman-table path — the class that only
    # the decode_image normalizing seam converts to ValueError; a raw
    # decode_jpeg call would leak it out of the task, r9 review)
    table = mp4_samples(bytes(blob))
    assert len(table) == 3
    _, off1, _, _, _ = table[1]
    struct.pack_into(">H", blob, off1, 0x0000)  # was FFD8
    _, off2, size2, _, _ = table[2]
    sos = bytes(blob).index(b"\xff\xda", off2, off2 + size2)
    blob[sos + 6] = 0xEE  # first component's Td/Ta -> undefined tables
    d = tmp_path / "mp4bad"
    d.mkdir()
    (d / "bad_0.mp4").write_bytes(bytes(blob))

    rows = mp4_samples_df(
        read_assets(spark, str(d), glob="*.mp4")
    ).collect()
    assert sorted(r.sample_id for r in rows) == [0]
    assert all((r.width, r.height) == (w, h) for r in rows)


def test_zip_fixture_extra_tlv_depth_within_oracle_cap():
    """The DuckDB zip oracle probes only the first THREE extra-field TLV
    positions for the zip64 id-0x0001 record (mem2/mem3/memr), while the
    Python walker loops over arbitrarily many.  Pin the fixture budget:
    every committed zipds_*.zip central-directory entry that carries a
    zip64 record must have it within the first 3 TLVs, so fixture
    evolution cannot silently diverge the two sides (ADVICE r8)."""
    import glob
    import os
    import struct

    from hadoop_tools_spark.operators.multimodal import MEDIA_DIR

    checked = 0
    for f in sorted(glob.glob(os.path.join(MEDIA_DIR, "zipds_*.zip"))):
        with open(f, "rb") as fh:
            blob = fh.read()
        off = blob.find(b"PK\x01\x02")
        while off != -1:
            if off + 46 <= len(blob):
                name_len, extra_len = struct.unpack_from("<HH", blob, off + 28)
                ext, end = off + 46 + name_len, off + 46 + name_len + extra_len
                tlvs, p = [], ext
                while p + 4 <= min(end, len(blob)):
                    tid, tsz = struct.unpack_from("<HH", blob, p)
                    if p + 4 + tsz > end:
                        tlvs = None  # malformed walk: not a real CD entry
                        break
                    tlvs.append(tid)
                    p += 4 + tsz
                if tlvs is not None and 0x0001 in tlvs:
                    assert tlvs.index(0x0001) < 3, (f, tlvs)
                    checked += 1
            off = blob.find(b"PK\x01\x02", off + 4)
    assert checked > 0  # the zip64 fixture must exist and be checked


def test_substring_sa_twin_matches_exact_anchor(spark, sf_dir):
    """The truncated-prefix-doubling (suffix-array) scale twin produces
    EXACTLY the anchor's spans: ranks are ids of distinct tuples, so
    equal 40-char prefixes collide and unequal ones never do — no
    repair pass to hide behind. Also pins the k = 32 + 8 decomposition
    boundary: a pair of docs differing ONLY at char 41 of a shared
    40-prefix must still flag (no over-comparison past k)."""
    from hadoop_tools_spark.operators.llm_dedup import (
        llm_dedup_substring,
        llm_substring_dedup_sa,
    )

    a = {tuple(r) for r in llm_dedup_substring(spark, sf_dir).collect()}
    b = {tuple(r) for r in llm_substring_dedup_sa(spark, sf_dir).collect()}
    assert a == b and a
    spark.catalog.clearCache()


def test_substring_sa_boundary_exactness(spark, tmp_path):
    """Constructed corpus hitting the decomposition edges: (a) two docs
    share chars 1..40 but differ at 41 -> window 1 must flag in both;
    (b) share only chars 2..41 (40 chars, offset alignment through the
    32+8 split at a non-multiple position); (c) a 39-char overlap must
    NOT flag; (d) short docs (< k) are excluded not crashed."""
    from hadoop_tools_spark.operators.llm_dedup import (
        _SUB_K,
        llm_dedup_substring,
        llm_substring_dedup_sa,
    )

    base = "".join(chr(65 + (i * 7) % 26) for i in range(_SUB_K))  # 40 chars
    rows = [
        (1, base + "XTAIL1"),                     # (a) shares 1..40 with 2
        (2, base + "YTAIL2"),
        (3, "Q" + base[1:] + base[-1] + "ZZ"),    # (b) shares base[1:]+last
        (4, "P" + base[1:] + base[-1] + "WW"),
        (5, base[:39] + "####ns"),                # (c) 39-char run only
        (6, "tiny"),                              # (d) shorter than k
    ]
    spark.createDataFrame(
        [(d, t, "en", "s", len(t)) for d, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    a = {tuple(r) for r in llm_dedup_substring(spark, str(tmp_path)).collect()}
    b = {tuple(r)
         for r in llm_substring_dedup_sa(spark, str(tmp_path)).collect()}
    assert a == b
    flagged_docs = {r[0] for r in a}
    assert {1, 2, 3, 4} <= flagged_docs
    assert 5 not in flagged_docs and 6 not in flagged_docs
    spark.catalog.clearCache()


def test_zip64_shard_members_and_stdlib_conformance(spark):
    """zipds_4.zip is the zip64 witness: sentinel'd EOCD resolved
    through the locator + zip64 EOCD record, and two members whose
    sizes/offset live in an id-0x0001 extra placed BEHIND a dummy TLV
    (the walk must really walk the extras, not assume position 0).
    The walk must produce exactly the stdlib zipfile view of the same
    archive (third independent implementation)."""
    import os
    import zipfile

    from hadoop_tools_spark.operators.multimodal import (
        MEDIA_DIR,
        read_assets,
        zip_members,
    )

    path = os.path.join(MEDIA_DIR, "zipds_4.zip")
    out = {r.member: r for r in zip_members(
        read_assets(spark, MEDIA_DIR, glob="zipds_4.zip")
    ).collect()}
    with zipfile.ZipFile(path) as zf:
        infos = {i.filename: i for i in zf.infolist()}
        assert zf.testzip() is None
    assert set(out) == set(infos) and len(out) == 6
    for name, i in infos.items():
        r = out[name]
        assert r.comp_size == i.compress_size, name
        assert r.uncomp_size == i.file_size, name
        assert r.crc32 == i.CRC, name

    # fail-closed: tear the zip64 EOCD record's signature -> the
    # sentinel'd EOCD cannot resolve, the shard yields zero rows
    with open(path, "rb") as f:
        blob = bytearray(f.read())
    z64 = blob.rfind(b"PK\x06\x06")
    blob[z64] = 0x00
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        with open(os.path.join(d, "torn.zip"), "wb") as f:
            f.write(bytes(blob))
        assert zip_members(
            read_assets(spark, d, glob="*.zip")
        ).collect() == []


def test_tiff_palette_decode():
    """Palette-color TIFFs (photometric 3): 8-bit indices through a
    3x256 SHORT ColorMap (all reds, all greens, all blues; 16-bit
    values scaled >> 8) across both byte orders and all three
    compressions; a missing/short ColorMap fails loudly."""
    import struct

    import numpy as np
    import pytest as _pytest

    from hadoop_tools_spark.operators.tiff import (
        _lzw_encode,
        _packbits_encode,
        decode_tiff,
    )

    rng = np.random.RandomState(5)
    lut8 = rng.randint(0, 256, (3, 256), dtype=np.uint16)
    cmap_vals = (lut8 * 257).astype(np.uint16)  # v*257 >> 8 == v exactly

    def pal_tiff(idx, comp, bo, with_map=True, map_entries=256):
        h, w = idx.shape
        data = idx.tobytes()
        if comp == 32773:
            data = _packbits_encode(data)
        elif comp == 5:
            data = _lzw_encode(data)
        u16, u32 = bo + "H", bo + "I"
        magic = b"II*\x00" if bo == "<" else b"MM\x00*"
        cmap = b"".join(
            struct.pack(u16, int(v))
            for ch in range(3) for v in cmap_vals[ch][:map_entries]
        )
        data_off = 8
        cmap_off = data_off + len(data) + (len(data) & 1)
        ifd_off = cmap_off + len(cmap)

        def e(tag, typ, cnt, val, short=False):
            b = struct.pack(u16, tag) + struct.pack(u16, typ)
            b += struct.pack(u32, cnt)
            if short:
                return b + struct.pack(u16, val) + b"\x00\x00"
            return b + struct.pack(u32, val)

        ents = [
            e(256, 4, 1, w), e(257, 4, 1, h), e(258, 3, 1, 8, True),
            e(259, 3, 1, comp, True), e(262, 3, 1, 3, True),
            e(273, 4, 1, data_off), e(277, 3, 1, 1, True),
            e(278, 4, 1, h), e(279, 4, 1, len(data)),
        ]
        if with_map:
            ents.append(e(320, 3, 3 * map_entries, cmap_off))
        ents.sort(key=lambda b: struct.unpack(u16, b[:2])[0])
        out = bytearray(magic + struct.pack(u32, ifd_off) + data)
        if len(out) & 1:
            out += b"\x00"
        out += cmap
        out += struct.pack(u16, len(ents))
        for x in ents:
            out += x
        out += struct.pack(u32, 0)
        return bytes(out)

    idx = np.random.RandomState(6).randint(0, 256, (7, 11), dtype=np.uint8)
    want = np.stack([lut8[ch][idx] for ch in range(3)], axis=2)
    for comp in (1, 5, 32773):
        for bo in "<>":
            w2, h2, px = decode_tiff(pal_tiff(idx, comp, bo))
            assert (w2, h2) == (11, 7)
            assert (px == want).all(), (comp, bo)

    with _pytest.raises(ValueError, match="ColorMap"):
        decode_tiff(pal_tiff(idx, 1, "<", with_map=False))
    with _pytest.raises(ValueError, match="ColorMap"):
        decode_tiff(pal_tiff(idx, 1, "<", map_entries=16))


def test_ogg_page_walk_semantics_and_fail_closed():
    """RFC 3533 page walk: lacing arithmetic, packet continuation,
    flag decode, signed granule, CRC rejection, torn-page drop."""
    from hadoop_tools_spark.operators.ogg import (
        encode_ogg,
        lacing_for,
        ogg_crc,
        ogg_pages,
    )

    # lacing: 600 = 255+255+90; exact multiple 510 ends in a 0 value
    assert lacing_for([600]) == [255, 255, 90]
    assert lacing_for([510]) == [255, 255, 0]
    assert lacing_for([0]) == [0]

    blob = encode_ogg([
        {"serial": 3, "seq": 0, "flags": 2, "granule": 0,
         "packets": [10, 510]},
        {"serial": 3, "seq": 1, "granule": -1, "lacing": [255, 255]},
        {"serial": 3, "seq": 2, "flags": 1 | 4, "granule": 7,
         "lacing": [90]},
    ])
    rows = ogg_pages(blob)
    assert len(rows) == 3
    # page 0: BOS, two packets completed (10, 510), lacing 1+3 values
    pid, off, plen, cont, bos, eos, gran, ser, seq, nsegs, blen, npk, _ = (
        rows[0]
    )
    assert (off, cont, bos, eos, ser, seq) == (0, 0, 1, 0, 3, 0)
    assert (nsegs, blen, npk) == (4, 520, 2)
    assert plen == 27 + 4 + 520
    # page 1: no packet completes (all-255 lacing), granule -1 signed
    assert rows[1][6] == -1 and rows[1][11] == 0
    # page 2: continued + EOS flags together
    assert rows[2][3] == 1 and rows[2][5] == 1 and rows[2][11] == 1
    # offsets tile end-to-end
    assert rows[1][1] == rows[0][1] + rows[0][2]
    assert rows[2][1] + rows[2][2] == len(blob)

    # CRC corruption: flip one payload byte → page dropped, walk stops
    bad = bytearray(blob)
    bad[rows[0][2] + 40] ^= 0xFF  # inside page 1's payload
    assert len(ogg_pages(bytes(bad))) == 1
    # reserved flag bits fail closed
    bad = bytearray(blob)
    bad[5] |= 0x10
    assert ogg_pages(bytes(bad)) == []
    # non-zero version fails closed
    bad = bytearray(blob)
    bad[4] = 1
    assert ogg_pages(bytes(bad)) == []
    # torn segment table / torn payload drop the final page only
    assert len(ogg_pages(blob[:-1])) == 2
    assert len(ogg_pages(blob[: rows[2][1] + 5])) == 2

    # CRC self-check against an independent bitwise implementation
    def crc_bitwise(data: bytes) -> int:
        crc = 0
        for b in data:
            crc ^= b << 24
            for _ in range(8):
                crc = (
                    ((crc << 1) ^ 0x04C11DB7)
                    if crc & 0x80000000
                    else (crc << 1)
                ) & 0xFFFFFFFF
        return crc

    for probe in (b"", b"OggS", blob[:100]):
        assert ogg_crc(probe) == crc_bitwise(probe)


def test_ogg_fixture_walk_matches_committed_bytes():
    """Committed ogg_{0..4} fixtures: expected page counts per shard
    (the torn fixture drops exactly its final page), digests re-derive
    from raw bytes, and multiplexed serials interleave."""
    import glob
    import hashlib
    import os

    from hadoop_tools_spark.operators.multimodal import MEDIA_DIR
    from hadoop_tools_spark.operators.ogg import ogg_pages

    files = sorted(glob.glob(os.path.join(MEDIA_DIR, "ogg_*.ogg")))
    assert len(files) == 7
    counts, serials = {}, {}
    for f in files:
        with open(f, "rb") as fh:
            blob = fh.read()
        rows = ogg_pages(blob)
        counts[os.path.basename(f)] = len(rows)
        serials[os.path.basename(f)] = sorted({r[7] for r in rows})
        for r in rows:
            span = blob[r[1] : r[1] + r[2]]
            assert r[12] == hashlib.md5(
                span.hex().upper().encode()
            ).hexdigest()
    assert counts == {
        "ogg_0.ogg": 5, "ogg_1.ogg": 8, "ogg_2.ogg": 5,
        "ogg_3.ogg": 2, "ogg_4.ogg": 1, "ogg_5.ogg": 4,
        "ogg_6.ogg": 5,
    }
    assert serials["ogg_1.ogg"] == [111, 222]
    assert serials["ogg_6.ogg"] == [71, 72]


def test_classifier_hash_is_exchange_free_and_balanced(spark, sf_dir):
    """The hashed linear classifier must be a single projection — no
    Exchange anywhere in the executed plan (it rides the ingest scan)
    — with bounded integer weights and both labels represented."""
    from hadoop_tools_spark.operators.llm_text import llm_classifier_hash

    df = llm_classifier_hash(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the only allowed exchange is load_spread's declared round-robin
    # fixture fan-out; the classifier itself must add NO key shuffle
    assert "hashpartitioning" not in plan, plan
    assert plan.count("Exchange") <= 1, plan
    assert "Join" not in plan and "Aggregate" not in plan, plan
    rows = df.collect()
    assert len(rows) > 0
    labels = {r.label for r in rows}
    assert labels == {"keep", "drop"}
    for r in rows:
        # weight sum is bounded by n_features * max|w| + |bias|
        assert abs(r.score) <= r.n_features * 1000 + 50
        assert r.label == ("keep" if r.score > 0 else "drop")


def test_ogg_streams_codec_identification():
    """Stream demux: OpusHead/Vorbis-ID fields parse exactly, unknown
    magics and BOS-less (torn) streams fail closed to 'unknown', and
    a truncated ID packet is not misidentified."""
    from hadoop_tools_spark.operators.ogg import (
        encode_ogg,
        ogg_streams,
        opus_head,
        vorbis_head,
    )

    blob = encode_ogg([
        {"serial": 1, "seq": 0, "flags": 2, "granule": 0,
         "packets_bytes": [opus_head(6, 123, 24000)]},
        {"serial": 2, "seq": 0, "flags": 2, "granule": 0,
         "packets_bytes": [vorbis_head(2, 8000)]},
        {"serial": 1, "seq": 1, "flags": 4, "granule": 480,
         "packets": [10]},
        {"serial": 2, "seq": 1, "flags": 4, "granule": 256,
         "packets": [11]},
    ])
    rows = {r[0]: r for r in ogg_streams(blob)}
    assert rows[1][1:3] == ("opus", 2)
    assert rows[1][7:10] == (6, 24000, 123)
    assert rows[2][1] == "vorbis"
    assert rows[2][7:10] == (2, 8000, None)
    assert all(r[6] == 1 for r in rows.values())  # both saw EOS

    # truncated OpusHead (under 19 bytes): unknown, fields NULL
    short = encode_ogg([
        {"serial": 9, "seq": 0, "flags": 2, "granule": 0,
         "packets_bytes": [b"OpusHead\x01\x02"]},
    ])
    (r,) = ogg_streams(short)
    assert r[1] == "unknown" and r[7:10] == (None, None, None)

    # stream whose BOS page is torn away: summary still emitted for
    # walked pages, codec unknown
    pages = encode_ogg([
        {"serial": 5, "seq": 0, "flags": 2, "granule": 0,
         "packets_bytes": [opus_head(2, 0, 48000)]},
        {"serial": 5, "seq": 1, "flags": 4, "granule": 100,
         "packets": [8]},
    ])
    from hadoop_tools_spark.operators.ogg import ogg_pages

    first_len = ogg_pages(pages)[0][2]
    # the second page re-syncs at offset 0, so the stream IS
    # summarized — but with codec unknown and NULL fields (no BOS)
    assert ogg_streams(pages[first_len:]) == [
        (5, "unknown", 1, 1, 100, 100, 1, None, None, None)
    ]


def test_neardup_append_equals_full_recompute(spark, sf_dir):
    """Incremental maintenance invariant: base-internal pairs + the
    delta pass reproduce the full pair set exactly, the delta pass
    emits no base-base pair, and no pair is double-counted."""
    from hadoop_tools_spark.operators.llm_dedup import (
        llm_neardup_append,
        llm_neardup_pairs,
    )

    full = {
        (r.doc_a, r.doc_b) for r in llm_neardup_pairs(spark, sf_dir).collect()
    }
    rows = [(r.doc_a, r.doc_b) for r in llm_neardup_append(spark, sf_dir).collect()]
    assert len(rows) == len(set(rows)), "duplicated pair rows"
    assert set(rows) == full
    # every pair not wholly inside base must touch a delta doc
    for a, b in set(rows) - {
        p for p in full if p[0] % 5 != 0 and p[1] % 5 != 0
    }:
        assert a % 5 == 0 or b % 5 == 0


def test_tokenize_viterbi_optimal_and_tiebreaks(spark, sf_dir):
    """The DP segmentation is OPTIMAL: for every output word (short
    enough to enumerate), exhaustive enumeration of all segmentations
    under the same vocab finds no higher (score, -ntok, longest-last)
    key — and the reported pieces concatenate back to the word with
    matching token count and score."""
    from itertools import product

    from hadoop_tools_spark.operators.llm_text import (
        _VIT_K,
        llm_tokenize_viterbi,
    )

    rows = llm_tokenize_viterbi(spark, sf_dir).collect()
    assert rows
    # rebuild the same vocab the operator used
    words = sorted({r.word for r in rows})
    from collections import Counter

    cnt = Counter()
    for w in words:
        for piece_len in (2, 3, 4):
            for i in range(len(w) - piece_len + 1):
                cnt[w[i : i + piece_len]] += 1
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:_VIT_K]
    vocab = dict(top)

    def score_of(piece):
        if len(piece) == 1:
            return 1
        return vocab.get(piece)

    def all_segs(w):
        # all compositions into pieces of length 1..4 present in vocab
        if not w:
            yield []
            return
        for piece_len in range(1, min(4, len(w)) + 1):
            head, rest = w[:piece_len], w[piece_len:]
            if score_of(head) is None:
                continue
            for tail in all_segs(rest):
                yield [head] + tail

    checked = 0
    for r in rows:
        pieces = r.segmentation.split(" ")
        assert "".join(pieces) == r.word
        assert len(pieces) == r.n_tokens
        assert sum(score_of(p) for p in pieces) == r.total_score
        if len(r.word) <= 8:
            best = max(
                (
                    (
                        sum(score_of(p) for p in seg),
                        -len(seg),
                    )
                    for seg in all_segs(r.word)
                ),
            )
            assert (r.total_score, -r.n_tokens) == best, (r.word, best)
            checked += 1
    assert checked > 0


def test_unigram_learn_prunes_unused_pieces(spark, sf_dir):
    """Hard-EM M-step invariants: usage never exceeds what the
    segmentations contain, every piece marked kept appears in at
    least one optimal segmentation, pruned pieces appear in none,
    and the round actually prunes something (span frequency must
    overstate at least one overlapped piece on this corpus)."""
    from collections import Counter

    from hadoop_tools_spark.operators.llm_text import (
        llm_tokenize_viterbi,
        llm_unigram_learn,
    )

    segs = llm_tokenize_viterbi(spark, sf_dir).collect()
    used = Counter()
    for r in segs:
        for p in r.segmentation.split(" "):
            if len(p) >= 2:
                used[p] += 1
    rows = llm_unigram_learn(spark, sf_dir).collect()
    assert len(rows) > 0
    pruned = 0
    for r in rows:
        assert r.new_score == used.get(r.piece, 0)
        assert r.kept == (1 if used.get(r.piece) else 0)
        assert r.old_score >= 1
        pruned += 1 - r.kept
    assert pruned > 0, "expected the E-step to strand some pieces"


def test_pack_bestfit_invariants(spark, sf_dir):
    """BFD packing: every doc lands in exactly one bin, every
    multi-doc bin respects the cap (only oversized singletons
    exceed it), and per shard the bin count stays within BFD's
    11/9*OPT + 1 guarantee of the token-volume lower bound."""
    import math
    from collections import defaultdict

    from hadoop_tools_spark.operators.llm_text import (
        _PACK_SEQ,
        llm_pack_bestfit,
    )

    rows = llm_pack_bestfit(spark, sf_dir).collect()
    assert rows
    assert len({r.doc_id for r in rows}) == len(rows)
    bins = defaultdict(list)
    shard_tokens = defaultdict(int)
    for r in rows:
        bins[(r.shard, r.bin)].append(r.n_tokens)
        shard_tokens[r.shard] += r.n_tokens
    for (shard, b), sizes in bins.items():
        if len(sizes) > 1 or sizes[0] <= _PACK_SEQ:
            assert sum(sizes) <= _PACK_SEQ, (shard, b, sizes)
    shard_bins = defaultdict(int)
    for shard, _b in bins:
        shard_bins[shard] += 1
    for shard, nb in shard_bins.items():
        opt_lb = math.ceil(shard_tokens[shard] / _PACK_SEQ)
        assert nb <= (11 * opt_lb) // 9 + 1, (shard, nb, opt_lb)

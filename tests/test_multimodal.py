"""Multimodal plumbing tests: schemas, Arrow batching, deterministic
stub features, and REAL PNG/JPEG header decode (pure-Python byte
parse; pixel-level decode stays stubbed — no codecs in this
container)."""

from __future__ import annotations

import hashlib
import zlib

from kinesis_alerts_consumer_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    decode_image_dims,
    extract_features,
    frame_sample,
    resize_plan,
)


def make_png(width: int, height: int) -> bytes:
    """A real, spec-valid PNG (8-bit RGBA, zlib-deflated scanlines)."""

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + tag
            + data
            + zlib.crc32(tag + data).to_bytes(4, "big")
        )

    ihdr = (
        width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        + bytes([8, 6, 0, 0, 0])  # bit depth 8, color type RGBA
    )
    raw = b"".join(b"\x00" + b"\x00\x00\x00\xff" * width
                   for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def make_jpeg(width: int, height: int) -> bytes:
    """Minimal JPEG marker stream: SOI + APP0(JFIF) + SOF0 header."""
    app0 = b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = (
        b"\xff\xc0\x00\x11\x08"
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def test_decode_real_png_and_jpeg_dims():
    assert decode_image_dims(make_png(3, 2)) == (3, 2, "png")
    assert decode_image_dims(make_png(640, 480)) == (640, 480, "png")
    assert decode_image_dims(make_jpeg(32, 16)) == (32, 16, "jpeg")


def test_decode_rejects_non_images():
    # UTF-8 text (the mm01 oracle payloads) can never decode: PNG/JPEG
    # magics are invalid UTF-8 leading bytes.
    assert decode_image_dims("plain text payload".encode()) is None
    assert decode_image_dims(b"") is None
    assert decode_image_dims(None) is None
    assert decode_image_dims(b"\x89PNG but truncated") is None
    assert decode_image_dims(b"\xff\xd8 not marker structured") is None


def media_df(spark):
    rows = [
        (1, "image/png", b"\x89PNG fake bytes 1", 800, 600, None),
        (2, "image/png", b"\x89PNG fake bytes 22", 300, 200, None),
        (3, "video/mp4", b"\x00mp4 fake", 1920, 1080, 3500),
        (4, "audio/wav", b"RIFF fake", None, None, 2000),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features_deterministic_and_projects_payload(spark):
    out = extract_features(media_df(spark), target_partitions=2)
    assert "payload" not in out.columns
    rows = {r.media_id: r for r in out.collect()}
    assert len(rows) == 4
    expect = hashlib.md5(b"\x89PNG fake bytes 1").hexdigest()
    assert rows[1].checksum == expect
    assert rows[1].n_bytes == len(b"\x89PNG fake bytes 1")
    assert 0.0 <= rows[1].feat_mean <= 1.0
    # rerun -> identical (stub decode is deterministic)
    again = {r.media_id: r for r in extract_features(media_df(spark)).collect()}
    assert rows[1].feat_mean == again[1].feat_mean


def test_frame_sample_offsets(spark):
    frames = frame_sample(media_df(spark), every_ms=1000).collect()
    assert {r.media_id for r in frames} == {3}
    assert sorted(r.frame_offset_ms for r in frames) == [0, 1000, 2000, 3000]


def test_resize_plan_aspect_preserving(spark):
    plans = {r.media_id: r for r in resize_plan(media_df(spark), 512).collect()}
    assert set(plans) == {1, 2}
    assert (plans[1].target_width, plans[1].target_height) == (512, 384)
    # already smaller than max side -> unchanged
    assert (plans[2].target_width, plans[2].target_height) == (300, 200)


def test_media_block_fingerprint_and_near_dup(spark):
    """mm04's operator (r14, VERDICT r13 item 4) on REAL binary: a
    PNG, the same PNG with an appended metadata-ish tail (the
    dominant binary dup class: identical pixels, edited trailer), and
    an unrelated PNG. Pins the block-token bridge semantics (hex
    slicing width, trailing partial block, prefix stability) and the
    end-to-end pair detection + over-cap stats reuse."""
    from kinesis_alerts_consumer_spark.operators.multimodal import (
        media_block_fingerprint_docs,
        media_near_dup_pairs,
    )

    png = make_png(16, 16)
    near = png + b"EXIF-ish trailer appended after IEND"
    other = make_png(64, 2)
    media = spark.createDataFrame(
        [(1, png), (2, near), (3, other)],
        "media_id long, payload binary",
    )

    docs = {r.doc_id: r.text
            for r in media_block_fingerprint_docs(media, 8).collect()}
    # token arithmetic: ceil(len/8) blocks, 16 hex chars each except
    # a trailing partial
    toks = docs[1].split(" ")
    assert len(toks) == -(-len(png) // 8)
    assert all(len(t) == 16 for t in toks[:-1])
    assert len(toks[-1]) == (len(png) % 8 or 8) * 2
    # prefix stability: the tailed copy extends the original's tokens
    # with every shared complete block intact
    toks2 = docs[2].split(" ")
    shared = len(png) // 8  # complete blocks of the shorter payload
    assert toks2[:shared] == toks[:shared]

    # 8-byte blocks on this ~81-byte PNG: 10 shared complete blocks
    # over a ~16-block union -> J ~= 0.625, comfortably over 0.5
    pairs = {(r.a, r.b): r.jaccard
             for r in media_near_dup_pairs(media, block_bytes=8).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.5
    assert not any(3 in p for p in pairs)

    # the over-cap light arrives through the shared lsh machinery
    boiler = spark.createDataFrame(
        [(i, png) for i in range(10)], "media_id long, payload binary")
    stats: dict = {}
    media_near_dup_pairs(boiler, block_bytes=32, max_bucket=4,
                         stats=stats).collect()
    assert stats["overcap_buckets"] >= 1
    assert stats["dropped_members"] >= 10

    # input validation
    import pytest

    with pytest.raises(ValueError, match="block_bytes"):
        media_block_fingerprint_docs(media, 0)


def test_media_cdc_insertion_robustness(spark):
    """mm05's claim, pinned as a CONTRAST: a mid-payload insertion
    breaks the offset-aligned block fingerprint (every later block
    shifts) but survives content-defined chunking (only the chunk
    containing the splice changes). Same payloads through both
    operators."""
    from kinesis_alerts_consumer_spark.operators.multimodal import (
        media_cdc_fingerprint_docs,
        media_cdc_near_dup_pairs,
        media_near_dup_pairs,
    )

    base = ("the quick brown fox jumps over the lazy dog while the "
            "rain in spain stays mainly on the plain and the cat "
            "sat on the mat watching the world go by slowly") * 2
    # splice 9 bytes into the middle -> every fixed block after ~190
    # bytes shifts; CDC chunks before/after the splice are untouched
    mid = len(base) // 2
    inserted = base[:mid] + "[SPLICE!]" + base[mid:]
    media = spark.createDataFrame(
        [(1, base.encode()), (2, inserted.encode()),
         (3, b"completely unrelated binary \x00\x01\x02 payload here")],
        "media_id long, payload binary",
    )

    # CDC chunk tokens: identical outside the splice neighborhood
    docs = {r.doc_id: r.text.split(" ")
            for r in media_cdc_fingerprint_docs(media, "7").collect()}
    shared = set(docs[1]) & set(docs[2])
    union = set(docs[1]) | set(docs[2])
    assert len(shared) / len(union) >= 0.8  # chunk-level survival

    cdc_pairs = {(r.a, r.b): r.jaccard
                 for r in media_cdc_near_dup_pairs(media, "7").collect()}
    assert (1, 2) in cdc_pairs and cdc_pairs[(1, 2)] >= 0.5
    assert not any(3 in p for p in cdc_pairs)

    # the block fingerprint misses the same pair: offset-shifted
    # blocks share only the pre-splice prefix, J < 0.5 at 16-byte
    # blocks on a ~380-byte payload
    blk_pairs = {(r.a, r.b)
                 for r in media_near_dup_pairs(
                     media, block_bytes=16).collect()}
    assert (1, 2) not in blk_pairs

    # cut-rule validation
    import pytest

    with pytest.raises(ValueError, match="cut_nibble"):
        media_cdc_fingerprint_docs(media, "x7")
    with pytest.raises(ValueError, match="cut_nibble"):
        media_cdc_fingerprint_docs(media, "g")


def test_media_incremental_pairs_prebuilt_index(spark, tmp_path):
    """mm06's operator: new media probed against a written-back
    media_block_index — geometry read from the table (the shared
    contract of lsh_incremental_pairs), new-vs-old only, and the
    new_max_bucket skew light rides along."""
    from kinesis_alerts_consumer_spark.operators.multimodal import (
        media_block_index,
        media_incremental_pairs,
    )

    png = make_png(16, 16)
    old = spark.createDataFrame(
        [(1, png), (2, b"some other old corpus payload entirely")],
        "media_id long, payload binary",
    )
    # exact payload copy: identical block-token set -> identical
    # signatures -> guaranteed bucket match at ANY banding (the llm40
    # test's device; near-dup recall itself is mm04's J>=0.5 fixture)
    new = spark.createDataFrame(
        [(1000, png), (1001, b"fresh unrelated new payload")],
        "media_id long, payload binary",
    )

    d = str(tmp_path / "media_index")
    media_block_index(old, block_bytes=8).write.partitionBy(
        "band").parquet(d)
    idx = spark.read.parquet(d)

    stats: dict = {}
    pairs = {(r.a, r.b): r.jaccard
             for r in media_incremental_pairs(
                 new, old, block_bytes=8, index=idx,
                 stats=stats).collect()}
    assert pairs.get((1, 1000)) == 1.0
    assert all(a < 1000 <= b for a, b in pairs)
    assert stats["new_max_bucket"] >= 1

    # an in-memory index (build-site geometry) agrees with the
    # parquet-read one (geometry from the metadata aggregate)
    in_memory = {(r.a, r.b): r.jaccard
                 for r in media_incremental_pairs(
                     new, old, block_bytes=8,
                     index=media_block_index(
                         old, block_bytes=8, bands=2,
                         rows_per_band=2)).collect()}
    assert in_memory == pairs


def test_mm_oracle_twin_smoke(spark, duck):
    """Debut-protocol pytest twins (same device as the streaming smoke
    twin): the r14 multimodal debutantes vs their DuckDB oracles at
    smoke sf, the driver's own compare."""
    from kinesis_alerts_consumer_spark.plans.multimodal_queries import (
        MULTIMODAL_QUERIES,
    )

    from .comparison import assert_frames_match
    from .conftest import SF_SMOKE

    for name in ("mm04_media_near_dup", "mm05_media_cdc_near_dup",
                 "mm06_media_incremental_dedup"):
        fn, oracle = MULTIMODAL_QUERIES[name]
        assert_frames_match(fn(spark, SF_SMOKE), duck, oracle, name=name)

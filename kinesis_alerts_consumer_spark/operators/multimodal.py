"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed in Arrow batches.

Image HEADER decode is real: :func:`decode_image_dims` parses PNG and
JPEG bytes directly (pure Python, no codec libraries) and yields
(width, height, codec). Full pixel/sample decode needs codec libraries
the container lacks, so pixel-level features remain a clearly-marked
deterministic stub (``_fake_decode``, md5-keyed — swap for PIL/ffmpeg
in production). Everything Spark-side is real and tested: the media
struct schema, Arrow-batched ``mapInPandas`` plumbing, batch shapes,
partition sizing, and the feature-table contract downstream operators
consume.

Scale notes: binary payloads dominate row width, so
- feature extraction projects AWAY the payload as early as possible
  (the returned frame carries features + metadata only);
- ``repartition`` before the decode keeps Arrow batches balanced when
  payload sizes are skewed;
- decode parallelism is per-partition Python workers with Arrow
  transfer — the canonical Spark pattern for opaque-binary UDF work.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# One media item: opaque payload + typed metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
        StructField("checksum", StringType()),
        StructField("feat_mean", DoubleType()),
        StructField("feat_std", DoubleType()),
        StructField("decoded_width", IntegerType()),
        StructField("decoded_height", IntegerType()),
        StructField("codec", StringType()),
    ]
)


def _fake_decode(payload: bytes) -> tuple[float, float]:
    """STUB pseudo-features from the payload bytes (md5-seeded) —
    deterministic on arbitrary binary, so the DuckDB oracle reproduces
    them with its own md5. Real pixel/sample statistics would replace
    this where a full codec (PIL, torchaudio, pyav) is installed; only
    this function changes, the Spark plumbing stays identical."""
    digest = hashlib.md5(payload).digest()
    mean = int.from_bytes(digest[:4], "big") / 2**32
    std = int.from_bytes(digest[4:8], "big") / 2**32
    return mean, std


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# JPEG SOF markers that carry frame dimensions (C4/C8/CC are
# huffman/arithmetic tables, not frames).
_JPEG_SOF = {
    m for m in range(0xC0, 0xD0) if m not in (0xC4, 0xC8, 0xCC)
}


def decode_image_dims(payload: bytes | None) -> tuple[int, int, str] | None:
    """REAL image decode of the header: (width, height, codec) for PNG
    and JPEG payloads, None otherwise. Pure-Python byte parse — no
    codec libraries needed for dimensions.

    Deliberately PNG/JPEG only: both magics (0x89.., 0xFF..) are
    impossible leading bytes for UTF-8 text, so the synthetic text
    payloads used by the mm01 oracle provably decode to NULL, keeping
    the oracle exact while real images decode for real.
    """
    if not payload:
        return None
    b = bytes(payload)
    # PNG: 8-byte magic, then IHDR chunk: length(4) 'IHDR' width(4) height(4).
    if b[:8] == _PNG_MAGIC and len(b) >= 24 and b[12:16] == b"IHDR":
        return (
            int.from_bytes(b[16:20], "big"),
            int.from_bytes(b[20:24], "big"),
            "png",
        )
    # JPEG: SOI then marker segments; dims live in the first SOFn.
    if b[:2] == b"\xff\xd8":
        i = 2
        while i + 9 < len(b):
            if b[i] != 0xFF:
                return None  # desynced: not a well-formed marker stream
            marker = b[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
                i += 2  # standalone markers (SOI/EOI/RSTn/TEM)
                continue
            seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
            if marker in _JPEG_SOF and i + 9 <= len(b):
                height = int.from_bytes(b[i + 5 : i + 7], "big")
                width = int.from_bytes(b[i + 7 : i + 9], "big")
                return (width, height, "jpeg")
            i += 2 + seg_len
    return None


def extract_features(media: DataFrame, target_partitions: int | None = None) -> DataFrame:
    """Binary media -> per-item feature rows via Arrow-batched
    ``mapInPandas``. Projects the payload away in the output."""
    if target_partitions:
        media = media.repartition(target_partitions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _fake_decode(bytes(p)) if p is not None else (None, None)
                for p in pdf["payload"]
            ]
            dims = [decode_image_dims(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": [len(bytes(p)) if p is not None else 0
                                for p in pdf["payload"]],
                    "checksum": [
                        hashlib.md5(bytes(p)).hexdigest() if p is not None else None
                        for p in pdf["payload"]
                    ],
                    "feat_mean": [f[0] for f in feats],
                    "feat_std": [f[1] for f in feats],
                    "decoded_width": pd.array(
                        [d[0] if d else None for d in dims], dtype="Int32"
                    ),
                    "decoded_height": pd.array(
                        [d[1] if d else None for d in dims], dtype="Int32"
                    ),
                    "codec": [d[2] if d else None for d in dims],
                }
            )

    return media.mapInPandas(run, FEATURES_SCHEMA)


def media_block_fingerprint_docs(
    media: DataFrame, block_bytes: int = 64
) -> DataFrame:
    """Opaque binary payloads -> byte-block fingerprint "documents"
    (``doc_id``, ``text``) — the bridge from multimodal columns onto
    the gated text near-dup machinery (the multimodal family's
    first-class dedup operator).

    Each payload is hex-encoded and sliced into fixed
    ``block_bytes``-byte blocks (2·block_bytes hex chars; the trailing
    partial block is kept); the space-joined block tokens form a
    ``text`` column whose WHITESPACE TOKEN SET is exactly the
    payload's block multiset — so :func:`~.dedup.lsh_candidate_pairs`
    / :func:`~.dedup.jaccard_pairs` at ``shingle=1`` compute
    block-level MinHash-LSH and exact block-Jaccard over media bytes
    with zero new shuffle machinery, and every existing lever (band
    sizing with :func:`~.dedup.suggest_lsh_sizing`, ``max_bucket`` +
    ``_overcap_light`` stats) applies unchanged.

    The hex slicing is one ``regexp_extract_all`` (``(.{1,2B})``
    consecutive greedy chunks) — whole-stage codegen, NOT a
    higher-order ``transform`` lambda (CodegenFallback; the
    shingle lesson of :func:`~.dedup.shingle_strings`). No per-block
    md5 is needed: the LSH minhash recipe hashes each token itself,
    and raw hex blocks are already uniform tokens.

    Similarity semantics: fixed OFFSET-ALIGNED blocks detect the
    dominant binary dup classes — identical payloads, appended/
    truncated tails (EXIF/metadata edits), and sparse in-place block
    edits. A mid-payload byte INSERTION shifts every later block
    (Jaccard collapses); insertion-robust media dedup needs
    content-defined chunking (a rolling-hash cut rule, the llm11
    fingerprint device over bytes) — out of scope here, same
    contract as text fingerprints vs shingles. A re-ENCODE shares no
    bytes at all; catching it needs real pixel decode
    (:func:`_fake_decode`'s production replacement) + the embedding
    near-dup family. At 100 TB the shuffle never carries payloads:
    this projection reduces each item to its hex blocks once, and the
    downstream LSH ships (doc_id, minhash longs) only.
    """
    if block_bytes < 1:
        raise ValueError(f"block_bytes must be >= 1, got {block_bytes}")
    blocks = F.regexp_extract_all(
        F.hex(F.col("payload")),
        F.lit(f"(.{{1,{2 * block_bytes}}})"),
        F.lit(1),
    )
    return media.select(
        F.col("media_id").alias("doc_id"),
        F.array_join(blocks, " ").alias("text"),
    )


def media_near_dup_pairs(
    media: DataFrame,
    block_bytes: int = 64,
    bands: int = 2,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = 64,
    stats: dict | None = None,
) -> DataFrame:
    """Byte-block near-dup pairs over binary media payloads:
    ``(a, b, jaccard)`` with ``a < b`` media_ids and exact
    block-Jaccard ``>= threshold``. Pure composition:
    :func:`media_block_fingerprint_docs` into the gated
    LSH candidate + verify pipeline at ``shingle=1`` — banded
    MinHash buckets (never all-pairs), the ``max_bucket`` cap with
    the shared over-cap stats light, exact verify joined only on
    candidate pairs."""
    from .dedup import jaccard_pairs, lsh_candidate_pairs

    docs = media_block_fingerprint_docs(media, block_bytes=block_bytes)
    cands = lsh_candidate_pairs(
        docs, bands=bands, rows_per_band=rows_per_band, shingle=1,
        max_bucket=max_bucket, stats=stats)
    return jaccard_pairs(docs, cands, shingle=1, threshold=threshold)


def media_cdc_fingerprint_docs(
    media: DataFrame, cut_nibble: str = "7"
) -> DataFrame:
    """Content-defined-chunking fingerprint "documents" over binary
    payloads — the INSERTION-ROBUST complement to
    :func:`media_block_fingerprint_docs` (whose fixed offset-aligned
    blocks collapse under a mid-payload byte insertion: every later
    block shifts).

    Cut rule: a chunk boundary AFTER every byte whose low nibble is
    ``cut_nibble`` (expected chunk ≈ 16 bytes on uniform data) —
    boundaries depend only on local byte VALUES, never on offsets, so
    an insertion re-chunks ONLY the chunk it lands in and every other
    chunk token survives verbatim. This is gear/rolling-hash CDC
    reduced to its 1-byte-window special case: the weakest cut rule
    that is still content-defined, chosen because it compiles to TWO
    ``regexp_replace`` calls in whole-stage codegen (no higher-order
    lambda, no per-byte Python):

    1. ``hex(payload)`` -> comma-separated byte tokens
       (``(..)`` -> ``$1,``);
    2. the comma after a low-nibble match becomes a space
       (``{N}," -> "{N} ``) — spaces now separate chunks, commas
       separate bytes within a chunk.

    The whitespace TOKEN set of the result (chunks as
    comma-joined byte strings) feeds the gated LSH machinery at
    ``shingle=1``, same as the block bridge. A production system
    wanting larger windows (gear hash over 8-byte windows, min/max
    chunk bounds) swaps this function only; the pipeline shape —
    chunk tokens into banded MinHash — is identical.
    """
    if len(cut_nibble) != 1 or cut_nibble not in "0123456789ABCDEF":
        raise ValueError(
            f"cut_nibble must be one uppercase hex char, got "
            f"{cut_nibble!r}")
    byte_csv = F.regexp_replace(
        F.hex(F.col("payload")), F.lit("(..)"), F.lit("$1,"))
    chunked = F.regexp_replace(
        byte_csv, F.lit(f"{cut_nibble},"), F.lit(f"{cut_nibble} "))
    return media.select(
        F.col("media_id").alias("doc_id"),
        chunked.alias("text"),
    )


def media_cdc_near_dup_pairs(
    media: DataFrame,
    cut_nibble: str = "7",
    bands: int = 2,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = 64,
    stats: dict | None = None,
) -> DataFrame:
    """Insertion-robust near-dup pairs over binary media payloads:
    ``(a, b, jaccard)`` with exact chunk-Jaccard ``>= threshold``.
    :func:`media_cdc_fingerprint_docs` into the gated LSH candidate +
    verify pipeline at ``shingle=1`` — the composition mirror of
    :func:`media_near_dup_pairs` with content-defined chunks instead
    of offset-aligned blocks."""
    from .dedup import jaccard_pairs, lsh_candidate_pairs

    docs = media_cdc_fingerprint_docs(media, cut_nibble=cut_nibble)
    cands = lsh_candidate_pairs(
        docs, bands=bands, rows_per_band=rows_per_band, shingle=1,
        max_bucket=max_bucket, stats=stats)
    return jaccard_pairs(docs, cands, shingle=1, threshold=threshold)


def media_block_index(
    media: DataFrame,
    block_bytes: int = 64,
    bands: int = 2,
    rows_per_band: int = 2,
) -> DataFrame:
    """Durable byte-block LSH index over a media CORPUS — the
    multimodal analogue of :func:`~.dedup.lsh_build_index` (write it
    ``partitionBy("band")`` once; probe every future ingest batch
    with :func:`media_incremental_pairs`). ``block_bytes`` is index
    geometry not recoverable from the schema — callers own passing
    the build-time value at probe time, the same contract as
    ``shingle`` on the text index."""
    from .dedup import lsh_build_index

    return lsh_build_index(
        media_block_fingerprint_docs(media, block_bytes=block_bytes),
        bands=bands, rows_per_band=rows_per_band, shingle=1)


def media_incremental_pairs(
    media_new: DataFrame,
    media_old: DataFrame,
    index: DataFrame,
    block_bytes: int = 64,
    threshold: float = 0.5,
    max_bucket: int | None = 64,
    stats: dict | None = None,
    new_index: DataFrame | None = None,
) -> DataFrame:
    """Byte-block near-dup pairs of NEW media against an EXISTING
    corpus — ``(a, b, jaccard)`` with ``a`` an old media_id, ``b``
    new. Completes the incremental-dedup story across all three
    modalities (text :func:`~.dedup.lsh_incremental_pairs`, embedding
    :func:`~.dedup.hyperplane_incremental_pairs`, and now binary
    media): pure composition of the block bridge with the text
    incremental probe at ``shingle=1``, so the entire certified
    physical shape — index scanned never shuffled, broadcast matched
    keys, old-side-only cap, ``new_max_bucket`` skew light, pruned
    verify — applies verbatim. ``index`` is the corpus's written-back
    :func:`media_block_index` table (geometry read from the table,
    the shared contract); old/new media_id spaces must be disjoint.
    ``new_index`` passes the NEW batch's own precomputed
    :func:`media_block_index` table through to the probe (same
    geometry contract; persist/checkpoint it first) — the job-overlap
    device of :func:`~.dedup.lsh_incremental_pairs`."""
    from .dedup import lsh_incremental_pairs

    return lsh_incremental_pairs(
        media_block_fingerprint_docs(media_new, block_bytes=block_bytes),
        media_block_fingerprint_docs(media_old, block_bytes=block_bytes),
        index, shingle=1, threshold=threshold, max_bucket=max_bucket,
        stats=stats, new_index=new_index)


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling plan: one row per sampled frame offset.
    The offsets are real column logic (sequence over duration); the
    frame DECODE is the stubbed step downstream."""
    return media.filter(F.col("mime").startswith("video/")).select(
        "media_id",
        "mime",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.coalesce(F.col("duration_ms"), F.lit(0)) - 1, F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_offset_ms"),
    )


def resize_plan(media: DataFrame, max_side: int = 512) -> DataFrame:
    """Image resize planning as pure column math (aspect-preserving
    target dims); the pixel work is the stubbed decode step."""
    scale = F.least(
        F.lit(1.0),
        F.lit(max_side)
        / F.greatest(F.col("width"), F.col("height")).cast("double"),
    )
    return media.filter(F.col("mime").startswith("image/")).select(
        "media_id",
        "width",
        "height",
        F.round(F.col("width") * scale).cast("int").alias("target_width"),
        F.round(F.col("height") * scale).cast("int").alias("target_height"),
    )

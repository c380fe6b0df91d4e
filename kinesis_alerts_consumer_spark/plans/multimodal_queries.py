"""Multimodal-column queries through the driver's correctness gate.

The media table is synthesized from ``documents`` (payload = UTF-8
bytes of the text), so the Arrow-batched ``mapInPandas`` feature
extraction — the REAL scale plumbing for opaque binary columns — runs
end-to-end and is still oracle-checkable: the stub decode derives
features from the payload's md5 (operators/multimodal.py), which
DuckDB reproduces with its own ``md5`` over the same bytes.

mm01 exercises the mapInPandas path itself (schema, batch shape,
payload projection); mm02/mm03 exercise the pure-column planning ops
(frame sampling offsets, aspect-preserving resize targets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import multimodal as M
from ..session import configure
from ..sources import register_tables


def _tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    configure(spark)
    return register_tables(spark, sf_dir)


def _media(docs: DataFrame) -> DataFrame:
    """documents -> media rows: text bytes as the opaque payload plus
    deterministic typed metadata."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("video/mp4"))
        .when(F.col("doc_id") % 3 == 1, F.lit("image/png"))
        .otherwise(F.lit("audio/wav"))
        .alias("mime"),
        F.col("text").cast("binary").alias("payload"),
        (F.lit(640) + (F.col("doc_id") % 5) * 160).cast("int").alias("width"),
        F.lit(480).cast("int").alias("height"),
        (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    feats = M.extract_features(_media(t["documents"]))
    return feats.select(
        "media_id",
        "mime",
        "n_bytes",
        "checksum",
        F.round("feat_mean", 6).alias("feat_mean"),
        F.round("feat_std", 6).alias("feat_std"),
        "decoded_width",
        "decoded_height",
        "codec",
    ).orderBy("media_id")


# decoded_width/height/codec are NULL for every oracle row by
# construction: payloads are UTF-8 text, and the PNG (0x89) / JPEG
# (0xFF) magics cannot begin valid UTF-8 — see
# operators/multimodal.decode_image_dims. Real images decode for real
# (tests/test_multimodal.py pins a real PNG and JPEG).
SQL_MEDIA_FEATURES = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'video/mp4'
            WHEN doc_id % 3 = 1 THEN 'image/png'
            ELSE 'audio/wav' END AS mime,
       octet_length(CAST(text AS BLOB)) AS n_bytes,
       md5(text) AS checksum,
       ROUND(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)
             / 4294967296.0, 6) AS feat_mean,
       ROUND(CAST(('0x' || substr(md5(text), 9, 8)) AS BIGINT)
             / 4294967296.0, 6) AS feat_std,
       CAST(NULL AS INT) AS decoded_width,
       CAST(NULL AS INT) AS decoded_height,
       CAST(NULL AS VARCHAR) AS codec
FROM documents ORDER BY media_id
"""


def q_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    frames = M.frame_sample(_media(t["documents"]), every_ms=1000)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count("*").alias("n_frames"),
            F.max("frame_offset_ms").alias("last_offset_ms"),
        )
        .orderBy("media_id")
    )


SQL_FRAME_PLAN = """
SELECT doc_id AS media_id,
       (n_chars * 10 - 1) // 1000 + 1 AS n_frames,
       ((n_chars * 10 - 1) // 1000) * 1000 AS last_offset_ms
FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id
"""


def q_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    return M.resize_plan(_media(t["documents"]), max_side=512).orderBy("media_id")


SQL_RESIZE_PLAN = """
SELECT doc_id AS media_id,
       640 + (doc_id % 5) * 160 AS width,
       480 AS height,
       512 AS target_width,
       CAST(round(480.0 * (512.0 / (640 + (doc_id % 5) * 160))) AS INT)
         AS target_height
FROM documents WHERE doc_id % 3 = 1 ORDER BY media_id
"""


def _as_media(docs: DataFrame) -> DataFrame:
    """documents -> bare (media_id, payload) rows for the dedup
    family — the two-column flavor of :func:`_media` (no metadata
    columns, so the dedup plans scan only what they use). One
    definition site: mm04/mm05/mm06 all project through here, so a
    change to the media fixture shape has one edit, not three."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
    )


def q_media_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mm04 (r14): byte-block fingerprint near-dup over binary media
    payloads — the multimodal family's first-class dedup operator
    (VERDICT r13 item 4). The media fixture reuses llm03's mutation
    device (tail-truncated copies of doc_id<20) as PAYLOAD mutants:
    fixed offset-aligned blocks are prefix-stable, so a truncated
    tail shares every complete leading block and block-Jaccard stays
    high — exactly the appended/truncated-metadata dup class the
    operator exists to catch. Banding mirrors the gated llm03
    fixture; `suggest_lsh_sizing` applies unchanged at corpus scale
    (the operator delegates to lsh_candidate_pairs)."""
    from .llm_queries import _mutated_docs

    t = _tables(spark, sf_dir)
    base = _mutated_docs(t["documents"])
    media = _as_media(base)
    return M.media_near_dup_pairs(
        media, block_bytes=24, bands=2, rows_per_band=2,
        threshold=0.5, max_bucket=64,
    ).orderBy("a", "b")


def _sql_media_near_dup() -> str:
    """DuckDB twin: hex(encode(text)) reproduces Spark's
    hex(cast(text as binary)) byte-for-byte (both uppercase UTF-8),
    48-hex-char slices reproduce the 24-byte blocks (trailing partial
    kept), and from there the pipeline is llm03's oracle verbatim
    with tokens = blocks (shingle=1)."""
    from .llm_queries import _MUTATED_DOCS_DUCK, _duck_minhash

    return f"""
WITH base AS ({_MUTATED_DOCS_DUCK}),
hx AS (SELECT doc_id, hex(encode(text)) AS h FROM base),
blk AS (SELECT doc_id, substr(h, (i-1)*48+1, 48) AS s
        FROM hx, UNNEST(generate_series(1, (len(h)+47)//48)) AS u(i)),
sig AS (SELECT doc_id, {_duck_minhash(4)} FROM blk GROUP BY doc_id),
bb AS (SELECT doc_id, 0 AS band, mh0 AS r0, mh1 AS r1 FROM sig
       UNION ALL
       SELECT doc_id, 1 AS band, mh2 AS r0, mh3 AS r1 FROM sig),
keep AS (SELECT band, r0, r1 FROM bb GROUP BY band, r0, r1
         HAVING COUNT(*) <= 64),
bf AS (SELECT bb.doc_id, bb.band, bb.r0, bb.r1
       FROM bb JOIN keep USING (band, r0, r1)),
cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         FROM bf l JOIN bf r ON l.band = r.band AND l.r0 = r.r0
          AND l.r1 = r.r1 AND l.doc_id < r.doc_id),
tok AS (SELECT DISTINCT doc_id, s FROM blk),
j AS (SELECT c.a, c.b,
        (SELECT COUNT(*) FROM tok x JOIN tok y ON x.s = y.s
          WHERE x.doc_id = c.a AND y.doc_id = c.b) AS inter,
        (SELECT COUNT(DISTINCT s) FROM tok WHERE doc_id IN (c.a, c.b)) AS uni
      FROM cand c)
SELECT a, b, ROUND(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
FROM j WHERE ROUND(CAST(inter AS DOUBLE) / uni, 6) >= 0.5 ORDER BY a, b
"""


def q_media_cdc_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mm05 (r14): INSERTION-robust media near-dup via content-defined
    chunking. The mutants here are mid-payload INSERTIONS (a token
    spliced in after the 5th word) — the dup class mm04's
    offset-aligned blocks provably miss (every block after the
    insertion shifts; block-Jaccard collapses toward the
    prefix-only share) and CDC survives (only the chunk containing
    the splice changes). The pytest twin pins the contrast
    explicitly."""
    t = _tables(spark, sf_dir)
    docs = t["documents"]
    ws = F.split(F.col("text"), " ")
    inserted = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(
            F.size(ws) > 5,
            F.concat_ws(
                " ",
                F.concat_ws(" ", F.slice(ws, 1, 5)),
                F.lit("zzspliced"),
                F.concat_ws(" ", F.slice(ws, 6, F.size(ws) - 5)),
            ),
        ).otherwise(F.concat(F.col("text"), F.lit(" zzspliced")))
        .alias("text"),
    )
    base = docs.select("doc_id", "text").unionAll(inserted)
    media = _as_media(base)
    return M.media_cdc_near_dup_pairs(
        media, cut_nibble="7", bands=2, rows_per_band=2,
        threshold=0.5, max_bucket=64,
    ).orderBy("a", "b")


_INSERTED_DOCS_DUCK = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         CASE WHEN len(ws) > 5
              THEN array_to_string(ws[1:5], ' ') || ' zzspliced ' ||
                   array_to_string(ws[6:len(ws)], ' ')
              ELSE text || ' zzspliced' END AS text
  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
        FROM documents WHERE doc_id < 20)
"""


def _sql_media_cdc_near_dup() -> str:
    """DuckDB twin of the CDC bridge: the same two regexp_replace
    calls ((..) -> \\1, byte CSV, then '7,' -> '7 ' chunk cuts) over
    hex(encode(text)), then the llm03 oracle chain with tokens =
    chunks."""
    from .llm_queries import _duck_minhash

    return f"""
WITH base AS ({_INSERTED_DOCS_DUCK}),
ch AS (SELECT doc_id,
              regexp_replace(
                regexp_replace(hex(encode(text)), '(..)', '\\1,', 'g'),
                '7,', '7 ', 'g') AS chunked
       FROM base),
blk AS (SELECT doc_id, UNNEST(string_split_regex(trim(chunked), '\\s+')) AS s
        FROM ch),
sig AS (SELECT doc_id, {_duck_minhash(4)} FROM blk GROUP BY doc_id),
bb AS (SELECT doc_id, 0 AS band, mh0 AS r0, mh1 AS r1 FROM sig
       UNION ALL
       SELECT doc_id, 1 AS band, mh2 AS r0, mh3 AS r1 FROM sig),
keep AS (SELECT band, r0, r1 FROM bb GROUP BY band, r0, r1
         HAVING COUNT(*) <= 64),
bf AS (SELECT bb.doc_id, bb.band, bb.r0, bb.r1
       FROM bb JOIN keep USING (band, r0, r1)),
cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         FROM bf l JOIN bf r ON l.band = r.band AND l.r0 = r.r0
          AND l.r1 = r.r1 AND l.doc_id < r.doc_id),
tok AS (SELECT DISTINCT doc_id, s FROM blk),
j AS (SELECT c.a, c.b,
        (SELECT COUNT(*) FROM tok x JOIN tok y ON x.s = y.s
          WHERE x.doc_id = c.a AND y.doc_id = c.b) AS inter,
        (SELECT COUNT(DISTINCT s) FROM tok WHERE doc_id IN (c.a, c.b)) AS uni
      FROM cand c)
SELECT a, b, ROUND(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
FROM j WHERE ROUND(CAST(inter AS DOUBLE) / uni, 6) >= 0.5 ORDER BY a, b
"""


# mm06 scratch registry (the llm40 device)
from . import _scratch  # noqa: E402

_MM06_DIRS = _scratch.registry()


def q_media_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mm06 (r14): incremental media dedup against a prebuilt
    byte-block index — completes the incremental story across all
    three modalities (text llm40, embedding llm41, binary media
    mm06). The corpus's media_block_index is built once, written
    partitionBy(band), read back (the llm40 lineage lesson); the new
    batch (tail-truncated payload mutants at +1,000,000, disjoint
    ids) probes it through media_incremental_pairs — the certified
    lsh_incremental_pairs physical shape verbatim at shingle=1.

    r15 (guide §2.6): corpus-index write and the new batch's own
    block-signature pass overlap on driver threads (the llm40
    device); ``new_index=`` feeds the probe the checkpointed batch
    table it would otherwise build in-line — byte-identical
    (media_block_index IS the probe's internal new-side build)."""
    from ..operators.dedup import checkpoint_index
    from ..operators.util import run_overlapped
    from .llm_queries import _mutated_docs

    t = _tables(spark, sf_dir)
    docs = t["documents"]
    old = _as_media(docs)
    new = _as_media(
        _mutated_docs(docs).filter(F.col("doc_id") >= 1000000))
    root = _scratch.new_scratch(_MM06_DIRS, "mm06_index_")
    _, batch_idx = run_overlapped(
        lambda: M.media_block_index(old, block_bytes=24, bands=2,
                                    rows_per_band=2)
        .write.partitionBy("band").parquet(root + "/index"),
        lambda: checkpoint_index(
            M.media_block_index(new, block_bytes=24, bands=2,
                                rows_per_band=2)),
    )
    idx = spark.read.parquet(root + "/index")
    return M.media_incremental_pairs(
        new, old, block_bytes=24, threshold=0.5, max_bucket=64,
        index=idx, new_index=batch_idx,
    ).orderBy("a", "b")


def _sql_media_incremental_dedup() -> str:
    """The incremental oracle core (llm40/st09's chain) with block
    tokenization: 48-hex-char slices of hex(encode(text)) on both
    sides, new batch = the llm40 mutants."""
    from .llm_queries import incremental_pairs_sql

    def block_tokens(src: str) -> str:
        return f"""SELECT doc_id, substr(h, (i-1)*48+1, 48) AS s
         FROM (SELECT doc_id, hex(encode(text)) AS h FROM {src}),
              UNNEST(generate_series(1, (len(h)+47)//48)) AS u(i)"""

    return incremental_pairs_sql(
        """
  SELECT doc_id + 1000000 AS doc_id,
         CASE WHEN len(ws) > 2
              THEN array_to_string(ws[1:len(ws)-2], ' ')
              ELSE text END AS text
  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
        FROM documents WHERE doc_id < 20)""",
        tokens_of=block_tokens,
    )


MULTIMODAL_QUERIES: dict[str, tuple] = {
    "mm01_media_features": (q_media_features, SQL_MEDIA_FEATURES),
    "mm02_frame_plan": (q_frame_plan, SQL_FRAME_PLAN),
    "mm03_resize_plan": (q_resize_plan, SQL_RESIZE_PLAN),
    # mm04-mm06 debut in r14 (outside the r14 window per the rotation
    # protocol; pytest oracle twins + three-SF matches recorded in
    # the debut commits; first driver rows r15+)
    "mm04_media_near_dup": (q_media_near_dup, _sql_media_near_dup()),
    "mm05_media_cdc_near_dup": (
        q_media_cdc_near_dup, _sql_media_cdc_near_dup()),
    "mm06_media_incremental_dedup": (
        q_media_incremental_dedup, _sql_media_incremental_dedup()),
}

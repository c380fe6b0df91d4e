"""LLM-data-pipeline queries: dedup / similarity / text analysis as
oracle-checked entries (documents + embeddings fixture tables).

Each entry pairs a Spark DataFrame builder with a DuckDB-dialect
oracle that reproduces the SAME deterministic computation (all hashes
md5-based, all float math double-precision sequential, ranking on
ROUNDed values with total tie-breaks) — so the driver's value-hash
comparison is exact, not tolerance-based.

Near-dup entries operate on a constructed corpus: documents UNION a
mutated copy (doc_id+1000000, last two words dropped) of docs 0-19 —
the fixture corpus has no organic near-dups (random word soup), and a
dedup path that only ever returns empty proves nothing. The mutation
is pure SQL/column logic, identical in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _scratch
from ..operators import dedup as D
from ..operators import similarity as S
from ..operators import text as T
from ..session import configure
from ..sources import register_tables

# llm40's parquet-scratch index dirs (rotation + exit-time cleanup in
# plans._scratch — one registry mechanism for all plans modules)
_LLM40_DIRS = _scratch.registry()
_LLM41_DIRS = _scratch.registry()

# ---------------------------------------------------------------- helpers

_TOK = r"'\s+'"
_HASH60_DUCK = "CAST(('0x'||substr(md5({x}),1,15)) AS BIGINT)"


def _tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    configure(spark)
    return register_tables(spark, sf_dir)


def _mutated_docs(docs: DataFrame) -> DataFrame:
    """documents ∪ near-dup copies of doc_id<20 (drop last 2 words)."""
    ws = F.split(F.col("text"), " ")
    mutated = (
        docs.filter(F.col("doc_id") < 20)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.when(
                F.size(ws) > 2,
                F.concat_ws(" ", F.slice(ws, 1, F.size(ws) - 2)),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    return docs.select("doc_id", "text").unionAll(mutated)


_MUTATED_DOCS_DUCK = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         CASE WHEN len(ws) > 2
              THEN array_to_string(ws[1:len(ws)-2], ' ')
              ELSE text END AS text
  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
        FROM documents WHERE doc_id < 20)
"""


# ------------------------------------------------------------- queries


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    return D.exact_dedup(t["documents"]).orderBy("fp")


SQL_DEDUP_EXACT = """
SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS copies
FROM documents GROUP BY md5(text) ORDER BY fp
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    return D.minhash_signatures(t["documents"], num_hashes=4, shingle=3).orderBy(
        "doc_id"
    )


def _duck_minhash(k: int) -> str:
    hashes = ",\n       ".join(
        "min(CAST(('0x'||substr(md5('{j}:'||s),1,15)) AS BIGINT)) AS mh{j}".format(j=j)
        for j in range(k)
    )
    return hashes


SQL_MINHASH = f"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
sh AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
       FROM w, UNNEST(generate_series(1, len(ws)-2)) AS u(i)
       WHERE len(ws) >= 3)
SELECT doc_id, {_duck_minhash(4)}
FROM sh GROUP BY doc_id ORDER BY doc_id
"""


def q_near_dup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    base = _mutated_docs(t["documents"])
    cands = D.lsh_candidate_pairs(
        base, bands=2, rows_per_band=2, shingle=3, max_bucket=64
    )
    return D.jaccard_pairs(base, cands, shingle=3, threshold=0.5).orderBy("a", "b")


SQL_NEAR_DUP = f"""
WITH base AS ({_MUTATED_DOCS_DUCK}),
w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM base),
sh AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
       FROM w, UNNEST(generate_series(1, len(ws)-2)) AS u(i)
       WHERE len(ws) >= 3),
sig AS (SELECT doc_id, {_duck_minhash(4)} FROM sh GROUP BY doc_id),
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
tok AS (SELECT DISTINCT doc_id, s FROM sh),
j AS (SELECT c.a, c.b,
        (SELECT COUNT(*) FROM tok x JOIN tok y ON x.s = y.s
          WHERE x.doc_id = c.a AND y.doc_id = c.b) AS inter,
        (SELECT COUNT(DISTINCT s) FROM tok WHERE doc_id IN (c.a, c.b)) AS uni
      FROM cand c)
SELECT a, b, ROUND(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
FROM j WHERE ROUND(CAST(inter AS DOUBLE) / uni, 6) >= 0.5 ORDER BY a, b
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    return D.simhash16(t["documents"]).orderBy("doc_id")


def _duck_simhash() -> tuple[str, str]:
    sums = ",\n       ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(16)
    )
    bits = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
    )
    return sums, bits


_SIMHASH_SUMS, _SIMHASH_BITS = _duck_simhash()

SQL_SIMHASH = f"""
WITH tok AS (SELECT DISTINCT doc_id,
                    unnest(string_split_regex(trim(text), '\\s+')) AS t
             FROM documents),
h AS (SELECT doc_id, CAST(('0x'||substr(md5(t),1,15)) AS BIGINT) AS h FROM tok),
s AS (SELECT doc_id, {_SIMHASH_SUMS} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash
FROM s ORDER BY doc_id
"""


_DUCK_COS = (
    "ROUND(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 6)"
)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    emb = t["embeddings"]
    dup = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    base = emb.select("vec_id", "embedding").unionAll(dup)
    return D.embedding_near_dup_pairs(
        base, sign_bits=None, threshold=0.6, max_bucket=1024
    ).orderBy("a", "b")


# 16-bit sign signature; the adaptive prefix length k (constant
# expected bucket occupancy, integer-exact formula mirrored from
# dedup.adaptive_sign_bits) is a scalar subquery: substr(sig, 1, k).
_SIGN_BUCKET_DUCK = "".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END)||"
    for i in range(16)
)[:-2]

SQL_EMBEDDING_NEAR_DUP = f"""
WITH base AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 10
),
kk AS (SELECT LEAST(GREATEST(
         length(bin(CAST(ceil(COUNT(*) / 32.0) AS BIGINT) - 1)), 1), 16)
         AS k FROM base),
b AS (SELECT vec_id, embedding,
             substr({_SIGN_BUCKET_DUCK}, 1, (SELECT k FROM kk)) AS bucket
      FROM base),
keep AS (SELECT bucket FROM b GROUP BY bucket HAVING COUNT(*) <= 1024),
bf AS (SELECT b.vec_id, b.embedding, b.bucket FROM b JOIN keep USING (bucket)),
p AS (SELECT l.vec_id AS a, r.vec_id AS b,
             {_DUCK_COS.format(a='l.embedding', b='r.embedding')} AS cos
      FROM bf l JOIN bf r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
SELECT a, b, cos FROM p WHERE cos >= 0.6 ORDER BY a, b
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    return S.cosine_topk(t["embeddings"], k=5, num_queries=10).orderBy(
        "query_id", "rnk"
    )


SQL_ANN_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id < 10),
s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             {_DUCK_COS.format(a='q.qe', b='e.embedding')} AS cos
      FROM q, embeddings e WHERE e.vec_id <> q.query_id),
r AS (SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rnk
      FROM s)
SELECT query_id, neighbor_id, rnk, cos FROM r WHERE rnk <= 5
ORDER BY query_id, rnk
"""


def q_ann_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # probe_radius=2: the multi-probe recall lever — radius 1 measured
    # recall@5 0.66 vs exact at sf0.1; radius 2 measures 0.86-0.90
    # (gated >=0.8 in tests/test_llm_queries.py).
    return S.cosine_topk_lsh(
        _tables(spark, sf_dir)["embeddings"],
        k=5, num_queries=10, sign_bits=4, probe_radius=2,
    ).orderBy("query_id", "rnk")


_SIGN4_DUCK = "".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END)||" for i in range(4)
)[:-2]


def _duck_flip(*pos: int) -> str:
    """Flip the given 1-based positions of the 4-char bucket ``qb``."""
    parts, prev = [], 0
    for p in pos:
        if p - 1 > prev:
            parts.append(f"substr(qb,{prev + 1},{p - 1 - prev})")
        parts.append(f"(CASE WHEN substr(qb,{p},1)='1' THEN '0' ELSE '1' END)")
        prev = p
    parts.append(f"substr(qb,{prev + 1})")
    return " || ".join(parts)


_FLIPS_DUCK = "\n  UNION ALL ".join(
    f"SELECT query_id, qe, {_duck_flip(*pos)} AS probe FROM q0"
    for pos in (
        [(i,) for i in range(1, 5)]
        + [(i, j) for i in range(1, 5) for j in range(i + 1, 5)]
    )
)

SQL_ANN_TOPK_LSH = f"""
WITH b AS (SELECT vec_id, embedding, {_SIGN4_DUCK} AS bucket FROM embeddings),
q0 AS (SELECT vec_id AS query_id, embedding AS qe, bucket AS qb FROM b
       WHERE vec_id < 10),
probes AS (
  SELECT query_id, qe, qb AS probe FROM q0
  UNION ALL {_FLIPS_DUCK}
),
s AS (SELECT p.query_id, e.vec_id AS neighbor_id,
             {_DUCK_COS.format(a='p.qe', b='e.embedding')} AS cos
      FROM probes p JOIN b e ON e.bucket = p.probe
       AND e.vec_id <> p.query_id),
r AS (SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rnk
      FROM s)
SELECT query_id, neighbor_id, rnk, cos FROM r WHERE rnk <= 5
ORDER BY query_id, rnk
"""


def q_ann_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _tables(spark, sf_dir)["embeddings"]
    return S.cosine_topk_ivf(
        emb, S.ivf_assign(emb, 8), k=5, num_queries=10, nprobe=2
    ).orderBy("query_id", "rnk")


SQL_ANN_TOPK_IVF = f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings
  WHERE vec_id < 8),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_DUCK_COS.format(a='e.embedding', b='c.ce')} DESC,
                      c.centroid_id) AS rn
    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
probes AS (
  SELECT query_id, q, centroid_id FROM (
    SELECT e.vec_id AS query_id, e.embedding AS q, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_DUCK_COS.format(a='e.embedding', b='c.ce')} DESC,
                      c.centroid_id) AS rn
    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10) WHERE rn <= 2),
s AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         {_DUCK_COS.format(a='p.q', b='e.embedding')} AS cos
  FROM probes p
  JOIN assign a ON a.centroid_id = p.centroid_id
  JOIN embeddings e ON e.vec_id = a.vec_id
  WHERE e.vec_id <> p.query_id),
r AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rnk
  FROM s)
SELECT query_id, neighbor_id, rnk, cos FROM r WHERE rnk <= 5
ORDER BY query_id, rnk
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    return T.token_stats(t["documents"]).orderBy("doc_id")


SQL_TOKEN_STATS = """
WITH w AS (SELECT doc_id, text,
                  string_split_regex(trim(text), '\\s+') AS ws
           FROM documents)
SELECT doc_id,
       len(ws) AS n_tokens,
       len(list_distinct(ws)) AS n_distinct,
       len(text) AS n_chars,
       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^\\sA-Za-z0-9]'))
         AS n_subtokens,
       ROUND(len(regexp_replace(text, '\\s+', '', 'g')) / len(ws), 6)
         AS mean_token_len
FROM w ORDER BY doc_id
"""


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    return T.quality_scores(t["documents"]).orderBy("doc_id")


SQL_QUALITY = """
WITH w AS (SELECT doc_id, text,
                  string_split_regex(trim(text), '\\s+') AS ws
           FROM documents),
m AS (SELECT doc_id, text, ws,
             len(list_filter(ws, x -> list_contains(
                 ['the','a','of','and','to'], x))) AS n_stop,
             len(text) - len(regexp_replace(text,
                 '[\\.,;:!\\?''"()\\[\\]{}-]', '', 'g')) AS n_punct
      FROM w),
r AS (SELECT doc_id,
             CAST(n_stop AS DOUBLE) / len(ws) AS stop_ratio,
             CAST(n_punct AS DOUBLE) / len(text) AS punct_ratio,
             1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS repetition
      FROM m)
SELECT doc_id,
       ROUND(stop_ratio, 6) AS stop_ratio,
       ROUND(punct_ratio, 6) AS punct_ratio,
       ROUND(repetition, 6) AS repetition,
       ROUND(1.0 - LEAST(repetition, 1.0) * 0.5
                 - LEAST(punct_ratio * 10, 1.0) * 0.2
                 + LEAST(stop_ratio * 2, 0.3), 6) AS quality
FROM r ORDER BY doc_id
"""


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    return T.language_id(t["documents"]).orderBy("doc_id")


def _duck_langid() -> str:
    from ..operators.text import LANG_STOPWORDS

    unions = "\n    UNION ALL\n".join(
        "    SELECT doc_id, '{lang}' AS lang, len(list_filter(ws, x -> "
        "list_contains([{words}], x))) AS hits FROM w".format(
            lang=lang,
            words=",".join(f"'{w}'" for w in LANG_STOPWORDS[lang]),
        )
        for lang in sorted(LANG_STOPWORDS)
    )
    return f"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
           FROM documents),
s AS (
{unions}
),
r AS (SELECT doc_id, lang, hits,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY hits DESC, lang) AS rn
      FROM s)
SELECT doc_id,
       CASE WHEN hits > 0 THEN lang ELSE 'und' END AS pred_lang,
       CAST(hits AS BIGINT) AS hits
FROM r WHERE rn = 1 ORDER BY doc_id
"""


SQL_LANG_ID = _duck_langid()


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    return T.fingerprints(t["documents"]).orderBy("doc_id")


SQL_FINGERPRINTS = """
WITH w AS (SELECT doc_id, text,
                  string_split_regex(trim(text), '\\s+') AS ws
           FROM documents)
SELECT doc_id,
       md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
       md5(lower(array_to_string(ws[1:8], ' '))) AS prefix_fp
FROM w ORDER BY doc_id
"""


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    return T.corpus_profile(t["documents"]).orderBy("lang", "source")


SQL_CORPUS_PROFILE = """
WITH w AS (SELECT lang, source,
                  len(string_split_regex(trim(text), '\\s+')) AS n,
                  len(text) AS c
           FROM documents)
SELECT lang, source, COUNT(*) AS docs, CAST(SUM(n) AS BIGINT) AS tokens,
       ROUND(AVG(n), 6) AS avg_tokens, ROUND(AVG(c), 6) AS avg_chars
FROM w GROUP BY lang, source ORDER BY lang, source
"""


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    base = _mutated_docs(t["documents"])
    return D.winnow_near_dup_pairs(
        base, k=8, w=4, max_df=10, threshold=0.5
    ).orderBy("a", "b")


SQL_WINNOWING = f"""
WITH base AS ({_MUTATED_DOCS_DUCK}),
norm AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nt
         FROM base),
grams AS (SELECT doc_id, i,
                 CAST(('0x'||substr(md5(substr(nt, i, 8)),1,15)) AS BIGINT) AS h
          FROM norm, UNNEST(generate_series(1, len(nt) - 7)) AS u(i)
          WHERE len(nt) >= 8),
wins AS (SELECT doc_id, i,
                MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                COUNT(*) OVER (PARTITION BY doc_id) AS ng
         FROM grams),
fps0 AS (SELECT DISTINCT doc_id, fp FROM wins WHERE i <= ng - 3),
rare AS (SELECT fp FROM fps0 GROUP BY fp HAVING COUNT(*) <= 10),
fps AS (SELECT f.doc_id, f.fp FROM fps0 f JOIN rare USING (fp)),
nfp AS (SELECT doc_id, COUNT(*) AS n FROM fps GROUP BY doc_id),
pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS shared
          FROM fps x JOIN fps y ON x.fp = y.fp AND x.doc_id < y.doc_id
          GROUP BY 1, 2)
SELECT p.a, p.b, p.shared,
       ROUND(CAST(p.shared AS DOUBLE) / LEAST(na.n, nb.n), 6) AS overlap
FROM pairs p
JOIN nfp na ON na.doc_id = p.a
JOIN nfp nb ON nb.doc_id = p.b
WHERE ROUND(CAST(p.shared AS DOUBLE) / LEAST(na.n, nb.n), 6) >= 0.5
ORDER BY a, b
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> dedup groups via iterative connected
    components (the Spark side loops label propagation to fixpoint;
    the oracle computes the same closure with a recursive CTE)."""
    t = _tables(spark, sf_dir)
    base = _mutated_docs(t["documents"])
    cands = D.lsh_candidate_pairs(
        base, bands=2, rows_per_band=2, shingle=3, max_bucket=64
    )
    edges = D.jaccard_pairs(base, cands, shingle=3, threshold=0.5)
    return D.dedup_clusters(edges).orderBy("cluster", "doc_id")


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE edges AS ({SQL_NEAR_DUP}),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach(id, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym) t
  UNION
  SELECT s.b, r.r FROM reach r JOIN sym s ON s.a = r.id
),
comp AS (SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id),
sizes AS (SELECT cluster, COUNT(*) AS size FROM comp GROUP BY cluster)
SELECT c.doc_id, c.cluster, s.size
FROM comp c JOIN sizes s USING (cluster)
ORDER BY cluster, doc_id
"""


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: 10% of 'en' docs, 50% of
    every other lang, keyed on md5(doc_id) — reproducible, retry-
    stable, shuffle-free pure filter (no RNG state)."""
    from ..operators import sampling as SA

    t = _tables(spark, sf_dir)
    docs = t["documents"]
    rates = SA.stratified_rates({"en": 10}, F.col("lang"), default=50)
    kept = SA.hash_sample(docs, F.col("doc_id"), rates)
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("sampled"),
            F.sum(F.when(F.col("source") == "web", 1).otherwise(0)).alias(
                "web_n"
            ),
        )
        .orderBy("lang")
    )


SQL_HASH_SAMPLE = f"""
SELECT lang, COUNT(*) AS sampled,
       CAST(SUM(CASE WHEN source = 'web' THEN 1 ELSE 0 END) AS BIGINT) AS web_n
FROM documents
WHERE {_HASH60_DUCK.format(x="CAST(doc_id AS VARCHAR)")} % 100 <
      CASE WHEN lang = 'en' THEN 10 ELSE 50 END
GROUP BY lang ORDER BY lang
"""


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: docs accumulate into ~2048-token bins
    per (lang, shard) — the shard subkey (hash60(doc_id) % 8) bounds
    each running-sum window's sort at corpus/(langs*shards), since
    lang alone has only a handful of values and would sort the whole
    corpus on a few partitions at scale. Output profiles each bin."""
    from ..operators import sampling as SA

    t = _tables(spark, sf_dir)
    ntok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    packed = SA.pack_sequences(t["documents"], ntok, budget=2048, shards=8)
    return (
        packed.groupBy("lang", "shard", "bin")
        .agg(F.count("*").alias("docs"), F.sum("ntok").alias("toks"))
        .orderBy("lang", "shard", "bin")
        .limit(200)
    )


SQL_SEQUENCE_PACKING = f"""
WITH t AS (SELECT doc_id, lang,
                  len(string_split_regex(trim(text), '\\s+')) AS ntok,
                  {_HASH60_DUCK.format(x="CAST(doc_id AS VARCHAR)")} % 8
                    AS shard
           FROM documents),
c AS (SELECT doc_id, lang, shard, ntok,
             SUM(ntok) OVER (PARTITION BY lang, shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prior
      FROM t)
SELECT lang, CAST(shard AS BIGINT) AS shard,
       CAST(floor(COALESCE(prior, 0) / 2048) AS BIGINT) AS bin,
       COUNT(*) AS docs, CAST(SUM(ntok) AS BIGINT) AS toks
FROM c GROUP BY 1, 2, 3 ORDER BY lang, shard, bin LIMIT 200
"""


def _pii_docs(docs: DataFrame) -> DataFrame:
    """documents with deterministic PII injected into doc_id < 50 —
    the fixture corpus is word soup with no organic PII, and a
    redactor that only ever reports zero proves nothing. Pure column
    logic, mirrored in the oracle."""
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-123-4567 at 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
    )
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") < 50, injected)
        .otherwise(F.col("text"))
        .alias("text"),
    )


_PII_DOCS_DUCK = """
  SELECT doc_id,
         CASE WHEN doc_id < 50
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or 555-123-4567 at 10.0.0.'
                   || CAST(doc_id % 256 AS VARCHAR)
              ELSE text END AS text
  FROM documents
"""


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    return T.pii_redact(_pii_docs(t["documents"])).orderBy("doc_id")


SQL_PII_REDACTION = f"""
WITH base AS ({_PII_DOCS_DUCK}),
r AS (SELECT doc_id, text,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
               '<email>', 'g') AS t1
      FROM base),
r2 AS (SELECT doc_id, text, t1,
              regexp_replace(t1, '\\b\\d{{3}}[-.]\\d{{3}}[-.]\\d{{4}}\\b',
                             '<phone>', 'g') AS t2
       FROM r)
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT)
         AS n_email,
       CAST(len(regexp_extract_all(t1,
         '\\b\\d{{3}}[-.]\\d{{3}}[-.]\\d{{4}}\\b')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(t2,
         '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b')) AS BIGINT)
         AS n_ipv4,
       md5(regexp_replace(t2, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b',
                          '<ipv4>', 'g')) AS red_fp
FROM r2 ORDER BY doc_id
"""


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    return T.chunk_documents(t["documents"], width=100, stride=90).orderBy(
        "doc_id", "chunk_id"
    )


SQL_DOC_CHUNKING = """
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
           FROM documents),
c AS (SELECT doc_id, i - 1 AS chunk_id, ws
      FROM w, UNNEST(generate_series(
                1, CAST(ceil(len(ws) / 90.0) AS INT))) AS u(i))
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(ws[chunk_id*90+1 : chunk_id*90+100]) AS BIGINT) AS n_words,
       md5(array_to_string(ws[chunk_id*90+1 : chunk_id*90+100], ' '))
         AS chunk_fp
FROM c ORDER BY doc_id, chunk_id
"""


def q_tfidf_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    return T.tfidf_vocab(t["documents"], top_n=100)


SQL_TFIDF_VOCAB = """
WITH w AS (SELECT doc_id,
                  list_distinct(string_split_regex(trim(lower(text)), '\\s+'))
                    AS ws
           FROM documents),
t AS (SELECT doc_id, UNNEST(ws) AS token FROM w),
d AS (SELECT token, COUNT(*) AS df FROM t GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT token, df, ROUND(ln(CAST(n_docs AS DOUBLE) / df), 6) AS idf
FROM d, n ORDER BY df DESC, token LIMIT 100
"""


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination sweep: docs_id % 97 == 0 plays the
    (small, broadcastable) eval set; every other doc is scored by the
    fraction of its distinct 3-gram shingles found in the eval set."""
    t = _tables(spark, sf_dir)
    docs = t["documents"]
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return D.contamination_scores(corpus, bench, shingle=3).orderBy("doc_id")


SQL_CONTAMINATION = """
WITH bsh AS (
  SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
  FROM (SELECT string_split_regex(trim(text), '\\s+') AS ws
        FROM documents WHERE doc_id % 97 = 0) b,
       UNNEST(generate_series(1, len(ws)-2)) AS u(i)
  WHERE len(ws) >= 3),
csh AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
        FROM documents WHERE doc_id % 97 <> 0) c,
       UNNEST(generate_series(1, len(ws)-2)) AS u(i)
  WHERE len(ws) >= 3)
SELECT csh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN bsh.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit,
       ROUND(SUM(CASE WHEN bsh.s IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS contamination
FROM csh LEFT JOIN bsh ON csh.s = bsh.s
GROUP BY csh.doc_id ORDER BY csh.doc_id
"""


def q_cross_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup between snapshots: even doc_ids play the
    previous crawl, odd doc_ids the new one; returns the new crawl's
    exact-dedup groups whose content the old snapshot never had."""
    t = _tables(spark, sf_dir)
    docs = t["documents"]
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return D.incremental_new_docs(new, old).orderBy("fp")


SQL_CROSS_SNAPSHOT = """
WITH old_fp AS (SELECT DISTINCT md5(text) AS fp FROM documents
                WHERE doc_id % 2 = 0),
new_fp AS (SELECT doc_id, md5(text) AS fp FROM documents
           WHERE doc_id % 2 = 1)
SELECT fp, MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS copies
FROM new_fp n
WHERE NOT EXISTS (SELECT 1 FROM old_fp o WHERE o.fp = n.fp)
GROUP BY fp ORDER BY fp
"""
# NOT EXISTS, not NOT IN: a single NULL fp in the old snapshot makes
# NOT IN return the empty set, while Spark's left_anti keeps every
# non-matching row — NOT EXISTS has left_anti's NULL semantics.


def q_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    return T.ngram_repetition(t["documents"], n=3).orderBy("doc_id")


SQL_NGRAM_REPETITION = """
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
           FROM documents),
g AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
      FROM w, UNNEST(generate_series(1, len(ws)-2)) AS u(i)
      WHERE len(ws) >= 3),
pg AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       ROUND(1 - COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS dup_frac,
       ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_share
FROM pg GROUP BY doc_id ORDER BY doc_id
"""


# llm24 parameters, shared verbatim by the Spark plan and the
# generated oracle SQL below. m=8 sub-spaces + a 200-deep shortlist
# measured recall@5 0.86-0.98 vs exact (m=4/25 was 0.36-0.48); the
# recall gate in tests/test_llm_queries.py pins >=0.8.
_PQ = {"k": 5, "num_queries": 10, "m": 8, "codebook_k": 16, "shortlist": 200}


def q_ann_cosine_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _tables(spark, sf_dir)["embeddings"]
    return S.cosine_topk_pq(
        emb, S.pq_encode(emb, _PQ["m"], _PQ["codebook_k"]), k=_PQ["k"],
        num_queries=_PQ["num_queries"], shortlist=_PQ["shortlist"],
    ).orderBy("query_id", "rnk")


# l2sq via the three-dot identity — the SAME arithmetic the Spark side
# uses (sequential double dots), so the doubles are bit-identical and
# ADC rankings agree across engines.
_DUCK_L2SQ = (
    "(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b}))"
)

# Order-fixed ADC pivot pieces (one d per subspace per (query,
# vector); the left-to-right chain adds doubles in subspace order in
# BOTH engines, so an engine-chosen SUM order can't flip ROUND(.,6)):
_PQ_PIVOT = ",\n                     ".join(
    f"SUM(CASE WHEN l.subspace = {i} THEN l.d END) AS d{i}"
    for i in range(_PQ["m"])
)
_PQ_CHAIN = "d0"
for _i in range(1, _PQ["m"]):
    _PQ_CHAIN = f"({_PQ_CHAIN} + d{_i})"

SQL_ANN_TOPK_PQ = f"""
WITH p AS (SELECT CAST(floor(MIN(len(embedding)) / {_PQ["m"]}) AS INT) AS s
           FROM embeddings),
sp AS (SELECT UNNEST(generate_series(0, {_PQ["m"] - 1})) AS subspace),
vs AS (SELECT e.vec_id, sp.subspace,
              CAST(e.embedding[sp.subspace*p.s+1 : sp.subspace*p.s+p.s]
                   AS DOUBLE[]) AS sub
       FROM embeddings e, sp, p),
books AS (SELECT vec_id AS centroid_id, subspace, sub AS cvec
          FROM vs WHERE vec_id < {_PQ["codebook_k"]}),
enc AS (SELECT vec_id, subspace, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                                  ORDER BY d ASC, centroid_id) AS rn
        FROM (SELECT v.vec_id, v.subspace, b.centroid_id,
                     {_DUCK_L2SQ.format(a='v.sub', b='b.cvec')} AS d
              FROM vs v JOIN books b USING (subspace))),
codes AS (SELECT vec_id, subspace, centroid_id AS code
          FROM enc WHERE rn = 1),
lut AS (SELECT v.vec_id AS query_id, v.subspace,
               b.centroid_id AS code,
               {_DUCK_L2SQ.format(a='v.sub', b='b.cvec')} AS d
        FROM vs v JOIN books b USING (subspace)
        WHERE v.vec_id < {_PQ["num_queries"]}),
adc AS (SELECT query_id, vec_id,
               ROUND({_PQ_CHAIN}, 6) AS adist
        FROM (SELECT l.query_id, c.vec_id,
                     {_PQ_PIVOT}
              FROM codes c
              JOIN lut l ON l.subspace = c.subspace AND l.code = c.code
              WHERE l.query_id <> c.vec_id
              GROUP BY l.query_id, c.vec_id)),
short AS (SELECT query_id, vec_id AS neighbor_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY adist ASC, vec_id) AS rn
            FROM adc) WHERE rn <= {_PQ["shortlist"]}),
rer AS (SELECT s.query_id, s.neighbor_id,
               {_DUCK_COS.format(a='q.embedding', b='e.embedding')} AS cos
        FROM short s
        JOIN embeddings e ON e.vec_id = s.neighbor_id
        JOIN embeddings q ON q.vec_id = s.query_id),
r AS (SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rnk
      FROM rer)
SELECT query_id, neighbor_id, rnk, cos FROM r WHERE rnk <= 5
ORDER BY query_id, rnk
"""


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    from ..operators.sampling import mixture_plan

    return mixture_plan(
        t["documents"], stratum_col="lang", temperature=2.0, budget_frac=0.5
    ).orderBy("stratum")


SQL_MIXTURE_PLAN = """
WITH per AS (
  SELECT lang AS stratum, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY lang),
p2 AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS s
       FROM per),
tot AS (SELECT CAST(SUM(s) AS BIGINT) AS z,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM p2),
w AS (SELECT stratum, n_docs, n_tokens,
             ROUND(s / CAST(z AS DOUBLE), 6) AS weight,
             CAST(floor(total_tokens * 0.5) AS BIGINT) AS budget
      FROM p2, tot)
SELECT stratum, n_docs, n_tokens, weight,
       ROUND(LEAST(1.0, weight * budget / CAST(n_tokens AS DOUBLE)), 6)
         AS rate,
       CAST(floor(ROUND(LEAST(1.0, weight * budget
                              / CAST(n_tokens AS DOUBLE)), 6)
                  * n_tokens) AS BIGINT) AS expected_tokens
FROM w ORDER BY stratum
"""


def q_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (the domain over-representation guard):
    keep the 50 longest docs per source, doc_id tie-break."""
    t = _tables(spark, sf_dir)
    from ..operators.sampling import source_cap

    return source_cap(t["documents"], cap=50).orderBy("source", "rnk")


SQL_SOURCE_CAPS = """
SELECT doc_id, source, rnk FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rnk
  FROM documents) WHERE rnk <= 50
ORDER BY source, rnk
"""


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document passage dedup (keep first occurrence) over the
    mutated corpus: the +1000000 near-dup copies share their leading
    8-token blocks with the originals, so real duplicated passages
    exist and the scrub provably removes them."""
    t = _tables(spark, sf_dir)
    return D.passage_dedup(_mutated_docs(t["documents"]), block=8)


SQL_PASSAGE_DEDUP = f"""
WITH base AS ({_MUTATED_DOCS_DUCK}),
w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM base),
b AS (SELECT doc_id, i - 1 AS block_idx,
             array_to_string(ws[(i-1)*8+1 : (i-1)*8+8], ' ') AS btext
      FROM w, UNNEST(generate_series(
                1, CAST(ceil(len(ws) / 8.0) AS INT))) AS u(i)),
b2 AS (SELECT doc_id, block_idx, btext, md5(btext) AS bfp,
              len(string_split_regex(btext, '\\s+')) AS n_tok
       FROM b),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY bfp
                                   ORDER BY doc_id, block_idx) AS rn
      FROM b2)
SELECT doc_id, COUNT(*) AS n_blocks,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_blocks,
       CAST(SUM(CASE WHEN rn = 1 THEN n_tok ELSE 0 END) AS BIGINT)
         AS kept_tokens,
       md5(COALESCE(
         string_agg(CASE WHEN rn = 1 THEN btext END, ' '
                    ORDER BY block_idx), '')) AS kept_fp
FROM r GROUP BY doc_id ORDER BY doc_id
"""


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label propagation: auto-label a bounded probe batch (the
    20 lowest vec_ids) from the labeled remainder — the
    label-bootstrap pass of a training-data pipeline."""
    t = _tables(spark, sf_dir)
    return S.knn_classify(t["embeddings"], k=5, num_probes=20)


SQL_KNN_CLASSIFY = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id < 20),
tr AS (SELECT vec_id AS neighbor_id, embedding, label FROM embeddings
       WHERE vec_id >= 20),
s AS (SELECT q.query_id, tr.neighbor_id, tr.label,
             {_DUCK_COS.format(a='q.qe', b='tr.embedding')} AS cos
      FROM q, tr),
r AS (SELECT query_id, label,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rnk
      FROM s),
v AS (SELECT query_id, label, COUNT(*) AS votes
      FROM r WHERE rnk <= 5 GROUP BY query_id, label),
p AS (SELECT query_id, label, votes,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY votes DESC, label) AS vr
      FROM v)
SELECT query_id, label AS pred_label, CAST(votes AS BIGINT) AS votes
FROM p WHERE vr = 1 ORDER BY query_id
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    return S.label_centroids(t["embeddings"])


# floor-quantize to exact integers before summing (integer addition
# commutes across partitions; double AVG would be shuffle-order
# dependent and not hash-matchable). The mean stays integer too:
# round-half-away(|s|/n) = floor((2|s|+n)/(2n)) — Spark and DuckDB
# ROUND(double, 6) provably diverge at .5 seventh-digit boundaries
# (caught by the sf0.01 gate: -0.016221 vs -0.01622).
SQL_LABEL_CENTROIDS = """
WITH x AS (SELECT label, i - 1 AS pos,
                  CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0)
                       AS BIGINT) AS q
           FROM embeddings,
                UNNEST(generate_series(1, len(embedding))) AS u(i)),
g AS (SELECT label, pos, COUNT(*) AS n, CAST(SUM(q) AS BIGINT) AS s
      FROM x GROUP BY label, pos)
SELECT label, CAST(pos AS BIGINT) AS pos, n,
       CAST(floor((2 * ABS(s) + n) / (2.0 * n)) AS BIGINT)
         * (CASE WHEN s < 0 THEN -1 ELSE 1 END) AS c_micro
FROM g ORDER BY label, pos
"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pipeline a training-data team actually
    runs, composed from the engine's own operators in the standard
    order: quality gate (llm09's score >= 0.8) -> exact dedup
    keep-first (llm01) -> benchmark-contamination screen (llm21,
    drop >= 5% shingle overlap; docs too short to shingle pass
    vacuously via the anti-join) -> per-source cap (llm26, 40 best
    by n_chars) -> deterministic mixture sample (llm16, en 50% /
    others 90%) -> per-(lang, source) corpus profile. Every stage is
    a narrow filter or an already-scale-audited operator, so the
    composition inherits their 100 TB posture; the oracle replays the
    identical CTE chain, making the hash compare an equivalence proof
    for the WHOLE pipeline, not just its stages."""
    from pyspark.sql import Window

    from ..operators import sampling as SA

    t = _tables(spark, sf_dir)
    docs = t["documents"]
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    # Everything the downstream stages need is computed SCAN-SIDE
    # into a slim per-doc row (id, strata, fp, token count) — the
    # text bodies never enter a shuffle; only the contamination
    # screen reads them again, and it explodes to (doc_id, shingle)
    # rows before ITS shuffle too. At 100 TB this is the difference
    # between shuffling ~40 bytes/doc and shuffling the corpus.
    ntok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    slim = corpus.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.md5("text").alias("fp"),
        ntok.alias("ntok"),
    )
    good_ids = (
        T.quality_scores(corpus)
        .filter(F.col("quality") >= 0.8)
        .select("doc_id")
    )
    good = slim.join(good_ids, "doc_id")
    uniq = (
        good.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("fp").orderBy("doc_id")
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # contamination is a per-doc verdict against the (broadcast)
    # bench set only — independent of the other stages, so it runs
    # over the raw corpus once and intersects as an id anti-join
    dirty_ids = (
        D.contamination_scores(corpus, bench, shingle=3)
        .filter(F.col("contamination") >= 0.05)
        .select("doc_id")
    )
    clean = uniq.join(dirty_ids, "doc_id", "left_anti")
    capped = SA.source_cap(clean, cap=40, keep_columns=True)
    rates = SA.stratified_rates({"en": 50}, F.col("lang"), default=90)
    final = SA.hash_sample(capped, F.col("doc_id"), rates)
    return (
        final.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("n_tokens"),
            F.min("doc_id").alias("first_id"),
            F.max("doc_id").alias("last_id"),
        )
        .orderBy("lang", "source")
    )


SQL_CURATION_PIPELINE = f"""
WITH corpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
qw AS (SELECT doc_id, text,
              string_split_regex(trim(text), '\\s+') AS ws
       FROM corpus),
qm AS (SELECT doc_id, text, ws,
              len(list_filter(ws, x -> list_contains(
                  ['the','a','of','and','to'], x))) AS n_stop,
              len(text) - len(regexp_replace(text,
                  '[\\.,;:!\\?''"()\\[\\]{{}}-]', '', 'g')) AS n_punct
       FROM qw),
qr AS (SELECT doc_id,
              CAST(n_stop AS DOUBLE) / len(ws) AS stop_ratio,
              CAST(n_punct AS DOUBLE) / len(text) AS punct_ratio,
              1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)
                AS repetition
       FROM qm),
good AS (SELECT c.* FROM corpus c JOIN qr USING (doc_id)
         WHERE ROUND(1.0 - LEAST(qr.repetition, 1.0) * 0.5
                         - LEAST(qr.punct_ratio * 10, 1.0) * 0.2
                         + LEAST(qr.stop_ratio * 2, 0.3), 6) >= 0.8),
uniq AS (SELECT * FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                        ORDER BY doc_id) AS _rn
           FROM good) WHERE _rn = 1),
bsh AS (SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        FROM (SELECT string_split_regex(trim(text), '\\s+') AS ws
              FROM documents WHERE doc_id % 97 = 0) b,
             UNNEST(generate_series(1, len(ws)-2)) AS u(i)
        WHERE len(ws) >= 3),
csh AS (SELECT DISTINCT doc_id,
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
              FROM corpus) c,
             UNNEST(generate_series(1, len(ws)-2)) AS u(i)
        WHERE len(ws) >= 3),
dirty AS (SELECT csh.doc_id
          FROM csh LEFT JOIN bsh ON csh.s = bsh.s
          GROUP BY csh.doc_id
          HAVING ROUND(SUM(CASE WHEN bsh.s IS NOT NULL THEN 1 ELSE 0 END)
                       / CAST(COUNT(*) AS DOUBLE), 6) >= 0.05),
clean AS (SELECT * FROM uniq
          WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
capped AS (SELECT * FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                          ORDER BY n_chars DESC, doc_id)
                       AS rnk
             FROM clean) WHERE rnk <= 40),
final AS (SELECT * FROM capped
          WHERE {_HASH60_DUCK.format(x="CAST(doc_id AS VARCHAR)")} % 100 <
                CASE WHEN lang = 'en' THEN 50 ELSE 90 END)
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
         AS n_tokens,
       MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
FROM final GROUP BY lang, source ORDER BY lang, source
"""


def q_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) length-outlier screen over a corpus with
    PLANTED outliers (docs 0-9 re-appear at +3000000 with their text
    repeated 5x — the fixture's organic lengths are uniform enough
    that the 3xMAD fence flags nothing, which would prove nothing)."""
    t = _tables(spark, sf_dir)
    docs = t["documents"]
    planted = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat_ws(
            " ", "text", "text", "text", "text", "text"
        ).alias("text"),
        "lang",
    )
    base = docs.select("doc_id", "text", "lang").unionAll(planted)
    return T.length_outliers(base)


SQL_LENGTH_OUTLIERS = """
WITH base AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 3000000,
         text || ' ' || text || ' ' || text || ' ' || text || ' ' || text,
         lang
  FROM documents WHERE doc_id < 10),
t AS (SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\\s+')) AS ntok
      FROM base),
m AS (SELECT lang, MEDIAN(ntok) AS med FROM t GROUP BY lang),
d AS (SELECT t.lang, ABS(t.ntok - m.med) AS adev
      FROM t JOIN m ON t.lang = m.lang),
s AS (SELECT lang, MEDIAN(adev) AS mad FROM d GROUP BY lang)
SELECT d.lang AS lang, COUNT(*) AS n_docs,
       MIN(m.med) AS med, MIN(s.mad) AS mad,
       CAST(SUM(CASE WHEN d.adev > 3 * s.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM d JOIN m ON d.lang = m.lang JOIN s ON d.lang = s.lang
GROUP BY d.lang ORDER BY d.lang
"""


def q_token_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    return T.token_commonness(t["documents"])


SQL_TOKEN_COMMONNESS = """
WITH tok AS (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+'))
               AS token
             FROM documents),
counts AS (SELECT token, COUNT(*) AS df_count FROM tok GROUP BY token),
n AS (SELECT CAST(SUM(df_count) AS BIGINT) AS n_total FROM counts),
per_doc AS (SELECT doc_id, COUNT(*) AS n_tok,
                   CAST(SUM(df_count) AS BIGINT) AS sum_count
            FROM tok JOIN counts USING (token) GROUP BY doc_id)
SELECT doc_id, n_tok,
       CAST(floor((CAST(sum_count AS DOUBLE) * 1000000.0)
                  / (CAST(n_tok AS DOUBLE) * CAST(n_total AS DOUBLE)))
            AS BIGINT)
         AS score_ppm
FROM per_doc, n ORDER BY doc_id
"""


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL sign random projection 64 -> 16 dims — the cheap dimension
    reduction run before ANN indexing/clustering at corpus scale."""
    t = _tables(spark, sf_dir)
    return S.random_projection(t["embeddings"], out_dim=16, in_dim=64)


def _rp_sql() -> str:
    from ..operators.similarity import _rp_signs

    signs = _rp_signs(64, 16)
    cols = ",\n       ".join(
        "ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"CAST([{', '.join(f'{s}.0' for s in signs[k])}] AS DOUBLE[])), 6)"
        f" AS p{k}"
        for k in range(16)
    )
    return (
        f"SELECT vec_id,\n       {cols}\n"
        "FROM embeddings ORDER BY vec_id"
    )


SQL_RANDOM_PROJECTION = _rp_sql()


def _semdedup_base(emb: DataFrame) -> DataFrame:
    """Planted near-dups for llm27 (the fixture's natural max cosine
    is ~0.51, llm05's device): vec_id<30 gains an EXACT copy at
    +1000000 (cos=1, always dropped at any threshold) and a PERTURBED
    copy at +2000000 (first coordinate +0.5 — expressible exactly in
    both engines, so whether it crosses the threshold is decided on
    bit-identical doubles)."""
    exact = emb.filter(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    pert = emb.filter(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 2000000).alias("vec_id"),
        F.concat(
            F.array((F.element_at("embedding", 1) + F.lit(0.5)).cast("float")),
            F.slice(F.col("embedding"), 2, F.size("embedding") - 1),
        ).alias("embedding"),
    )
    return emb.select("vec_id", "embedding").unionAll(exact).unionAll(pert)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tables(spark, sf_dir)
    return S.semantic_dedup(
        _semdedup_base(t["embeddings"]), threshold=0.9, sign_bits=None
    )


_SEMDEDUP_BASE_DUCK = """
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 30
  UNION ALL
  SELECT vec_id + 2000000,
         list_prepend(CAST(embedding[1] + 0.5 AS FLOAT), embedding[2:])
           AS embedding
  FROM embeddings WHERE vec_id < 30
"""

# cluster = sign-LSH bucket of the leading k coordinates; adaptive k
# (constant expected occupancy, dedup.adaptive_sign_bits formula) is
# the same scalar-subquery device as llm05's oracle.
SQL_SEMANTIC_DEDUP = f"""
WITH base AS ({_SEMDEDUP_BASE_DUCK}),
kk AS (SELECT LEAST(GREATEST(
         length(bin(CAST(ceil(COUNT(*) / 32.0) AS BIGINT) - 1)), 1), 16)
         AS k FROM base),
b AS (SELECT vec_id, embedding,
             substr({_SIGN_BUCKET_DUCK}, 1, (SELECT k FROM kk)) AS cluster
      FROM base),
keep AS (SELECT cluster FROM b GROUP BY cluster HAVING COUNT(*) <= 1024),
m AS (SELECT b.vec_id, b.embedding, b.cluster FROM b JOIN keep USING (cluster)),
dom AS (SELECT DISTINCT r.cluster, r.vec_id
        FROM m l JOIN m r ON l.cluster = r.cluster
         AND l.vec_id < r.vec_id
        WHERE {_DUCK_COS.format(a='l.embedding', b='r.embedding')} >= 0.9),
per AS (SELECT cluster, COUNT(*) AS n_members FROM m GROUP BY cluster),
dr AS (SELECT cluster, COUNT(*) AS nd FROM dom GROUP BY cluster)
SELECT per.cluster, per.n_members,
       CAST(per.n_members - COALESCE(dr.nd, 0) AS BIGINT) AS n_kept
FROM per LEFT JOIN dr USING (cluster)
ORDER BY per.cluster
"""


def q_distinct_md5_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dq10's 100 TB rewrite (PLAN_AUDIT.md's one text-through-
    exchange row): COUNT(DISTINCT text) must shuffle every document
    body to its distinct-hash reducer — at corpus scale that moves
    the whole corpus over the network. Hashing first
    (COUNT(DISTINCT md5(text))) shuffles a 32-byte digest instead,
    with identical counts (md5 collisions at corpus scale: ~n^2/2^129
    — zero in practice, and the same device llm01's exact-dedup
    already relies on, dedup.py exact_dedup). dq10 stays in the
    surface verbatim for SQL portability; this is the plan a 100 TB
    deployment runs. Plan-asserted: no text# in any Exchange
    (tests/test_plans.py)."""
    t = _tables(spark, sf_dir)
    return (
        t["documents"]
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct(
                F.md5(F.col("text").cast("binary"))
            ).alias("distinct_texts"),
        )
        .orderBy("lang", "source")
        .limit(50)
    )


SQL_DISTINCT_MD5 = """
SELECT lang, source, COUNT(*) AS n,
       COUNT(DISTINCT md5(text)) AS distinct_texts
FROM documents GROUP BY lang, source ORDER BY lang, source LIMIT 50
"""


def q_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup (quote/subset detection): the
    relation Jaccard misses. Candidates come from the SAME banded-LSH
    buckets as llm03 (only candidate pairs are scored — the scale
    path); the score is exact-integer ppm, no ROUND (see
    operators/dedup.containment_pairs). The mutated corpus's
    truncated copies are true subsets of their originals, so their
    containment is exactly 1e6 ppm."""
    t = _tables(spark, sf_dir)
    base = _mutated_docs(t["documents"])
    cands = D.lsh_candidate_pairs(
        base, bands=2, rows_per_band=2, shingle=3, max_bucket=64
    )
    return D.containment_pairs(
        base, cands, shingle=3, threshold_ppm=800_000
    ).orderBy("a", "b")


SQL_SHINGLE_CONTAINMENT = f"""
WITH base AS ({_MUTATED_DOCS_DUCK}),
w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM base),
sh AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
       FROM w, UNNEST(generate_series(1, len(ws)-2)) AS u(i)
       WHERE len(ws) >= 3),
sig AS (SELECT doc_id, {_duck_minhash(4)} FROM sh GROUP BY doc_id),
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
tok AS (SELECT DISTINCT doc_id, s FROM sh),
sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
j AS (SELECT c.a, c.b,
        (SELECT COUNT(*) FROM tok x JOIN tok y ON x.s = y.s
          WHERE x.doc_id = c.a AND y.doc_id = c.b) AS inter,
        sa.n AS na, sb.n AS nb
      FROM cand c
      JOIN sz sa ON sa.doc_id = c.a
      JOIN sz sb ON sb.doc_id = c.b),
p AS (SELECT a, b,
        CAST(floor(CAST(inter AS DOUBLE) * 1000000.0
                   / CAST(na AS DOUBLE)) AS BIGINT) AS cont_a_ppm,
        CAST(floor(CAST(inter AS DOUBLE) * 1000000.0
                   / CAST(nb AS DOUBLE)) AS BIGINT) AS cont_b_ppm
      FROM j)
SELECT a, b, cont_a_ppm, cont_b_ppm FROM p
WHERE GREATEST(cont_a_ppm, cont_b_ppm) >= 800000
ORDER BY a, b
"""


def q_domain_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped importance weights against the en slice as the
    trusted target domain (operators/text.py:domain_affinity)."""
    t = _tables(spark, sf_dir)
    return T.domain_affinity(t["documents"], target_lang="en")


SQL_DOMAIN_AFFINITY = """
WITH tok AS (SELECT doc_id, lang,
                    UNNEST(string_split_regex(trim(text), '\\s+')) AS token
             FROM documents),
vocab AS (SELECT token, COUNT(*) AS df_all,
                 CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                      AS BIGINT) AS df_tgt
          FROM tok GROUP BY token),
per_doc AS (SELECT doc_id, COUNT(*) AS n_tok,
                   CAST(SUM(df_tgt) AS BIGINT) AS sum_tgt,
                   CAST(SUM(df_all) AS BIGINT) AS sum_all
            FROM tok JOIN vocab USING (token) GROUP BY doc_id)
SELECT doc_id, n_tok,
       CAST(floor((CAST(sum_tgt AS DOUBLE) * 1000000.0)
                  / CAST(sum_all AS DOUBLE)) AS BIGINT) AS affinity_ppm
FROM per_doc ORDER BY doc_id
"""


def q_bloom_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot dedup through the bloom pre-screen (llm22's
    runtime-filter twin; operators/dedup.py:incremental_new_docs_bloom):
    doc_id % 3 == 0 plays the previous crawl, the rest the new one.
    The oracle is the PLAIN anti-join — the hash compare is the
    no-false-negative equivalence proof for the sketch path."""
    t = _tables(spark, sf_dir)
    docs = t["documents"]
    old = docs.filter(F.col("doc_id") % 3 == 0)
    new = docs.filter(F.col("doc_id") % 3 != 0)
    return D.incremental_new_docs_bloom(
        new, old, m_bits=1 << 16, k=4
    ).orderBy("fp")


SQL_BLOOM_SNAPSHOT = """
WITH old_fp AS (SELECT DISTINCT md5(text) AS fp FROM documents
                WHERE doc_id % 3 = 0),
new_fp AS (SELECT doc_id, md5(text) AS fp FROM documents
           WHERE doc_id % 3 <> 0)
SELECT fp, MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS copies
FROM new_fp n
WHERE NOT EXISTS (SELECT 1 FROM old_fp o WHERE o.fp = n.fp)
GROUP BY fp ORDER BY fp
"""


def q_hyperplane_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm39 — banded random-hyperplane LSH near-dup (the r12 remedy
    for the single-band sign-LSH's recall decay; see
    dedup.hyperplane_lsh_pairs). Fixed literal sizing (6, 6) = the
    suggest_hyperplane_sizing answer at the fixture's 2k vectors
    (occupancy 2060/64 ≈ 32/bucket, S-curve recall 0.966 at cos 0.9);
    dim=64 is the fixture embedding width, passed explicitly so the
    per-run first() probe is skipped. Same planted base as llm27."""
    t = _tables(spark, sf_dir)
    return D.hyperplane_lsh_pairs(
        _semdedup_base(t["embeddings"]),
        bands=6, bits_per_band=6, threshold=0.9, dim=64,
    ).orderBy("a", "b")


def _hyperplane_sql() -> str:
    """Oracle twin of q_hyperplane_near_dup: the ±1 coefficients are
    the SAME plan-time hashlib literals the Spark plan broadcasts
    (dedup._hyperplane_sign), laid out as a VALUES signs table; dots
    are integer-micro sums (floor(val*1e6) — the llm30 device), so
    the GROUP BY needs no ordering contract and every sign decision
    is bit-identical across engines; the cap / candidate / verify
    chain mirrors the member-bucket machinery. No engine hash is
    involved anywhere."""
    from ..operators.dedup import _hyperplane_sign

    dim, bands, bits = 64, 6, 6
    n_bits = bands * bits
    hp_rows = ", ".join(
        "(" + ", ".join(
            [str(j)] + [str(_hyperplane_sign(b, r, j))
                        for b in range(bands) for r in range(bits)]
        ) + ")"
        for j in range(dim)
    )
    hp_cols = ", ".join(["pos"] + [f"s_{k}" for k in range(n_bits)])
    dot_sums = ", ".join(
        f"SUM(s_{k} * q) AS d_{k}" for k in range(n_bits)
    )
    band_selects = "\nUNION ALL\n".join(
        "SELECT vec_id, '" + str(b) + ":' || " + " || ".join(
            f"(CASE WHEN d_{b * bits + r} >= 0 THEN '1' ELSE '0' END)"
            for r in range(bits)
        ) + " AS bucket FROM dots"
        for b in range(bands)
    )
    return f"""
WITH base AS ({_SEMDEDUP_BASE_DUCK}),
hp({hp_cols}) AS (VALUES {hp_rows}),
ex AS (SELECT vec_id, i.i - 1 AS pos,
              CAST(floor(CAST(embedding[i.i] AS DOUBLE) * 1000000)
                   AS BIGINT) AS q
       FROM base, generate_series(1, {dim}) AS i(i)
       WHERE len(embedding) >= i.i),
dots AS (SELECT vec_id, {dot_sums}
         FROM ex JOIN hp USING (pos) GROUP BY vec_id),
bb AS ({band_selects}),
keep AS (SELECT bucket FROM bb GROUP BY bucket HAVING COUNT(*) <= 1024),
bf AS (SELECT bb.vec_id, bb.bucket FROM bb JOIN keep USING (bucket)),
cand AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
         FROM bf l JOIN bf r
           ON l.bucket = r.bucket AND l.vec_id < r.vec_id),
p AS (SELECT c.a, c.b,
             {_DUCK_COS.format(a='la.embedding', b='rb.embedding')} AS cos
      FROM cand c
      JOIN base la ON la.vec_id = c.a
      JOIN base rb ON rb.vec_id = c.b)
SELECT a, b, cos FROM p WHERE cos >= 0.9 ORDER BY a, b
"""


SQL_HYPERPLANE_NEAR_DUP = _hyperplane_sql()


def q_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm40 — incremental near-dup: NEW batch vs EXISTING corpus via
    the prebuilt-index probe path (dedup.lsh_incremental_pairs). The
    fixture reuses llm03's planted mutants as the new batch (doc_id
    +1000000, last two words dropped) against the documents table as
    the old corpus, at llm03's sizing (2, 2)/shingle 3/cap 64 — so
    llm40's expected pairs are exactly llm03's old-vs-new subset.
    The gated call goes THROUGH the index= lever so the driver
    exercises the geometry-validation and broadcast-probe path; the
    index is WRITTEN to parquet scratch and read back — the serving
    shape, and not just for honesty: an in-line index DataFrame is a
    LINEAGE, so the probe's three consumptions (geometry agg, matched
    join, counts) would each re-pay the whole corpus minhash pass —
    measured 7.3 s vs ~3 s through the parquet table at sf0.1.

    r15 (guide §2.6): the corpus index WRITE and the new batch's own
    signature pass (checkpointed, fed to the probe as ``new_index=``)
    are independent action chains — run on overlapping driver threads
    so one chain's planning/scheduling gaps hide behind the other's
    tasks (the r15 profile: 1.73 s of 2.71 s wall was dead driver
    time between micro-jobs). Identical result: ``new_index`` is
    byte-identically the table the probe would build in-line."""
    from ..operators.util import run_overlapped

    t = _tables(spark, sf_dir)
    old = t["documents"].select("doc_id", "text")
    new = _mutated_docs(t["documents"]).filter(
        F.col("doc_id") >= 1000000)
    root = _scratch.new_scratch(_LLM40_DIRS, "llm40_index_")
    _, batch_idx = run_overlapped(
        lambda: D.lsh_build_index(old, bands=2, rows_per_band=2,
                                  shingle=3)
        .write.partitionBy("band").parquet(root + "/index"),
        lambda: D.checkpoint_index(
            D.lsh_build_index(new, bands=2, rows_per_band=2, shingle=3)),
    )
    idx = spark.read.parquet(root + "/index")
    return D.lsh_incremental_pairs(
        new, old, shingle=3, threshold=0.5, max_bucket=64, index=idx,
        new_index=batch_idx,
    ).orderBy("a", "b")


def _trigram_tokens_cte(src: str) -> str:
    """(doc_id, s) trigram shingle rows for a (doc_id, text) relation
    — the llm03 tokenization, shared verbatim across every
    incremental twin."""
    return f"""SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
         FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
               FROM {src}),
              UNNEST(generate_series(1, len(ws)-2)) AS u(i)
         WHERE len(ws) >= 3"""


def incremental_pairs_sql(newdocs_cte: str, tokens_of=None) -> str:
    """Core incremental-dedup oracle template (r13 review: ONE edit
    site for the minhash/band/cap/verify recipe; r14: tokenization
    parameterized so the media block twin rides the same chain):
    full-recompute new-vs-old near-dup at the llm03 sizing —
    per-side token/minhash/band CTEs from the same ``_duck_minhash``
    recipe, OLD-side-only HAVING cap, old×new candidate join,
    exact-Jaccard verify >= 0.5. ``newdocs_cte`` defines the new
    batch; ``tokens_of(src)`` yields the (doc_id, s) tokenization of
    a relation (default: llm03 trigram shingles)."""
    tokens_of = tokens_of or _trigram_tokens_cte
    return f"""
WITH newdocs AS ({newdocs_cte}),
sh_o AS ({tokens_of("documents")}),
sh_n AS ({tokens_of("newdocs")}),
sig_o AS (SELECT doc_id, {_duck_minhash(4)} FROM sh_o GROUP BY doc_id),
sig_n AS (SELECT doc_id, {_duck_minhash(4)} FROM sh_n GROUP BY doc_id),
bb_o AS (SELECT doc_id, 0 AS band, mh0 AS r0, mh1 AS r1 FROM sig_o
         UNION ALL
         SELECT doc_id, 1 AS band, mh2 AS r0, mh3 AS r1 FROM sig_o),
bb_n AS (SELECT doc_id, 0 AS band, mh0 AS r0, mh1 AS r1 FROM sig_n
         UNION ALL
         SELECT doc_id, 1 AS band, mh2 AS r0, mh3 AS r1 FROM sig_n),
keep AS (SELECT band, r0, r1 FROM bb_o GROUP BY band, r0, r1
         HAVING COUNT(*) <= 64),
cand AS (SELECT DISTINCT o.doc_id AS a, n.doc_id AS b
         FROM bb_o o JOIN keep USING (band, r0, r1)
                     JOIN bb_n n USING (band, r0, r1)),
tok AS (SELECT DISTINCT doc_id, s FROM sh_o
        UNION SELECT DISTINCT doc_id, s FROM sh_n),
j AS (SELECT c.a, c.b,
        (SELECT COUNT(*) FROM tok x JOIN tok y ON x.s = y.s
          WHERE x.doc_id = c.a AND y.doc_id = c.b) AS inter,
        (SELECT COUNT(DISTINCT s) FROM tok WHERE doc_id IN (c.a, c.b)) AS uni
      FROM cand c)
SELECT a, b, ROUND(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
FROM j WHERE ROUND(CAST(inter AS DOUBLE) / uni, 6) >= 0.5 ORDER BY a, b
"""


def incremental_near_dup_sql(newdocs_cte: str) -> str:
    """The text-family twin (llm40/st09): trigram tokenization."""
    return incremental_pairs_sql(newdocs_cte)


def absorbing_pairs_sql(newdocs_cte: str, tokens_of=None) -> str:
    """Oracle template for the ABSORBING dedup shape (st10): every
    near-dup pair with at least one NEW member — the new-vs-old probe
    part (OLD-side HAVING cap, exactly :func:`incremental_pairs_sql`)
    UNIONed with the new-vs-new self part (NEW-side HAVING cap, the
    llm03 recipe restricted to the batch). Shares the
    token/minhash/band CTEs between the two parts so the recipe stays
    one edit site. Models a SINGLE absorbed batch — with multiple
    batches the caps become chop-dependent (each batch's probe caps
    against the index AS OF that batch), which is why the gated st10
    pins one batch and the multi-batch invariance is pinned in pytest
    on a never-capping fixture instead."""
    tokens_of = tokens_of or _trigram_tokens_cte
    return f"""
WITH newdocs AS ({newdocs_cte}),
sh_o AS ({tokens_of("documents")}),
sh_n AS ({tokens_of("newdocs")}),
sig_o AS (SELECT doc_id, {_duck_minhash(4)} FROM sh_o GROUP BY doc_id),
sig_n AS (SELECT doc_id, {_duck_minhash(4)} FROM sh_n GROUP BY doc_id),
bb_o AS (SELECT doc_id, 0 AS band, mh0 AS r0, mh1 AS r1 FROM sig_o
         UNION ALL
         SELECT doc_id, 1 AS band, mh2 AS r0, mh3 AS r1 FROM sig_o),
bb_n AS (SELECT doc_id, 0 AS band, mh0 AS r0, mh1 AS r1 FROM sig_n
         UNION ALL
         SELECT doc_id, 1 AS band, mh2 AS r0, mh3 AS r1 FROM sig_n),
keep_o AS (SELECT band, r0, r1 FROM bb_o GROUP BY band, r0, r1
           HAVING COUNT(*) <= 64),
keep_n AS (SELECT band, r0, r1 FROM bb_n GROUP BY band, r0, r1
           HAVING COUNT(*) <= 64),
cand AS (SELECT DISTINCT o.doc_id AS a, n.doc_id AS b
         FROM bb_o o JOIN keep_o USING (band, r0, r1)
                     JOIN bb_n n USING (band, r0, r1)
         UNION
         SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         FROM bb_n l JOIN keep_n USING (band, r0, r1)
                     JOIN bb_n r USING (band, r0, r1)
         WHERE l.doc_id < r.doc_id),
tok AS (SELECT DISTINCT doc_id, s FROM sh_o
        UNION SELECT DISTINCT doc_id, s FROM sh_n),
j AS (SELECT c.a, c.b,
        (SELECT COUNT(*) FROM tok x JOIN tok y ON x.s = y.s
          WHERE x.doc_id = c.a AND y.doc_id = c.b) AS inter,
        (SELECT COUNT(DISTINCT s) FROM tok WHERE doc_id IN (c.a, c.b)) AS uni
      FROM cand c)
SELECT a, b, ROUND(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
FROM j WHERE ROUND(CAST(inter AS DOUBLE) / uni, 6) >= 0.5 ORDER BY a, b
"""


SQL_INCREMENTAL_NEAR_DUP = incremental_near_dup_sql("""
  SELECT doc_id + 1000000 AS doc_id,
         CASE WHEN len(ws) > 2
              THEN array_to_string(ws[1:len(ws)-2], ' ')
              ELSE text END AS text
  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
        FROM documents WHERE doc_id < 20)""")


def q_hyperplane_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm41 — the embedding-family twin of llm40: a NEW embedding
    batch (llm27's planted copies — 30 exact at +1000000, 30
    first-coordinate-perturbed at +2000000) deduped against the
    embeddings table through a prebuilt
    dedup.hyperplane_build_index table at llm39's (6, 6)/dim=64.
    Served from parquet scratch (the llm40 lineage lesson); exact
    pairs land at cos 1.0, perturbed ones cross 0.9 or not on
    bit-identical doubles (the llm27 device).

    Corpus-index write and the new batch's banded signature pass
    overlap on driver threads (guide §2.6, the llm40 device);
    ``new_index=`` feeds the probe the checkpointed batch table it
    would otherwise build in-line — byte-identical signatures (both
    are :func:`~..operators.dedup.hyperplane_build_index` at the same
    (6, 6, dim=64))."""
    from ..operators.util import run_overlapped

    t = _tables(spark, sf_dir)
    old = t["embeddings"].select("vec_id", "embedding")
    new = _semdedup_base(t["embeddings"]).filter(
        F.col("vec_id") >= 1000000)
    root = _scratch.new_scratch(_LLM41_DIRS, "llm41_index_")
    _, batch_idx = run_overlapped(
        lambda: D.hyperplane_build_index(old, bands=6, bits_per_band=6,
                                         dim=64)
        .write.partitionBy("band").parquet(root + "/index"),
        lambda: D.checkpoint_index(
            D.hyperplane_build_index(new, bands=6, bits_per_band=6,
                                     dim=64)),
    )
    idx = spark.read.parquet(root + "/index")
    return D.hyperplane_incremental_pairs(
        new, old, dim=64, threshold=0.9, max_bucket=1024, index=idx,
        new_index=batch_idx,
    ).orderBy("a", "b")


def _hyperplane_incremental_sql() -> str:
    """Oracle twin of q_hyperplane_incremental: the llm39 generator's
    two-sided form — the SAME ±1 hashlib literals as one VALUES
    table, per-side posexplode/integer-micro dots/banding, OLD-side
    HAVING cap (probed-only capping in Spark is output-identical:
    unmatched over-cap buckets produce no candidates), old×new
    candidate join, exact-cosine verify ≥ 0.9."""
    from ..operators.dedup import _hyperplane_sign

    dim, bands, bits = 64, 6, 6
    n_bits = bands * bits
    hp_rows = ", ".join(
        "(" + ", ".join(
            [str(j)] + [str(_hyperplane_sign(b, r, j))
                        for b in range(bands) for r in range(bits)]
        ) + ")"
        for j in range(dim)
    )
    hp_cols = ", ".join(["pos"] + [f"s_{k}" for k in range(n_bits)])
    dot_sums = ", ".join(
        f"SUM(s_{k} * q) AS d_{k}" for k in range(n_bits)
    )

    def band_selects(dots_cte: str) -> str:
        return "\nUNION ALL\n".join(
            "SELECT vec_id, '" + str(b) + ":' || " + " || ".join(
                f"(CASE WHEN d_{b * bits + r} >= 0 THEN '1' ELSE '0' END)"
                for r in range(bits)
            ) + f" AS bucket FROM {dots_cte}"
            for b in range(bands)
        )

    return f"""
WITH old_side AS (SELECT vec_id, embedding FROM embeddings),
new_side AS (
  SELECT vec_id, embedding FROM ({_SEMDEDUP_BASE_DUCK})
  WHERE vec_id >= 1000000),
hp({hp_cols}) AS (VALUES {hp_rows}),
ex_o AS (SELECT vec_id, i.i - 1 AS pos,
              CAST(floor(CAST(embedding[i.i] AS DOUBLE) * 1000000)
                   AS BIGINT) AS q
       FROM old_side, generate_series(1, {dim}) AS i(i)
       WHERE len(embedding) >= i.i),
dots_o AS (SELECT vec_id, {dot_sums}
           FROM ex_o JOIN hp USING (pos) GROUP BY vec_id),
bb_o AS ({band_selects("dots_o")}),
ex_n AS (SELECT vec_id, i.i - 1 AS pos,
              CAST(floor(CAST(embedding[i.i] AS DOUBLE) * 1000000)
                   AS BIGINT) AS q
       FROM new_side, generate_series(1, {dim}) AS i(i)
       WHERE len(embedding) >= i.i),
dots_n AS (SELECT vec_id, {dot_sums}
           FROM ex_n JOIN hp USING (pos) GROUP BY vec_id),
bb_n AS ({band_selects("dots_n")}),
keep AS (SELECT bucket FROM bb_o GROUP BY bucket
         HAVING COUNT(*) <= 1024),
cand AS (SELECT DISTINCT o.vec_id AS a, n.vec_id AS b
         FROM bb_o o JOIN keep USING (bucket)
                     JOIN bb_n n USING (bucket)),
p AS (SELECT c.a, c.b,
             {_DUCK_COS.format(a='la.embedding', b='rb.embedding')} AS cos
      FROM cand c
      JOIN old_side la ON la.vec_id = c.a
      JOIN new_side rb ON rb.vec_id = c.b)
SELECT a, b, cos FROM p WHERE cos >= 0.9 ORDER BY a, b
"""


SQL_HYPERPLANE_INCREMENTAL = _hyperplane_incremental_sql()


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm42 — deterministic train/val/test split + export shards
    (sampling.split_assign): 98/1/1% hash-range assignment over
    md5(doc_id) with 8 independent-hash shards; profiled per
    (split, shard) with doc and token counts so the oracle gates both
    assignment hashes. Pure column math — zero pre-aggregation
    shuffle, append-stable (new docs never move old assignments)."""
    from ..operators import sampling as SA

    t = _tables(spark, sf_dir)
    assigned = SA.split_assign(
        t["documents"],
        F.col("doc_id"),
        {"train": 980_000, "val": 10_000, "test": 10_000},
        shards=8,
    )
    ntok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        assigned.groupBy("split", "shard")
        .agg(
            F.count("*").alias("docs"),
            F.sum(ntok).alias("tokens"),
        )
        .orderBy("split", "shard")
    )


_H_SPLIT = _HASH60_DUCK.format(x="'split:' || CAST(doc_id AS VARCHAR)")
_H_SHARD = _HASH60_DUCK.format(
    x="'split#shard:' || CAST(doc_id AS VARCHAR)")
SQL_SPLIT_ASSIGN = f"""
WITH a AS (
  SELECT CASE WHEN {_H_SPLIT} % 1000000 < 980000 THEN 'train'
              WHEN {_H_SPLIT} % 1000000 < 990000 THEN 'val'
              ELSE 'test' END AS split,
         CAST({_H_SHARD} % 8 AS INT) AS shard,
         len(string_split_regex(trim(text), '\\s+')) AS ntok
  FROM documents)
SELECT split, shard, COUNT(*) AS docs,
       CAST(SUM(ntok) AS BIGINT) AS tokens
FROM a GROUP BY split, shard ORDER BY split, shard
"""


LLM_QUERIES: dict[str, tuple] = {
    "llm01_dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "llm02_minhash_signatures": (q_minhash_signatures, SQL_MINHASH),
    "llm03_near_dup_minhash_lsh": (q_near_dup_minhash_lsh, SQL_NEAR_DUP),
    "llm04_simhash": (q_simhash, SQL_SIMHASH),
    "llm05_embedding_near_dup": (q_embedding_near_dup, SQL_EMBEDDING_NEAR_DUP),
    "llm06_ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_TOPK),
    "llm07_ann_cosine_topk_lsh": (q_ann_cosine_topk_lsh, SQL_ANN_TOPK_LSH),
    "llm08_token_stats": (q_token_stats, SQL_TOKEN_STATS),
    "llm09_quality_scores": (q_quality_scores, SQL_QUALITY),
    "llm10_language_id": (q_language_id, SQL_LANG_ID),
    "llm11_fingerprints": (q_fingerprints, SQL_FINGERPRINTS),
    "llm12_corpus_profile": (q_corpus_profile, SQL_CORPUS_PROFILE),
    "llm13_ann_cosine_topk_ivf": (q_ann_cosine_topk_ivf, SQL_ANN_TOPK_IVF),
    "llm14_winnowing": (q_winnowing, SQL_WINNOWING),
    "llm15_dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "llm16_hash_sample": (q_hash_sample, SQL_HASH_SAMPLE),
    "llm17_sequence_packing": (q_sequence_packing, SQL_SEQUENCE_PACKING),
    "llm18_pii_redaction": (q_pii_redaction, SQL_PII_REDACTION),
    "llm19_doc_chunking": (q_doc_chunking, SQL_DOC_CHUNKING),
    "llm20_tfidf_vocab": (q_tfidf_vocab, SQL_TFIDF_VOCAB),
    "llm21_contamination": (q_contamination, SQL_CONTAMINATION),
    "llm22_cross_snapshot_dedup": (q_cross_snapshot_dedup, SQL_CROSS_SNAPSHOT),
    "llm23_ngram_repetition": (q_ngram_repetition, SQL_NGRAM_REPETITION),
    "llm24_ann_cosine_topk_pq": (q_ann_cosine_topk_pq, SQL_ANN_TOPK_PQ),
    "llm25_mixture_plan": (q_mixture_plan, SQL_MIXTURE_PLAN),
    "llm26_source_caps": (q_source_caps, SQL_SOURCE_CAPS),
    "llm27_semantic_dedup": (q_semantic_dedup, SQL_SEMANTIC_DEDUP),
    "llm28_passage_dedup": (q_passage_dedup, SQL_PASSAGE_DEDUP),
    "llm29_knn_classify": (q_knn_classify, SQL_KNN_CLASSIFY),
    "llm30_label_centroids": (q_label_centroids, SQL_LABEL_CENTROIDS),
    "llm31_curation_pipeline": (q_curation_pipeline, SQL_CURATION_PIPELINE),
    "llm32_length_outliers": (q_length_outliers, SQL_LENGTH_OUTLIERS),
    "llm33_token_commonness": (q_token_commonness, SQL_TOKEN_COMMONNESS),
    "llm34_random_projection": (q_random_projection, SQL_RANDOM_PROJECTION),
    "llm35_distinct_md5_counts": (q_distinct_md5_counts, SQL_DISTINCT_MD5),
    "llm36_shingle_containment": (
        q_shingle_containment,
        SQL_SHINGLE_CONTAINMENT,
    ),
    "llm37_domain_affinity": (q_domain_affinity, SQL_DOMAIN_AFFINITY),
    "llm38_bloom_snapshot_dedup": (q_bloom_snapshot_dedup, SQL_BLOOM_SNAPSHOT),
    # llm39 debuted in r12 (outside the r12 window per the rotation
    # plan; oracle-twinned in pytest + the in-session full-surface
    # verify until its first driver row in r13+)
    "llm39_hyperplane_near_dup": (
        q_hyperplane_near_dup,
        SQL_HYPERPLANE_NEAR_DUP,
    ),
    # llm40 debuts in r13 (outside the r13 window per the rotation
    # plan; oracle-twinned in pytest + the in-session full-surface
    # verify until its first driver row in r14+)
    "llm40_incremental_near_dup": (
        q_incremental_near_dup,
        SQL_INCREMENTAL_NEAR_DUP,
    ),
    "llm41_hyperplane_incremental": (
        q_hyperplane_incremental,
        SQL_HYPERPLANE_INCREMENTAL,
    ),
    "llm42_split_assign": (q_split_assign, SQL_SPLIT_ASSIGN),
}

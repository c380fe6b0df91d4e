"""Text-analysis operators over ``documents`` — token counting,
quality scoring, language-ID heuristic, fingerprinting. All built-in
column functions; at 100 TB these are narrow maps over the scan plus
one low-cardinality aggregate where noted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import spread_for_compute

# Tiny per-language stopword profiles for the n-gram/stopword
# language-ID heuristic. Deterministic and SQL-expressible.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "de", "et", "un"),
    "de": ("der", "die", "das", "und", "ist"),
    "zh": ("的", "是", "在", "了", "不"),
}

_PUNCT_RE = r"[\.,;:!\?'\"()\[\]{}-]"


def _tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-doc token statistics: whitespace tokens, distinct tokens,
    chars, mean token length (BPE-ish proxy: alnum runs).

    Count-only regex terms COUNT matches instead of materializing
    them (r10; llm08 is tokenization-bound at 308x/1000x, so per-row
    allocation is the whole cost):

    - ``regexp_count`` replaces ``size(regexp_extract_all(...))`` —
      the old form allocated every matched substring into an array
      just to take its length;
    - non-whitespace char count is ``length(text) - regexp_count(
      text, '\\s')`` instead of ``length(regexp_replace(text, '\\s+',
      ''))`` — the old form built a stripped COPY of every document.
      Value-identical: removing every ``\\s`` char leaves exactly
      ``len - #\\s`` chars, and the single-char pattern advances one
      char per match in the same Java regex engine with the same
      ``\\s`` class, so no count/semantics drift is possible.
    Both pinned by the llm08 oracle twin (hash-exact vs DuckDB's
    independent SQL)."""
    docs = spread_for_compute(docs)
    toks = _tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.length("text").alias("n_chars"),
        # BPE-ish proxy: alnum runs + individual punctuation marks —
        # the sub-word unit count a byte-pair tokenizer's pre-tokenizer
        # would see (real BPE plugs in via pandas_udf if needed).
        F.regexp_count(
            F.col("text"), F.lit(r"[A-Za-z0-9]+|[^\sA-Za-z0-9]")
        ).alias("n_subtokens"),
        F.round(
            (F.length("text") - F.regexp_count(F.col("text"), F.lit(r"\s")))
            / F.size(toks),
            6,
        ).alias("mean_token_len"),
    )


def ngram_repetition(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-doc word n-gram repetition (the Gopher/C4-style "repetition
    ratio" quality gate, one n): duplicate-gram fraction
    ``1 - distinct/total`` and the share of the single most frequent
    gram. Complements :func:`quality_scores`, whose repetition term is
    unigram-level.

    Scale design: explode to (doc_id, gram) — narrow rows, no text
    bodies — then two hash aggregations: (doc_id, gram) counts with
    map-side partial agg, then per-doc rollup. Both shuffles are keyed
    by doc_id(+gram), so they distribute evenly regardless of document
    size; no per-row O(len²) array scans. Docs shorter than ``n``
    words have no grams and drop out (no signal).
    """
    from .dedup import shingle_strings

    grams = (
        spread_for_compute(docs)
        .select(
            "doc_id", F.explode(shingle_strings(F.col("text"), n)).alias("g")
        )
    )
    per_gram = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("top_count"),
        )
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            "n_distinct",
            F.round(1 - F.col("n_distinct") / F.col("n_grams"), 6).alias(
                "dup_frac"
            ),
            F.round(F.col("top_count") / F.col("n_grams"), 6).alias(
                "top_share"
            ),
        )
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Per-doc quality heuristics: stopword ratio, punctuation ratio,
    repetition (1 - distinct/total), composite score. The score is an
    explicit arithmetic expression so it is portable to the oracle."""
    docs = spread_for_compute(docs)
    toks = _tokens(F.col("text"))
    stop = F.array(*[F.lit(s) for s in LANG_STOPWORDS["en"]])
    n = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    n_punct = F.length(F.col("text")) - F.length(
        F.regexp_replace(F.col("text"), _PUNCT_RE, "")
    )
    repetition = F.lit(1.0) - F.size(F.array_distinct(toks)) / n
    stop_ratio = n_stop / n
    punct_ratio = n_punct / F.length("text")
    score = (
        F.lit(1.0)
        - F.least(repetition, F.lit(1.0)) * 0.5
        - F.least(punct_ratio * 10, F.lit(1.0)) * 0.2
        + F.least(stop_ratio * 2, F.lit(0.3))
    )
    return docs.select(
        "doc_id",
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(repetition, 6).alias("repetition"),
        F.round(score, 6).alias("quality"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-profile language ID: the language whose stopword set
    hits the most tokens wins; ties break lexicographically; zero hits
    -> 'und'. (The fixture text is synthetic word soup, so this
    demonstrates the mechanism — on real corpora swap in real
    profiles or a fastText-style model via pandas_udf.)"""
    docs = spread_for_compute(docs)
    toks = _tokens(F.col("text"))
    scores = []
    for lang in sorted(LANG_STOPWORDS):
        stop = F.array(*[F.lit(s) for s in LANG_STOPWORDS[lang]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    # max by (hits, then lexicographically smallest lang on ties):
    # array_max on struct compares fields in order, so negate nothing —
    # sort by hits desc handled via array_sort + element_at.
    arr = F.array(*scores)
    best = F.element_at(
        F.array_sort(
            arr,
            lambda l, r: F.when(l.getField("hits") > r.getField("hits"), F.lit(-1))
            .when(l.getField("hits") < r.getField("hits"), F.lit(1))
            .when(l.getField("lang") < r.getField("lang"), F.lit(-1))
            .when(l.getField("lang") > r.getField("lang"), F.lit(1))
            .otherwise(F.lit(0)),
        ),
        1,
    )
    return docs.select(
        "doc_id",
        F.when(best.getField("hits") > 0, best.getField("lang"))
        .otherwise(F.lit("und"))
        .alias("pred_lang"),
        best.getField("hits").cast("bigint").alias("hits"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Document fingerprints: md5 of whitespace-normalized lowercase
    text (exact-dup key) and a prefix hash of the first 8 tokens
    (rolling-hash analogue for clustering near-identical heads)."""
    docs = spread_for_compute(docs)
    normalized = F.lower(
        F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    )
    toks = _tokens(F.col("text"))
    prefix = F.concat_ws(" ", F.slice(toks, 1, 8))
    return docs.select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
        F.md5(F.lower(prefix)).alias("prefix_fp"),
    )


# PII patterns, deliberately RE2-compatible (no lookarounds) so the
# same pattern string runs in Spark (Java regex) and DuckDB (RE2) —
# the oracle must execute the IDENTICAL pattern.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_redact(docs: DataFrame) -> DataFrame:
    """Count and redact PII spans (emails, phone numbers, IPv4s).

    Narrow per-row map — at 100 TB this is a pure scan-side transform
    (no shuffle, whole-stage codegen'd regexps). Redaction applies the
    patterns in a fixed order (email, phone, ipv4) so an IPv4-looking
    fragment inside an already-redacted span can't double-count.
    Returns counts plus md5 of the redacted text (the redacted corpus
    itself would be the real output; the hash keeps oracle compare
    cheap)."""
    docs = spread_for_compute(docs)
    redacted = F.col("text")
    counts = []
    for kind, pat in PII_PATTERNS.items():
        counts.append(
            F.size(F.regexp_extract_all(redacted, F.lit(pat), 0))
            .cast("bigint")
            .alias(f"n_{kind}")
        )
        redacted = F.regexp_replace(redacted, pat, f"<{kind}>")
    return docs.select("doc_id", *counts, F.md5(redacted).alias("red_fp"))


def chunk_documents(
    docs: DataFrame, width: int = 100, stride: int = 90
) -> DataFrame:
    """Split documents into overlapping word-window chunks (context-
    window preparation). Chunk i covers words [i*stride, i*stride +
    width); chunks exist while i*stride < n_words. explode(sequence)
    keeps the fan-out JVM-side and scan-parallel — no shuffle, output
    rows ~ n_words/stride per doc."""
    docs = spread_for_compute(docs)
    ws = F.split(F.trim(F.col("text")), r"\s+")
    nchunks = F.ceil(F.size(F.col("ws")) / F.lit(stride)).cast("int")
    chunk = F.explode(F.sequence(F.lit(0), nchunks - 1)).alias("chunk_id")
    words = F.slice(F.col("ws"), F.col("chunk_id") * stride + 1, width)
    return (
        docs.select("doc_id", ws.alias("ws"))
        .select("doc_id", "ws", chunk)
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.size(words).cast("bigint").alias("n_words"),
            F.md5(F.concat_ws(" ", words)).alias("chunk_fp"),
        )
    )


def tfidf_vocab(docs: DataFrame, top_n: int = 100) -> DataFrame:
    """Corpus vocabulary by document frequency with IDF — the vocab-
    building pass of a training pipeline. One explode + one groupBy
    on the token (the only shuffle); N arrives via a broadcast 1-row
    cross join, never a driver-side collect."""
    docs = spread_for_compute(docs)
    toks = F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    per_doc = docs.select("doc_id", F.explode(toks).alias("token"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    return (
        per_doc.groupBy("token")
        .agg(F.count("*").alias("df"))
        .join(F.broadcast(n_docs))
        .select(
            "token",
            "df",
            F.round(F.log(F.col("n_docs") / F.col("df")), 6).alias("idf"),
        )
        .orderBy(F.desc("df"), "token")
        .limit(top_n)
    )


def corpus_profile(docs: DataFrame) -> DataFrame:
    """Per (lang, source) corpus rollup — the aggregate view a data
    curator reads first. One low-cardinality shuffle."""
    toks = _tokens(F.col("text"))
    return (
        docs.select("lang", "source", F.size(toks).alias("n"), F.length("text").alias("c"))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n").alias("tokens"),
            F.round(F.avg("n"), 6).alias("avg_tokens"),
            F.round(F.avg("c"), 6).alias("avg_chars"),
        )
    )


def length_outliers(docs: DataFrame) -> DataFrame:
    """Robust per-language length-outlier profile: median token count,
    MAD (median absolute deviation), and how many docs sit beyond the
    classic 3xMAD fence — the outlier screen a curation pipeline runs
    before trusting length-based quality heuristics (mean/stddev are
    useless here because the outliers themselves drag them).

    Determinism: token counts are integers and both engines compute
    exact interpolated medians, so med/mad are exact halves — no
    float-order hazard anywhere. Scale: two median aggs keyed on lang;
    Spark's percentile agg is exact (per-group sort). At 100 TB swap
    `median` for `approx_percentile(_, 0.5, eps)` — the fence barely
    moves and the sort disappears; kept exact here for the oracle.
    """
    t = spread_for_compute(docs).select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("ntok"),
    )
    med = t.groupBy("lang").agg(F.median("ntok").alias("med"))
    d = t.join(F.broadcast(med), "lang").withColumn(
        "adev", F.abs(F.col("ntok") - F.col("med"))
    )
    mad = d.groupBy("lang").agg(F.median("adev").alias("mad"))
    return (
        d.join(F.broadcast(mad), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("lang")
    )


def token_commonness(docs: DataFrame) -> DataFrame:
    """Corpus-statistics quality score (the CCNet-style LM-filter
    shape): each doc scored by how common its tokens are corpus-wide
    — rare-token soup (mojibake, boilerplate IDs, wrong-language
    fragments) scores low. Classic form is mean unigram log-prob; the
    log is dropped here because JVM Math.log and libm log can differ
    in the last ulp (a floor/ROUND flip hazard), while the monotone
    integer form cannot: score_ppm = floor(sum(df_count) * 1e6 /
    (n_tok * N)) with each integer count cast to double BEFORE any
    multiply (so nothing can wrap past 2^63 at corpus scale) — IEEE
    multiply/divide/floor are exactly specified, bit-identical
    cross-engine.

    Scale shape: token-count agg (token key, map-side partials),
    shuffled join of (doc_id, token) against the counts — token is
    the uniform shuffle key; at 100 TB broadcast the top-K vocab and
    shuffle only the tail — then one doc_id agg. N arrives as a
    1-row broadcast cross join, never a driver collect.
    """
    docs = spread_for_compute(docs)
    tok = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count("*").alias("df_count"))
    n_total = counts.select(F.sum("df_count").alias("n_total"))
    per_doc = (
        tok.join(counts, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.sum("df_count").alias("sum_count"),
        )
    )
    # Cast EACH operand to double BEFORE multiplying: at corpus scale
    # (n_total in the trillions) the int64 products sum_count*1e6 and
    # n_tok*n_total exceed 2^63 — Spark's long multiply would wrap
    # silently (wrong score) while DuckDB raises. Double multiply and
    # divide are exactly-specified IEEE ops, identical cross-engine;
    # exactness of the product isn't load-bearing (score is floored).
    score = F.floor(
        (F.col("sum_count").cast("double") * F.lit(1000000.0))
        / (F.col("n_tok").cast("double") * F.col("n_total").cast("double"))
    ).cast("bigint")
    return (
        per_doc.crossJoin(F.broadcast(n_total))
        .select("doc_id", "n_tok", score.alias("score_ppm"))
        .orderBy("doc_id")
    )


def domain_affinity(docs: DataFrame, target_lang: str = "en") -> DataFrame:
    """DSIR-shaped importance weight for targeted data selection: each
    doc scored by how much of its token evidence comes from a TARGET
    subset of the corpus (here ``lang == target_lang``; in production
    the target is a trusted high-quality slice — wiki/books — and the
    score drives importance resampling of the raw crawl, per Xie et
    al., "Data Selection for Language Models via Importance
    Resampling", NeurIPS 2023).

    Canonical DSIR is a hashed-n-gram log-likelihood ratio; the log is
    dropped here for the same reason token_commonness drops it (JVM
    Math.log vs libm can differ in the last ulp — a floor-flip hazard
    across engines) in favor of the monotone integer form
    ``affinity_ppm = floor(1e6 * sum_t df_target(t) / sum_t df_all(t))``
    over a doc's token instances: integer sums commute across
    partitions, and the one double divide + floor is an exactly
    specified IEEE op, bit-identical cross-engine. Docs whose
    vocabulary is over-represented in the target slice score high;
    zero-overlap docs score 0.

    Scale shape: one explode over the scan; a vocab-sized count agg
    (token key, map-side partials) built for BOTH models in one pass
    (conditional agg on the target predicate — not two explodes);
    one shuffled join of (doc_id, token) against the vocab — token is
    the uniform key; at 100 TB broadcast the top-K head of the vocab
    and shuffle only the tail, exactly the llm33 lever — then one
    doc_id agg. No driver collects; nothing grows with corpus size
    except the vocab table (sublinear, Heaps' law).
    """
    docs = spread_for_compute(docs)
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(_tokens(F.col("text"))).alias("token"),
    )
    vocab = tok.groupBy("token").agg(
        F.count("*").alias("df_all"),
        F.sum(
            F.when(F.col("lang") == target_lang, 1).otherwise(0)
        ).alias("df_tgt"),
    )
    per_doc = (
        tok.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.sum("df_tgt").alias("sum_tgt"),
            F.sum("df_all").alias("sum_all"),
        )
    )
    # double-cast each operand BEFORE the multiply (the llm33 int64
    # wrap hazard: at corpus scale sum_tgt * 1e6 exceeds 2^63)
    affinity = F.floor(
        (F.col("sum_tgt").cast("double") * F.lit(1000000.0))
        / F.col("sum_all").cast("double")
    ).cast("bigint")
    return per_doc.select(
        "doc_id", "n_tok", affinity.alias("affinity_ppm")
    ).orderBy("doc_id")

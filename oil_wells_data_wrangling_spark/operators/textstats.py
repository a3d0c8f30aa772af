"""Text-analysis operator family (SURVEY.md §2.C).

Per-document language scoring, quality metrics, token counting, and
fingerprinting over the ``documents`` table — the per-row filters a
training-data pipeline applies before dedup/mixing.

Everything is array/string intrinsics on the row — single scan, no
shuffle, no UDF; ratios are int/int divisions so results are exactly
reproducible across engines.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from oil_wells_data_wrangling_spark.plans.registry import register
from oil_wells_data_wrangling_spark.sources.readers import load_tables

_EN_STOP = ("the", "a", "of", "and", "to", "in", "is", "for")
_STOP_SPARK = "array(" + ", ".join(f"'{w}'" for w in _EN_STOP) + ")"
_STOP_DUCK = "[" + ", ".join(f"'{w}'" for w in _EN_STOP) + "]"


# -------------------------------------------------------------------- lang_id

_LANGID_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
)
SELECT doc_id,
       CAST(len(list_filter(words, w -> list_contains({_STOP_DUCK}, w))) AS BIGINT)
         AS n_stop,
       len(list_filter(words, w -> list_contains({_STOP_DUCK}, w)))
         / len(words) AS stop_ratio,
       CASE WHEN len(list_filter(words, w -> list_contains({_STOP_DUCK}, w)))
                 / len(words) > 0.05
            THEN 'en' ELSE 'und' END AS predicted_lang
FROM t
"""


@register("lang_id", oracle=_LANGID_ORACLE)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language heuristic (n-gram language ID degenerates
    to seed-set token overlap on the synthetic corpus). The per-language
    seed sets extend by adding more filter() terms — still one scan."""
    t = load_tables(spark, sf_dir)
    words = F.split("text", " ")
    n_stop = F.size(
        F.expr(f"filter(split(text, ' '), w -> array_contains({_STOP_SPARK}, w))")
    )
    ratio = n_stop / F.size(words)
    return t.documents.select(
        "doc_id",
        n_stop.cast("bigint").alias("n_stop"),
        ratio.alias("stop_ratio"),
        F.when(ratio > 0.05, "en").otherwise("und").alias("predicted_lang"),
    )


# -------------------------------------------------------------- quality_score

_QUALITY_ORACLE = """
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS words FROM documents
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(words) AS BIGINT) AS n_words,
       CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct,
       len(list_distinct(words)) / len(words) AS distinct_ratio,
       CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
         / len(words) AS avg_word_len
FROM t
"""


@register("quality_score", oracle=_QUALITY_ORACLE)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / vocabulary-diversity / word-size quality metrics — the
    repetition and boilerplate filters of a pretraining pipeline."""
    t = load_tables(spark, sf_dir)
    words = F.split("text", " ")
    n_words = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    sum_len = F.expr(
        "aggregate(transform(split(text, ' '), w -> length(w)), 0L, (acc, v) -> acc + v)"
    )
    return t.documents.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        n_words.cast("bigint").alias("n_words"),
        n_distinct.cast("bigint").alias("n_distinct"),
        (n_distinct / n_words).alias("distinct_ratio"),
        (sum_len.cast("double") / n_words).alias("avg_word_len"),
    )


# ---------------------------------------------------------- repetition_filter

_REPETITION_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
s AS (
  SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS n_distinct FROM w
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i + 1])) AS bg
  FROM w WHERE len(w) >= 2
),
bgc AS (
  SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg
),
bs AS (
  SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM bgc GROUP BY doc_id
)
SELECT s.doc_id,
  CAST(s.n_words AS BIGINT) AS n_words,
  ROUND(1.0 - CAST(s.n_distinct AS DOUBLE) / s.n_words, 6) AS dup_word_frac,
  ROUND(COALESCE(CAST(bs.mx AS DOUBLE) / bs.tot, 0.0), 6) AS top_bigram_frac,
  (1.0 - CAST(s.n_distinct AS DOUBLE) / s.n_words) <= 0.5
    AND COALESCE(CAST(bs.mx AS DOUBLE) / bs.tot, 0.0) <= 0.04 AS keep
FROM s LEFT JOIN bs ON s.doc_id = bs.doc_id
"""


@register("repetition_filter", oracle=_REPETITION_ORACLE)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate: duplicate-word fraction (in-row
    array intrinsics) and most-frequent-bigram fraction (the one metric
    needing a per-(doc, bigram) count — a single shuffle keyed on the
    doc, so it co-partitions and scales linearly). keep = passes both."""
    t = load_tables(spark, sf_dir)
    words_df = t.documents.select(
        "doc_id", F.split("text", " ").alias("w")
    )
    stats = words_df.select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.size(F.array_distinct("w")).alias("n_distinct"),
    )
    bigrams = F.expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1),"
        " (a, b) -> concat(a, ' ', b))"
    )
    bstat = (
        words_df.filter(F.size("w") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
    )
    dup_frac = 1.0 - stats.n_distinct.cast("double") / stats.n_words
    top_frac = F.coalesce(F.col("mx").cast("double") / F.col("tot"), F.lit(0.0))
    return (
        stats.join(bstat, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("bigint").alias("n_words"),
            F.round(dup_frac, 6).alias("dup_word_frac"),
            F.round(top_frac, 6).alias("top_bigram_frac"),
            ((dup_frac <= 0.5) & (top_frac <= 0.04)).alias("keep"),
        )
    )


# ---------------------------------------------------------------- token_count

_TOKENS_ORACLE = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
         AS bpe_tokens
FROM documents
"""


@register("token_count", oracle=_TOKENS_ORACLE)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + a BPE-ish regex tokenizer (letter runs, digit
    runs, single symbols) — the cost estimator for token budgets."""
    t = load_tables(spark, sf_dir)
    return t.documents.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("ws_tokens"),
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
        .cast("bigint")
        .alias("bpe_tokens"),
    )


# ----------------------------------------------------------- fingerprint_diff

_FPDIFF_ORACLE = """
WITH snap_a AS (
  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 17 <> 0
),
snap_b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN md5(text || ' v2') ELSE md5(text) END AS fp
  FROM documents
)
SELECT
  CASE WHEN a.doc_id IS NULL THEN 'added'
       WHEN b.doc_id IS NULL THEN 'removed'
       WHEN a.fp <> b.fp THEN 'changed'
       ELSE 'unchanged' END AS status,
  CAST(COUNT(*) AS BIGINT) AS n_docs
FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id
GROUP BY 1
"""


@register("fingerprint_diff", oracle=_FPDIFF_ORACLE)
def fingerprint_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot dataset diff by content fingerprint: full outer
    join on doc identity, classify added/removed/changed/unchanged —
    the audit step between two crawls/exports. One co-partitioned join;
    only (id, 16-byte hash) pairs move."""
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id", "text")
    snap_a = base.filter(F.col("doc_id") % 17 != 0).select(
        F.col("doc_id").alias("a_id"), F.md5("text").alias("a_fp")
    )
    snap_b = base.select(
        F.col("doc_id").alias("b_id"),
        F.when(
            F.col("doc_id") % 10 == 0, F.md5(F.concat(F.col("text"), F.lit(" v2")))
        )
        .otherwise(F.md5("text"))
        .alias("b_fp"),
    )
    joined = snap_a.join(snap_b, F.col("a_id") == F.col("b_id"), "full_outer")
    status = (
        F.when(F.col("a_id").isNull(), "added")
        .when(F.col("b_id").isNull(), "removed")
        .when(F.col("a_fp") != F.col("b_fp"), "changed")
        .otherwise("unchanged")
    )
    return joined.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# ---------------------------------------------------------------- fingerprint

_FP_ORACLE = """
SELECT doc_id,
       md5(lower(trim(regexp_replace(text, '[ \t]+', ' ', 'g')))) AS fp,
       CAST(greatest(len(string_split(text, ' ')) - 2, 0) AS BIGINT) AS n_shingles
FROM documents
"""


@register("fingerprint", oracle=_FP_ORACLE)
def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint (md5 of whitespace-collapsed
    lowercase text) + shingle count — the join key for cross-snapshot
    document identity.

    Plain whitespace-collapse only (no unicode-punctuation translate):
    the normalization must be byte-identical to the oracle's, and a
    fingerprint key wants the cheapest canonical form that survives
    re-wrapping — punctuation variants are near-dup territory
    (dedup_minhash), not identity."""
    t = load_tables(spark, sf_dir)
    return t.documents.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.regexp_replace("text", "[ \\t]+", " ")))).alias("fp"),
        F.greatest(F.size(F.split("text", " ")) - 2, F.lit(0))
        .cast("bigint")
        .alias("n_shingles"),
    )


# ------------------------------------------------------------------ url_stats

_URL_RX = r"https?://[A-Za-z0-9.-]+[A-Za-z0-9./_-]*"

_URL_ORACLE = f"""
WITH url_docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN
           text || ' see https://site' || CAST(doc_id % 20 AS VARCHAR)
                || '.example.com/page' || CAST(doc_id AS VARCHAR)
                || ' and http://ref' || CAST(doc_id % 7 AS VARCHAR) || '.org/x'
         ELSE text END AS text
  FROM documents
),
u AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{_URL_RX}')) AS url
  FROM url_docs
)
SELECT regexp_extract(url, '://([A-Za-z0-9.-]+)', 1) AS domain,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM u
GROUP BY 1
"""


@register("url_stats", oracle=_URL_ORACLE)
def url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL extraction stats — the crawl-side provenance audit
    (and the input to domain-level filtering/sampling policies). The
    synthetic corpus has no URLs, so doc_id % 5 docs get two injected
    deterministically; extraction explodes (doc_id, url) pairs and
    aggregates by domain — one scan, one 27-domain shuffle."""
    t = load_tables(spark, sf_dir)
    k = F.col("doc_id")
    url_tail = F.concat(
        F.lit(" see https://site"),
        (k % 20).cast("string"),
        F.lit(".example.com/page"),
        k.cast("string"),
        F.lit(" and http://ref"),
        (k % 7).cast("string"),
        F.lit(".org/x"),
    )
    docs = t.documents.select(
        "doc_id",
        F.when(k % 5 == 0, F.concat(F.col("text"), url_tail))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    urls = docs.select(
        "doc_id",
        F.explode(F.expr(f"regexp_extract_all(text, '{_URL_RX}', 0)")).alias("url"),
    )
    return urls.groupBy(
        F.regexp_extract("url", "://([A-Za-z0-9.-]+)", 1).alias("domain")
    ).agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.count_distinct("doc_id").alias("n_docs"),
    )


# ----------------------------------------------------------------- vocab_topk

_VOCAB_ORACLE = """
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
c AS (
  SELECT word, count(*) AS cnt FROM w GROUP BY word
)
SELECT word, CAST(cnt AS BIGINT) AS cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, word) AS INTEGER) AS rank
FROM c
ORDER BY rank
LIMIT 100
"""


@register("vocab_topk", oracle=_VOCAB_ORACLE)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters — the vocabulary/tokenizer-training step.
    Word counts combine map-side (the explode never shuffles raw text,
    only (word, partial-count) pairs), then a single narrow top-k.
    For unbounded key domains swap the exact count for a space-saving /
    count-min sketch; the synthetic corpus' closed vocabulary makes the
    exact form the right one here."""
    t = load_tables(spark, sf_dir)
    counts = (
        t.documents.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("word"))
    return (
        counts.select(
            "word",
            "cnt",
            F.row_number().over(w).cast("int").alias("rank"),
        )
        .filter(F.col("rank") <= 100)
        .orderBy("rank")
    )


# -------------------------------------------------------------- url_canonical

_URL_CANON_ORACLE = r"""
WITH raw AS (
  SELECT doc_id,
         'HTTPS://WWW.Site' || CAST(doc_id % 9 AS VARCHAR)
         || '.COM/Path' || CAST(doc_id AS VARCHAR)
         || '/?utm_source=x&utm_campaign=y&id=' || CAST(doc_id AS VARCHAR)
         || '#sec' AS url
  FROM documents WHERE doc_id % 4 = 0
),
steps AS (
  SELECT doc_id,
         regexp_replace(url, '#.*', '') AS no_frag,
         regexp_extract(regexp_replace(url, '#.*', ''),
                        '^[A-Za-z]+://[^/?]+', 0) AS head
  FROM raw
),
canon AS (
  SELECT doc_id,
    regexp_replace(
      lower(head) ||
      regexp_replace(regexp_replace(regexp_replace(
        substr(no_frag, length(head) + 1),
        'utm_[a-z]+=[^&]*&?', '', 'g'), '\?&', '?'), '[?&]$', ''),
      '/$', '') AS url_canonical
  FROM steps
)
SELECT doc_id, url_canonical,
       regexp_extract(url_canonical, '://([^/?]+)', 1) AS domain
FROM canon
"""


@register("url_canonical", oracle=_URL_CANON_ORACLE)
def url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl URL canonicalization — the key-normalization step before
    URL-level dedup: strip fragment, lowercase scheme+authority (path
    stays case-sensitive per RFC 3986), drop utm_* tracking params,
    tidy ?/& leftovers, strip a trailing slash. Pure regexp chains
    (RE2-safe) over a deterministically synthesized messy URL."""
    t = load_tables(spark, sf_dir)
    k = F.col("doc_id")
    url = F.concat(
        F.lit("HTTPS://WWW.Site"),
        (k % 9).cast("string"),
        F.lit(".COM/Path"),
        k.cast("string"),
        F.lit("/?utm_source=x&utm_campaign=y&id="),
        k.cast("string"),
        F.lit("#sec"),
    )
    raw = t.documents.filter(k % 4 == 0).select("doc_id", url.alias("url"))
    no_frag = F.regexp_replace("url", "#.*", "")
    steps = raw.select(
        "doc_id",
        no_frag.alias("no_frag"),
        F.regexp_extract(no_frag, "^[A-Za-z]+://[^/?]+", 0).alias("head"),
    )
    rest = F.expr("substr(no_frag, length(head) + 1)")
    tidy = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(rest, "utm_[a-z]+=[^&]*&?", ""), r"\?&", "?"
        ),
        "[?&]$",
        "",
    )
    canonical = F.regexp_replace(F.concat(F.lower("head"), tidy), "/$", "")
    canon = steps.select("doc_id", canonical.alias("url_canonical"))
    return canon.select(
        "doc_id",
        "url_canonical",
        F.regexp_extract("url_canonical", "://([^/?]+)", 1).alias("domain"),
    )


# ------------------------------------------------------------ length_histogram

# Shared CASE ladder (integer comparisons only — no log2 doubles whose
# boundary rounding could differ across engines).
_LEN_BUCKET = """CASE WHEN {n} < 16 THEN 0 WHEN {n} < 32 THEN 1
 WHEN {n} < 64 THEN 2 WHEN {n} < 128 THEN 3 WHEN {n} < 256 THEN 4
 WHEN {n} < 512 THEN 5 WHEN {n} < 1024 THEN 6 ELSE 7 END"""

_LENHIST_ORACLE = f"""
WITH t AS (
  SELECT len(string_split(text, ' ')) AS n_tokens FROM documents
)
SELECT CAST({_LEN_BUCKET.format(n='n_tokens')} AS INTEGER) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
FROM t GROUP BY 1
"""


@register("length_histogram", oracle=_LENHIST_ORACLE)
def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram in power-of-two buckets — the packing
    diagnostic of a pretraining pipeline (how much padding/truncation a
    given context length costs). Integer CASE ladder, not log2 floats,
    so bucket edges are exact on both engines; single scan, one bounded
    partial-agg shuffle (8 buckets max regardless of corpus size)."""
    t = load_tables(spark, sf_dir)
    n = F.size(F.split("text", " "))
    bucket = F.expr(
        _LEN_BUCKET.format(n="size(split(text, ' '))")
    ).cast("int")
    return (
        t.documents.select(bucket.alias("bucket"), n.alias("n_tokens"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").cast("bigint").alias("min_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
        )
    )


# ------------------------------------------------------------------ domain_cap

_CAP_K = 5

_DOMAIN_CAP_ORACLE = f"""
WITH url_docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN
           text || ' see https://site' || CAST(doc_id % 20 AS VARCHAR)
                || '.example.com/page' || CAST(doc_id AS VARCHAR)
                || ' and http://ref' || CAST(doc_id % 7 AS VARCHAR) || '.org/x'
         ELSE text END AS text
  FROM documents
),
dom AS (
  SELECT doc_id,
         COALESCE(NULLIF(regexp_extract(regexp_extract(text, '{_URL_RX}'),
                                        '://([A-Za-z0-9.-]+)', 1), ''),
                  'nodomain') AS domain
  FROM url_docs
),
ranked AS (
  SELECT doc_id, domain,
         row_number() OVER (
           PARTITION BY domain
           ORDER BY md5('cap_' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM dom
)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE rk <= {_CAP_K}) AS BIGINT) AS n_kept
FROM ranked GROUP BY domain
"""


@register("domain_cap", oracle=_DOMAIN_CAP_ORACLE)
def domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document capping — the crawl-balance step (C4/
    RefinedWeb-style): keep at most k docs per source domain, chosen by
    a deterministic salted-hash shuffle so the sample is reproducible
    without RNG state. Emits per-domain totals and kept counts.

    Scale shape: domain from the first URL in the scan stage; one
    window shuffle on domain where WindowGroupLimit-eligible rank
    filtering bounds the per-partition work; the audit agg reuses the
    same partitioning."""
    t = load_tables(spark, sf_dir)
    k = F.col("doc_id")
    url_tail = F.concat(
        F.lit(" see https://site"),
        (k % 20).cast("string"),
        F.lit(".example.com/page"),
        k.cast("string"),
        F.lit(" and http://ref"),
        (k % 7).cast("string"),
        F.lit(".org/x"),
    )
    url_docs = t.documents.select(
        "doc_id",
        F.when(k % 5 == 0, F.concat("text", url_tail)).otherwise(F.col("text")).alias("text"),
    )
    domain = F.coalesce(
        F.nullif(
            F.regexp_extract(
                F.regexp_extract("text", _URL_RX, 0), "://([A-Za-z0-9.-]+)", 1
            ),
            F.lit(""),
        ),
        F.lit("nodomain"),
    )
    dom = url_docs.select("doc_id", domain.alias("domain"))
    w = Window.partitionBy("domain").orderBy(
        F.md5(F.concat(F.lit("cap_"), F.col("doc_id").cast("string"))),
        F.col("doc_id"),
    )
    ranked = dom.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("rk") <= _CAP_K, 1)).alias("n_kept"),
    )


# --------------------------------------------------------------- ngram_counts

_NGRAM_TOPK = 50

_NGRAM_COUNTS_ORACLE = f"""
WITH tok AS (
  SELECT string_split(text, ' ') AS w FROM documents
),
grams AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1])) AS gram
  FROM tok WHERE len(w) >= 2
),
c AS (
  SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM grams GROUP BY gram
),
r AS (
  SELECT gram, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, gram) AS INTEGER) AS rank
  FROM c
)
SELECT gram, cnt, rank FROM r WHERE rank <= {_NGRAM_TOPK}
"""


@register("ngram_counts", oracle=_NGRAM_COUNTS_ORACLE)
def ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-k word bigrams — the n-gram statistics a
    BPE/WordPiece tokenizer-training pass and language-model data audits
    start from (vocab_topk's unigram sibling).

    Scale shape: bigrams come from two shifted slices zipped inside the
    scan (no self-join, no per-gram regex); counts combine map-side so
    only (gram, partial-count) pairs shuffle, and the global top-k is a
    rank-limit pushdown (TakeOrderedAndProject / WindowGroupLimit —
    pinned by the plan sweep), never a full sort."""
    t = load_tables(spark, sf_dir)
    grams = F.expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), "
        "(g, t) -> concat(g, ' ', t))"
    )
    counts = (
        t.documents.select(F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 2)
        .select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("gram"))
    return (
        counts.select(
            "gram", "cnt", F.row_number().over(w).cast("int").alias("rank")
        )
        .filter(F.col("rank") <= _NGRAM_TOPK)
    )


# ----------------------------------------------------------------- tfidf_topk

_TFIDF_K = 3
_IDF_SCALE = 1_000_000

_TFIDF_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
tf AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
),
df AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.word, tf.tf,
         tf.tf * ((n.n * {_IDF_SCALE}) // df.df) AS score
  FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
)
SELECT doc_id, CAST(rk AS INTEGER) AS rank, word,
       tf, CAST(score AS BIGINT) AS score
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, word) AS rk
  FROM scored
) WHERE rk <= {_TFIDF_K}
"""


@register("tfidf_topk", oracle=_TFIDF_ORACLE)
def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k distinguishing terms by TF-IDF — keyword
    extraction / topic tagging over the corpus. The idf is the exact
    integer ``(N * 1e6) div df`` (a monotone transform of N/df), so
    scores are bigints and the ranking is bit-identical across engines —
    no ln() whose last-ulp could differ between libm implementations.

    Scale shape: tokenize → (doc, word) partial-agg shuffle; document
    frequencies aggregate the tf frame again (word-keyed, partial-agg);
    the df table is vocabulary-sized and broadcast here (closed test
    vocabulary — at open-vocabulary scale swap for a word-partitioned
    shuffle join); the final rank window is doc-partitioned with
    WindowGroupLimit pushdown."""
    t = load_tables(spark, sf_dir)
    tok = t.documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = t.documents.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            (F.col("tf") * F.expr(f"(n * {_IDF_SCALE}) div df")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "word")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TFIDF_K)
        .select("doc_id", "rank", "word", "tf", F.col("score").cast("bigint").alias("score"))
    )


# ------------------------------------------------------------------ bm25_topk

_BM25_K = 10
_BM25_IDF_SCALE = 10_000
_BM25_QUERY = ("spark", "join", "vector", "stream")
_BM25_QUERY_SQL = ", ".join(f"'{w}'" for w in _BM25_QUERY)

_BM25_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS word
  FROM documents
),
tf AS (
  SELECT doc_id, dl, word, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok WHERE word IN ({_BM25_QUERY_SQL}) GROUP BY 1, 2, 3
),
dfreq AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS t_words
  FROM documents
),
scored AS (
  SELECT tf.doc_id,
         ((stats.n - dfreq.df + 1) * {_BM25_IDF_SCALE} // (dfreq.df + 1))
           * tf.tf * 22
           // (10 * tf.tf
               + (3 * (stats.t_words + 3 * tf.dl * stats.n)) // stats.t_words)
           AS part
  FROM tf JOIN dfreq USING (word) CROSS JOIN stats
),
ds AS (
  SELECT doc_id, CAST(SUM(part) AS BIGINT) AS score,
         CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM scored GROUP BY doc_id
)
SELECT doc_id, CAST(rk AS INTEGER) AS rank, score, n_terms FROM (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rk FROM ds
) WHERE rk <= {_BM25_K}
"""


@register("bm25_topk", oracle=_BM25_ORACLE)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents for a fixed query under a BM25-family scorer —
    the corpus-ranking primitive behind retrieval-based data curation
    (e.g. picking in-domain documents for a training mix).

    Exact-integer BM25 (k1 = 1.2, b = 0.75): the idf is the monotone
    integer transform ``((N - df + 1) * 1e4) div (df + 1)`` of the
    classic ``(N - df + 0.5) / (df + 0.5)`` odds ratio (no ln, so
    scores are bigints and the ranking is bit-identical across engines
    — same design as tfidf_topk). The length normalisation is carried
    exactly by clearing the k1 = 12/10, b = 3/4 denominators:
    ``part = (idf * tf * 22) div (10*tf + (3*(T + 3*dl*N)) div T)``
    where T = total corpus words, dl = document length, N = doc count.

    Scale shape: the query-term filter lands before the (doc, word)
    aggregation so only matching tokens shuffle; document frequencies
    and the two corpus scalars are tiny and broadcast; the final global
    top-k is a rank-limit window (WindowGroupLimit / partial limit —
    pinned by the plan sweep), never a full sort."""
    t = load_tables(spark, sf_dir)
    tok = t.documents.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("dl"),
        F.explode(F.split("text", " ")).alias("word"),
    ).filter(F.col("word").isin(*_BM25_QUERY))
    tf = tok.groupBy("doc_id", "dl", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    stats = t.documents.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(F.split("text", " "))).alias("t_words"),
    )
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(
                f"((n - df + 1) * {_BM25_IDF_SCALE} div (df + 1)) * tf * 22"
                " div (10 * tf + (3 * (t_words + 3 * dl * n)) div t_words)"
            ).alias("part"),
        )
    )
    ds = scored.groupBy("doc_id").agg(
        F.sum("part").cast("bigint").alias("score"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return (
        ds.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _BM25_K)
        .select("doc_id", "rank", "score", "n_terms")
    )


# --------------------------------------------------------------- rarity_score

_RARITY_SCALE = 10_000

_RARITY_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
cnt AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY word
),
tw AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM tok),
s AS (
  SELECT tok.doc_id,
         CAST(COUNT(*) AS BIGINT) AS dl,
         CAST(SUM((tw.t * {_RARITY_SCALE}) // cnt.cnt) AS BIGINT) AS sum_r
  FROM tok JOIN cnt USING (word) CROSS JOIN tw
  GROUP BY tok.doc_id
)
SELECT doc_id, dl, sum_r // dl AS rarity FROM s
"""


@register("rarity_score", oracle=_RARITY_ORACLE)
def rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean scaled inverse corpus frequency — the unigram
    'surprisal' proxy a curation pipeline uses to separate boilerplate
    (common-token mass, low score) from novel/rare-token documents
    (high score); the linear-space sibling of a unigram-LM perplexity
    filter, kept in exact bigint arithmetic (``(T*1e4) div cnt``, then
    an integer mean) so both engines agree bit-for-bit with no libm.

    Scale shape: one tokenize feeding both aggregates; the vocabulary
    count table broadcasts back onto the token stream (closed test
    vocabulary — word-partitioned shuffle join at open-vocab scale);
    per-doc sum and length come out of ONE doc-keyed aggregation, so
    the plan is two partial-agg shuffles end to end."""
    t = load_tables(spark, sf_dir)
    tok = t.documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    cnt = tok.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    tw = tok.agg(F.count(F.lit(1)).alias("t"))
    s = (
        tok.join(F.broadcast(cnt), "word")
        .crossJoin(F.broadcast(tw))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("dl"),
            F.sum(F.expr(f"(t * {_RARITY_SCALE}) div cnt"))
            .cast("bigint")
            .alias("sum_r"),
        )
    )
    return s.select("doc_id", "dl", F.expr("sum_r div dl").alias("rarity"))


# -------------------------------------------------------------- vocab_coverage

_VC_K = 30

_VC_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
c AS (
  SELECT word, count(*) AS cnt FROM tok GROUP BY word
),
vocab AS (
  SELECT word FROM (
    SELECT word, row_number() OVER (ORDER BY cnt DESC, word) AS rk FROM c
  ) WHERE rk <= {_VC_K}
)
SELECT tok.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST((1000 * SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS oov_permille
FROM tok LEFT JOIN vocab v ON tok.word = v.word
GROUP BY tok.doc_id
"""


@register("vocab_coverage", oracle=_VC_ORACLE)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus' own top-k
    vocabulary — the tokenizer-coverage audit a pipeline runs before
    committing to a vocab size (docs with high OOV permille will
    fragment into byte-fallback tokens and blow up their train-time
    length). Here the vocab is the in-query top-30; the production form
    joins against a fixed tokenizer vocab table — same plan, one input
    swapped.

    Scale shape: one tokenize explode feeding both the frequency count
    and the coverage join; the vocab is a k-row broadcast (rank over the
    word-count aggregate — vocabulary-sized, not corpus-sized), and the
    per-doc rollup is a single partial-agg shuffle on doc_id. Text
    never shuffles; the exchanges carry (doc_id, word) and
    (word, count) pairs only."""
    t = load_tables(spark, sf_dir)
    tok = t.documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    counts = tok.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("word"))
    vocab = (
        counts.select("word", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _VC_K)
        .select("word", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr("(1000 * n_oov) div n_tokens").alias("oov_permille"),
        )
    )


# ------------------------------------------------------------ blocklist_filter

# Two-category blocklist over the synthetic vocabulary (real pipelines
# load thousands of terms from a file; the plan is identical — the list
# broadcasts either way). Categories let the audit show WHICH policy
# fired, the C4/RefinedWeb badwords pattern.
_BLOCK_CATS = {
    "infra": ("error", "crash", "leak"),
    "spam": ("spam", "click", "free"),
}
_BLOCK_SPARK = (
    "map("
    + ", ".join(
        f"'{w}', '{cat}'" for cat, ws in _BLOCK_CATS.items() for w in ws
    )
    + ")"
)


def _block_duck_case() -> str:
    whens = " ".join(
        f"WHEN word = '{w}' THEN '{cat}'"
        for cat, ws in _BLOCK_CATS.items()
        for w in ws
    )
    return f"CASE {whens} END"


_BLOCKLIST_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
  FROM documents
),
hits AS (
  SELECT doc_id, source, {_block_duck_case()} AS cat
  FROM tok
),
per_doc AS (
  SELECT doc_id, source,
         CAST(SUM(CASE WHEN cat = 'infra' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_infra,
         CAST(SUM(CASE WHEN cat = 'spam' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_spam,
         CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM hits GROUP BY doc_id, source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN (1000 * (n_infra + n_spam)) // n_tokens >= 20
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
       CAST(SUM(n_infra) AS BIGINT) AS infra_hits,
       CAST(SUM(n_spam) AS BIGINT) AS spam_hits
FROM per_doc GROUP BY source
"""


@register("blocklist_filter", oracle=_BLOCKLIST_ORACLE)
def blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category-tagged blocklist gate (the C4 badwords / policy-filter
    pattern): per-token category lookup, per-doc hit densities, and a
    ≥2% combined-density block decision, audited per source so a
    policy change shows WHERE it bites before anything is deleted.

    Scale shape: the blocklist compiles to a literal MAP expression
    evaluated inside the scan — a real 10⁴-term list broadcasts as a
    join or stays a map literal; either way no shuffle carries text,
    and the only exchanges are the (doc, counts) partial agg and the
    bounded per-source rollup. The block decision is integer permille
    arithmetic, bit-identical across engines."""
    t = load_tables(spark, sf_dir)
    cat = F.expr(f"{_BLOCK_SPARK}[word]")
    per_doc = (
        t.documents.select(
            "doc_id",
            "source",
            F.explode(F.split("text", " ")).alias("word"),
        )
        .select("doc_id", "source", cat.alias("cat"))
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.when(F.col("cat") == "infra", 1).otherwise(0)).alias(
                "n_infra"
            ),
            F.sum(F.when(F.col("cat") == "spam", 1).otherwise(0)).alias(
                "n_spam"
            ),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    blocked = F.expr("(1000 * (n_infra + n_spam)) div n_tokens") >= 20
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(blocked, 1).otherwise(0)).alias("n_blocked"),
        F.sum("n_infra").cast("bigint").alias("infra_hits"),
        F.sum("n_spam").cast("bigint").alias("spam_hits"),
    )


# --------------------------------------------------------- lang_mismatch_matrix

_LANG_MM_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents
),
pred AS (
  SELECT doc_id, lang,
         CASE WHEN len(list_filter(words, w -> list_contains({_STOP_DUCK}, w)))
                   / len(words) > 0.05
              THEN 'en' ELSE 'und' END AS predicted_lang
  FROM t
)
SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred GROUP BY lang, predicted_lang
"""


@register("lang_mismatch_matrix", oracle=_LANG_MM_ORACLE)
def lang_mismatch_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-vs-heuristic language confusion matrix: crawl-declared
    ``lang`` against the stopword-ratio prediction (`lang_id`), counted
    per (declared, predicted) cell — the audit that catches mislabeled
    upstream metadata BEFORE a language-filtered training mix trusts
    it. Cells off the diagonal are the docs a lang-filter would route
    wrongly.

    Scale shape: the prediction is the same single-scan expression as
    lang_id (no join with a prediction table — recomputing a scan-side
    scalar beats materializing and re-shuffling it), and the matrix agg
    is bounded by |langs|² cells."""
    t = load_tables(spark, sf_dir)
    words = F.split("text", " ")
    ratio = F.size(
        F.expr(f"filter(split(text, ' '), w -> array_contains({_STOP_SPARK}, w))")
    ) / F.size(words)
    return (
        t.documents.select(
            "lang",
            F.when(ratio > 0.05, "en").otherwise("und").alias(
                "predicted_lang"
            ),
        )
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------- bigram_lift

_LIFT_MINSUP = 20
# lift threshold 11/10 — kept rational so the cut is exact integer
# cross-multiplication on both engines (no float compare at the boundary)
_LIFT_NUM, _LIFT_DEN = 11, 10

_BIGRAM_LIFT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
big AS (
  SELECT a.w AS w1, b.w AS w2
  FROM toks a JOIN toks b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY w),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks),
pairs AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM big GROUP BY w1, w2
)
SELECT p.w1, p.w2, p.n_pair, u1.n AS n_w1, u2.n AS n_w2
FROM pairs p
JOIN uni u1 ON p.w1 = u1.w
JOIN uni u2 ON p.w2 = u2.w
CROSS JOIN tot
WHERE p.n_pair >= {_LIFT_MINSUP}
  AND {_LIFT_DEN} * p.n_pair * tot.n_tokens > {_LIFT_NUM} * u1.n * u2.n
"""


@register("bigram_lift", oracle=_BIGRAM_LIFT_ORACLE)
def bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-association mining: adjacent-word bigrams whose observed
    frequency beats independence by a lift of ≥ 1.1 with minimum
    support — the collocation detector (PMI's ratio core, before the
    log) a tokenizer-prep pipeline runs to find multi-word expressions
    worth fusing into single tokens. Emits the raw counts (n_pair,
    n_w1, n_w2) rather than a float score: lift = n_pair·N/(n_w1·n_w2)
    is a ratio of integers, and the ≥11/10 cut is applied by integer
    cross-multiplication on BOTH engines, so the survivor set is exact
    — no float epsilon at the decision boundary, which is where
    engine-hash comparisons die.

    Scale shape: bigrams explode map-side from each doc (zip of the
    word array with its tail — no self-join; the oracle's pos-join
    formulation is the cross-check); one hash agg keys (w1, w2), one
    keys w; the unigram table is vocabulary-sized and broadcast onto
    the pair table, and the corpus total is a scalar broadcast. At
    100 TB the only big exchange is the (w1, w2) partial-agg shuffle,
    which Zipf-compresses map-side: partial counts mean the shuffle
    carries at most |vocab|² rows per task, not corpus tokens. Counts
    are bigint: n_pair·N overflows int64 only past ~3·10⁹ tokens with
    ~3·10⁹ pair occurrences (≈ exabyte corpora); document
    decimal(38,0) there."""
    t = load_tables(spark, sf_dir)
    words = t.documents.select(
        F.split("text", " ").alias("ws")
    )
    toks = words.select(F.explode("ws").alias("w"))
    bigrams = words.select(
        F.explode(
            F.expr("zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1), (a, b) -> struct(a as w1, b as w2))")
        ).alias("p")
    ).select("p.w1", "p.w2")
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    tot = toks.agg(F.count(F.lit(1)).alias("n_tokens"))
    pairs = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("n").alias("n_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n").alias("n_w2"))
    return (
        pairs.filter(F.col("n_pair") >= _LIFT_MINSUP)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .filter(
            _LIFT_DEN * F.col("n_pair") * F.col("n_tokens")
            > _LIFT_NUM * F.col("n_w1") * F.col("n_w2")
        )
        .select("w1", "w2", "n_pair", "n_w1", "n_w2")
    )


# ----------------------------------------------------- quality_threshold_sweep

# distinct-word-ratio thresholds in permille — the operating points a
# curation pipeline would A/B; permille keeps the cut integer-exact
_QTS_THRESHOLDS = (400, 500, 600, 700, 800)
_QTS_SQL_VALUES = ", ".join(f"({t})" for t in _QTS_THRESHOLDS)

_QTS_ORACLE = f"""
WITH s AS (
  SELECT doc_id, n_chars,
         len(list_distinct(string_split(text, ' '))) * 1000
           / len(string_split(text, ' ')) AS score_permille
  FROM documents
),
thr(threshold) AS (VALUES {_QTS_SQL_VALUES}),
tot AS (SELECT COUNT(*) AS n FROM s)
SELECT CAST(thr.threshold AS BIGINT) AS threshold,
       CAST(SUM(CASE WHEN s.score_permille >= thr.threshold
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
       CAST(SUM(CASE WHEN s.score_permille >= thr.threshold
                     THEN s.n_chars ELSE 0 END) AS BIGINT) AS n_chars_kept,
       CAST(SUM(CASE WHEN s.score_permille >= thr.threshold
                     THEN 1 ELSE 0 END) * 1000000 // MAX(tot.n)
         AS BIGINT) AS ppm_kept
FROM s CROSS JOIN thr CROSS JOIN tot
GROUP BY thr.threshold
"""


@register("quality_threshold_sweep", oracle=_QTS_ORACLE)
def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation operating curve: for each candidate quality threshold,
    how many documents (and characters) survive — the sweep a pipeline
    runs BEFORE committing to a filter cut, so the data-mix owner picks
    a point on the volume/quality curve instead of a blind constant
    (the filter itself is ``quality_score``/``repetition_filter``; the
    band-sensitivity analog for dedup is ``minhash_band_sensitivity``).
    Score is the distinct-word ratio in integer permille — the cut is
    exact on both engines, no float boundary.

    Scale shape: the per-doc score is computed ONCE in the scan stage;
    the |thresholds|-row table cross-joins in map-side (broadcast
    nested loop over 5 rows — row expansion ×5, columns just (score,
    n_chars)), and the rollup is a 5-group partial agg, so the only
    exchange carries ≤ 5 rows per map task. The corpus total rides the
    same agg via MAX(broadcast scalar) rather than a second pass."""
    t = load_tables(spark, sf_dir)
    words = F.split("text", " ")
    s = t.documents.select(
        "n_chars",
        (
            F.size(F.array_distinct(words)) * 1000 / F.size(words)
        ).cast("bigint").alias("score_permille"),
    )
    thr = spark.range(len(_QTS_THRESHOLDS)).select(
        F.element_at(
            F.array(*[F.lit(t) for t in _QTS_THRESHOLDS]),
            (F.col("id") + 1).cast("int"),
        ).cast("bigint").alias("threshold")
    )
    tot = t.documents.agg(F.count(F.lit(1)).alias("n"))
    kept = F.when(F.col("score_permille") >= F.col("threshold"), 1).otherwise(0)
    return (
        s.crossJoin(F.broadcast(thr))
        .crossJoin(F.broadcast(tot))
        .groupBy("threshold")
        .agg(
            F.sum(kept).cast("bigint").alias("n_docs_kept"),
            F.sum(kept * F.col("n_chars")).cast("bigint").alias("n_chars_kept"),
            F.expr(
                "cast(sum(case when score_permille >= threshold then 1 else 0 end)"
                " * 1000000 div max(n) as bigint)"
            ).alias("ppm_kept"),
        )
    )


# ------------------------------------------------------------------ url_dedup

# Three docs per canonical URL (group = doc_id div 3), each variant
# differing only in ways canonicalization erases: scheme/authority
# case, utm_* params, a trailing slash, a fragment. The path keeps one
# case across variants — canonicalization is case-sensitive past the
# authority (RFC 3986), so a path-case difference would be a REAL
# difference and must not collapse.
_URLD_RAW_SQL = """
CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.Site' ELSE 'https://www.site'
END || CAST((doc_id // 3) % 9 AS VARCHAR)
|| CASE WHEN doc_id % 2 = 0 THEN '.COM/p' ELSE '.com/p' END
|| CAST(doc_id // 3 AS VARCHAR)
|| CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
|| CASE WHEN doc_id % 2 = 0
        THEN '?utm_source=s' || CAST(doc_id AS VARCHAR)
             || '&utm_medium=m' || CAST(doc_id AS VARCHAR)
        ELSE '?utm_campaign=c' || CAST(doc_id AS VARCHAR) END
|| '#f' || CAST(doc_id AS VARCHAR)
"""

_URL_DEDUP_ORACLE = rf"""
WITH raw AS (
  SELECT doc_id, {_URLD_RAW_SQL} AS url FROM documents
),
steps AS (
  SELECT doc_id,
         regexp_replace(url, '#.*', '') AS no_frag,
         regexp_extract(regexp_replace(url, '#.*', ''),
                        '^[A-Za-z]+://[^/?]+', 0) AS head
  FROM raw
),
canon AS (
  SELECT doc_id,
    regexp_replace(
      lower(head) ||
      regexp_replace(regexp_replace(regexp_replace(
        substr(no_frag, length(head) + 1),
        'utm_[a-z]+=[^&]*&?', '', 'g'), '\?&', '?'), '[?&]$', ''),
      '/$', '') AS url_canonical
  FROM canon_src
)
SELECT url_canonical,
       CAST(MIN(doc_id) AS BIGINT) AS winner_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_variants
FROM canon GROUP BY url_canonical
"""


@register(
    "url_dedup",
    oracle=_URL_DEDUP_ORACLE.replace("canon_src", "steps"),
)
def url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup — the crawl-frontier collapse that runs BEFORE
    any fetch: canonicalize (url_canonical's exact chain: strip
    fragment, lowercase scheme+authority only, drop utm_* tracking
    params, tidy ?/& leftovers, strip one trailing slash), then group
    by the canonical form keeping the smallest doc_id as winner. Three
    synthesized variants per target URL differ only in
    canonicalization-erasable ways, so groups of exactly 3 prove the
    collapse and the case-sensitive path proves nothing over-collapses.

    Scale shape: per-row regexp chain (RE2-safe, no backtracking) in
    whole-stage codegen, then ONE shuffle keyed on the canonical URL
    string; winner selection is min-aggregate, not a sort. At crawl
    scale the canonical key is the natural partitioner (same-host URLs
    co-locate for the politeness-batched fetch that follows)."""
    t = load_tables(spark, sf_dir)
    k = F.col("doc_id")
    g = F.expr("doc_id div 3")
    url = F.concat(
        F.when(k % 2 == 0, F.lit("HTTPS://WWW.Site")).otherwise(
            F.lit("https://www.site")
        ),
        (g % 9).cast("string"),
        F.when(k % 2 == 0, F.lit(".COM/p")).otherwise(F.lit(".com/p")),
        g.cast("string"),
        F.when(k % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            k % 2 == 0,
            F.concat(
                F.lit("?utm_source=s"),
                k.cast("string"),
                F.lit("&utm_medium=m"),
                k.cast("string"),
            ),
        ).otherwise(F.concat(F.lit("?utm_campaign=c"), k.cast("string"))),
        F.lit("#f"),
        k.cast("string"),
    )
    raw = t.documents.select("doc_id", url.alias("url"))
    no_frag = F.regexp_replace("url", "#.*", "")
    steps = raw.select(
        "doc_id",
        no_frag.alias("no_frag"),
        F.regexp_extract(no_frag, "^[A-Za-z]+://[^/?]+", 0).alias("head"),
    )
    rest = F.expr("substr(no_frag, length(head) + 1)")
    tidy = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(rest, "utm_[a-z]+=[^&]*&?", ""), r"\?&", "?"
        ),
        "[?&]$",
        "",
    )
    canonical = F.regexp_replace(F.concat(F.lower("head"), tidy), "/$", "")
    return (
        steps.select("doc_id", canonical.alias("url_canonical"))
        .groupBy("url_canonical")
        .agg(
            F.min("doc_id").alias("winner_doc_id"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


# ---------------------------------------------------------- boilerplate_lines

_BP_CHUNK = 10  # words per pseudo-line
_BP_MIN_DOCS = 4  # chunk seen in >= this many docs of a source => boilerplate

_BP_ORACLE = f"""
WITH docs2 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 3 = 0
           THEN 'welcome to ' || source ||
                ' home page follow us on social media ' || text
           ELSE text END AS text
  FROM documents
),
w AS (
  SELECT doc_id, source, string_split(text, ' ') AS words FROM docs2
),
c AS (
  SELECT doc_id, source, CAST(i AS INTEGER) AS pos,
         md5(source || '|' ||
             array_to_string(words[i*{_BP_CHUNK}+1 : i*{_BP_CHUNK}+{_BP_CHUNK}], ' ')) AS ckey,
         array_to_string(words[i*{_BP_CHUNK}+1 : i*{_BP_CHUNK}+{_BP_CHUNK}], ' ') AS chunk
  FROM w, UNNEST(range(0, (len(words)+{_BP_CHUNK}-1)//{_BP_CHUNK})) AS t(i)
),
freq AS (
  SELECT ckey FROM c GROUP BY ckey
  HAVING COUNT(DISTINCT doc_id) >= {_BP_MIN_DOCS}
),
flagged AS (
  SELECT c.*, (freq.ckey IS NOT NULL) AS is_bp
  FROM c LEFT JOIN freq ON freq.ckey = c.ckey
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       CAST(1000000 * SUM(CASE WHEN is_bp THEN 1 ELSE 0 END) // COUNT(*)
            AS BIGINT) AS boiler_ppm,
       md5(string_agg(CASE WHEN NOT is_bp THEN chunk END, ' ' ORDER BY pos))
         AS clean_fp
FROM flagged
GROUP BY doc_id
"""


@register("boilerplate_lines", oracle=_BP_ORACLE)
def boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style boilerplate removal: a "line" that recurs
    across many documents of the SAME source (nav bars, footers,
    cookie banners, subscribe prompts) is template chrome, not
    content — drop it and keep the rest of the document. The corpus'
    word-soup text has no newlines, so pseudo-lines are fixed
    {_BP_CHUNK}-word chunks, and (as with pii_redact's injection) a
    deterministic per-source banner is prepended to every third
    document so the detector has real template mass to find; the
    oracle mirrors the injection.

    Scale shape: one explode pass reduces documents to (doc, pos,
    chunk-hash) rows; frequency counting shuffles the 16-byte
    source-salted chunk key with a map-side-combinable
    count-distinct-docs agg; only keys crossing the threshold —
    bounded above by |corpus|/{_BP_MIN_DOCS}, in practice the tiny
    template set — survive into the flag join, which is left
    UNHINTED so AQE picks broadcast when the flagged set is small
    and falls back to a partitioned join on adversarial corpora
    where it is not. Reassembly (the cleaned-text fingerprint)
    orders kept chunks by position inside a per-doc agg — no global
    sort, no text in any exchange except the chunk rows themselves."""
    t = load_tables(spark, sf_dir)
    banner = F.concat(
        F.lit("welcome to "),
        F.col("source"),
        F.lit(" home page follow us on social media "),
        F.col("text"),
    )
    docs2 = t.documents.select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") % 3 == 0, banner).otherwise(F.col("text")).alias(
            "text"
        ),
    )
    c = (
        docs2.select(
            "doc_id",
            "source",
            F.split("text", " ").alias("words"),
        )
        .select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.expr(f"(size(words) + {_BP_CHUNK - 1}) div {_BP_CHUNK} - 1"),
                )
            ).alias("pos"),
            F.col("words"),
        )
        .select(
            "doc_id",
            F.col("pos").cast("int").alias("pos"),
            F.expr(
                f"array_join(slice(words, pos*{_BP_CHUNK}+1, {_BP_CHUNK}), ' ')"
            ).alias("chunk"),
            F.md5(
                F.concat(
                    F.col("source"),
                    F.lit("|"),
                    F.expr(
                        f"array_join(slice(words, pos*{_BP_CHUNK}+1, {_BP_CHUNK}), ' ')"
                    ),
                )
            ).alias("ckey"),
        )
    )
    freq = (
        c.groupBy("ckey")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= _BP_MIN_DOCS)
        .select("ckey", F.lit(True).alias("is_bp"))
    )
    flagged = c.join(freq, "ckey", "left").withColumn(
        "is_bp", F.coalesce("is_bp", F.lit(False))
    )
    kept = F.when(~F.col("is_bp"), F.col("chunk"))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(F.col("is_bp").cast("bigint")).cast("bigint").alias("n_boiler"),
        F.expr(
            "cast(1000000 * sum(cast(is_bp as bigint)) div count(1) as bigint)"
        ).alias("boiler_ppm"),
        # NULL when no chunk survives: array_join drops NULL elements, so
        # an all-boilerplate doc would otherwise fingerprint as md5('')
        # while the oracle's string_agg over all-NULL yields NULL.
        F.when(
            F.sum((~F.col("is_bp")).cast("bigint")) > 0,
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("pos"), kept.alias("chunk"))
                            )
                        ),
                        lambda x: x.chunk,
                    ),
                    " ",
                )
            ),
        ).alias("clean_fp"),
    )


# --------------------------------------------------------- tokenizer_fertility

_FERTILITY_ORACLE = """
WITH docs2 AS (
  SELECT lang,
         CASE WHEN lang = 'en' THEN text
              WHEN lang = 'zh' THEN replace(text, ' ', '-- ')
              ELSE replace(text, ' ', '. ') END AS text
  FROM documents
),
t AS (
  SELECT lang,
         len(string_split(text, ' ')) AS ws_tokens,
         len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens
  FROM docs2
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ws_tokens) AS BIGINT) AS total_words,
       CAST(SUM(bpe_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(bpe_tokens) * 1000000 // SUM(ws_tokens) AS BIGINT)
         AS fertility_ppm
FROM t
GROUP BY lang
"""


def tokenizer_fertility_sql_form(docs: DataFrame) -> DataFrame:
    """SQL-expression form of tokenizer fertility over a (lang, text)
    frame — the executable SPEC for the Arrow fast twin that
    :func:`tokenizer_fertility` registers (bit-equality pinned in
    tests/test_round8_ops.py, including adversarial text shapes).
    Builds the decorated text2 and counts tokens with the honest
    per-char ``regexp_count`` — exactly the oracle's arithmetic."""
    text2 = (
        F.when(F.col("lang") == "en", F.col("text"))
        .when(
            F.col("lang") == "zh", F.expr("replace(text, ' ', '-- ')")
        )
        .otherwise(F.expr("replace(text, ' ', '. ')"))
    )
    per_doc = docs.select("lang", text2.alias("text")).select(
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("ws_tokens"),
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
        .cast("bigint")
        .alias("bpe_tokens"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("ws_tokens").cast("bigint").alias("total_words"),
        F.sum("bpe_tokens").cast("bigint").alias("total_tokens"),
        F.expr("sum(bpe_tokens) * 1000000 div sum(ws_tokens)")
        .cast("bigint")
        .alias("fertility_ppm"),
    )


def tokenizer_fertility_arrow(docs: DataFrame) -> DataFrame:
    """Arrow fast twin of :func:`tokenizer_fertility_sql_form`,
    bit-identical by construction (integer arithmetic only):

    - the per-language decoration is never materialized: replacing
      each ``' '`` with ``'. '`` (or ``'-- '``) inserts characters
      that (a) keep exactly one space per original space, so
      ``size(split(text2, ' ')) = n_spaces(text) + 1`` for EVERY
      language, and (b) tokenize as isolated single-char
      ``[^a-z0-9 ]`` matches adjacent to a space — they can never
      merge with or split a neighboring run — so
      ``bpe_tokens(text2) = bpe_tokens(text) + m·n_spaces`` with
      m = 0 (en), 1 (default), 2 (zh). The twin counts on the RAW
      text and adds the closed-form correction;
    - ``bpe_tokens(text)`` itself is run-counting over the batch's
      Arrow string buffer IN PLACE: ``pa.array`` hands back the
      concatenated UTF-8 bytes plus per-doc byte offsets with no
      Python-level copy, and one vectorized pass counts [a-z]+ run
      starts, [0-9]+ run starts, and other non-space LEAD bytes —
      UTF-8 continuation bytes (0x80–0xBF) are masked out, so every
      multi-byte character counts exactly once, matching Java's
      per-code-point regex (the adversarial spec test covers
      2/3/4-byte characters), and doc boundaries force run starts
      via the offset mask.

    At 100× data the registered operator's cost was the per-char Java
    regex alternation (BASELINE.md named it the largest honest-linear
    term at ~11s); this twin replaces it with numpy compare/shift
    passes at memory bandwidth (an earlier join+UTF-32 draft measured
    3× slower than this buffer-borrowing form — the copies, not the
    counting, were the cost). Plan shape is unchanged: map-only
    scan, one (lang, 3×int64) partial-agg exchange — the Python
    stage pre-aggregates per batch, so at most |langs| rows per batch
    cross Arrow back to the JVM."""
    import numpy as np
    import pyarrow as pa

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ta = pa.array(pdf["text"], type=pa.large_string())
            if ta.null_count:
                ta = ta.fill_null("")
            offs = np.frombuffer(
                ta.buffers()[1], dtype=np.int64, count=len(ta) + 1
            )
            nbytes = int(offs[-1])
            data = (
                np.frombuffer(ta.buffers()[2], dtype=np.uint8, count=nbytes)
                if nbytes
                else np.empty(0, np.uint8)
            )
            lens = np.diff(offs)
            is_alpha = (data >= 97) & (data <= 122)
            is_digit = (data >= 48) & (data <= 57)
            is_space = data == 32
            is_cont = (data & 0xC0) == 0x80
            first = np.zeros(nbytes, dtype=bool)
            first[offs[:-1][lens > 0]] = True
            prev_alpha = np.empty_like(is_alpha)
            prev_digit = np.empty_like(is_digit)
            if nbytes:
                prev_alpha[0] = False
                prev_alpha[1:] = is_alpha[:-1]
                prev_digit[0] = False
                prev_digit[1:] = is_digit[:-1]
            tok = (
                (is_alpha & (first | ~prev_alpha))
                | (is_digit & (first | ~prev_digit))
                | (~(is_alpha | is_digit | is_space) & ~is_cont)
            ).astype(np.int64)
            tok_cum = np.zeros(nbytes + 1, np.int64)
            np.cumsum(tok, out=tok_cum[1:])
            base_tokens = tok_cum[offs[1:]] - tok_cum[offs[:-1]]
            sp_cum = np.zeros(nbytes + 1, np.int64)
            np.cumsum(is_space.astype(np.int64), out=sp_cum[1:])
            n_spaces = sp_cum[offs[1:]] - sp_cum[offs[:-1]]
            lang = pdf["lang"].astype(str).to_numpy()
            m = np.where(lang == "en", 0, np.where(lang == "zh", 2, 1))
            out = pd.DataFrame(
                {
                    "lang": lang,
                    "ws_tokens": n_spaces + 1,
                    "bpe_tokens": base_tokens + m * n_spaces,
                }
            )
            yield (
                out.groupby("lang", sort=False)
                .agg(
                    n_docs=("ws_tokens", "size"),
                    total_words=("ws_tokens", "sum"),
                    total_tokens=("bpe_tokens", "sum"),
                )
                .reset_index()
            )

    partials = docs.select("lang", "text").mapInPandas(
        run,
        "lang string, n_docs long, total_words long, total_tokens long",
    )
    return partials.groupBy("lang").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("total_words").cast("bigint").alias("total_words"),
        F.sum("total_tokens").cast("bigint").alias("total_tokens"),
        F.expr("sum(total_tokens) * 1000000 div sum(total_words)")
        .cast("bigint")
        .alias("fertility_ppm"),
    )


@register("tokenizer_fertility", oracle=_FERTILITY_ORACLE)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (tokens emitted per whitespace
    word, in ppm) using the same BPE-ish regex tokenizer as
    ``token_count``. Fertility is the multiplier between a corpus'
    word count and its actual training-token bill — the number that
    decides per-language token budgets and flags languages the
    tokenizer fragments (fertility ≫ 1e6 means each word splinters
    into many tokens, degrading effective context length for that
    language).

    The synthetic corpus' word-soup text tokenizes at exactly 1.0
    everywhere, so (as with pii_redact's and boilerplate_lines'
    injections) a deterministic per-language decoration plants the
    effect being measured: non-English words gain punctuation the
    regex tokenizer splits off (one extra token per word for most,
    two for 'zh' — standing in for scripts real BPE vocabularies
    fragment); the oracle mirrors the injection.

    Executes the Arrow twin (:func:`tokenizer_fertility_arrow`) —
    the SQL-expression spec is :func:`tokenizer_fertility_sql_form`,
    bit-equality pinned in tests. Scale shape: map-only scan with
    per-batch partial aggregation in the Arrow stage (≤ |langs| rows
    per batch cross back to the JVM); the only exchange carries
    (lang, 3 int64 partials) with map-side combine, output bounded by
    |languages|. Integer ppm via bigint floor-div keeps the oracle
    exact."""
    t = load_tables(spark, sf_dir)
    return tokenizer_fertility_arrow(t.documents)


# --------------------------------------------------------------- robots_filter

# Crawl-politeness frontier filtering: before a crawler fetches, every
# URL checks its host's robots rules. Rules here are the simple-prefix
# subset of robots.txt (Disallow: /path — no wildcards, no Allow
# longest-match override; the reference's scraper enforces politeness
# by rate, web_scraping.py:139-286 — a 100 TB crawl must ALSO enforce
# it by rule). The rule table is synthesized per host: every host
# disallows /private/, even-numbered hosts also disallow /tmp/.

_ROBOTS_ORACLE = """
WITH frontier AS (
  SELECT doc_id,
         'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS host,
         CASE CAST(doc_id % 4 AS INTEGER)
           WHEN 0 THEN '/page' || CAST(doc_id AS VARCHAR)
           WHEN 1 THEN '/private/' || CAST(doc_id AS VARCHAR)
           WHEN 2 THEN '/tmp/' || CAST(doc_id AS VARCHAR)
           ELSE '/assets/img' || CAST(doc_id AS VARCHAR)
         END AS path
  FROM documents
),
rules AS (
  SELECT 'site' || CAST(h.range AS VARCHAR) || '.example.com' AS host,
         unnest(CASE WHEN h.range % 2 = 0
                THEN ['/private/', '/tmp/']
                ELSE ['/private/'] END) AS dis
  FROM range(0, 20) h
),
flagged AS (
  SELECT f.doc_id, f.host,
         COALESCE(MAX(CASE WHEN f.path LIKE r.dis || '%'
                           THEN 1 ELSE 0 END), 0) AS blocked
  FROM frontier f LEFT JOIN rules r ON f.host = r.host
  GROUP BY f.doc_id, f.host
)
SELECT host,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(SUM(blocked) AS BIGINT) AS n_blocked,
       CAST(COUNT(*) - SUM(blocked) AS BIGINT) AS n_allowed
FROM flagged GROUP BY host
"""


@register("robots_filter", oracle=_ROBOTS_ORACLE)
def robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier filtering against per-host robots rules — the
    rule-compliance half of crawl politeness (sources/fetch.py is the
    rate half): each URL's path is prefix-matched against its host's
    broadcast Disallow list; the rollup reports per host how much of
    the frontier survives.

    Scale shape: the rule table is host-cardinality (KBs for millions
    of hosts) and BROADCASTS; the frontier joins it map-side — no
    frontier shuffle until the per-host rollup of 3 int64s. Per-URL
    decisions are two string intrinsics (startswith over ≤2 prefixes).
    A real deployment swaps the synthesized rules for
    ``sources/fetch.py::robots_rules_table`` — the robots.txt parser
    producing this exact (host, prefix-array) schema from fetched
    bodies (group semantics, agent fallback; tested wired into this
    same broadcast-exists flagging)."""
    t = load_tables(spark, sf_dir)
    k = F.col("doc_id")
    frontier = t.documents.select(
        "doc_id",
        F.concat(
            F.lit("site"), (k % 20).cast("string"), F.lit(".example.com")
        ).alias("host"),
        F.when(k % 4 == 0, F.concat(F.lit("/page"), k.cast("string")))
        .when(k % 4 == 1, F.concat(F.lit("/private/"), k.cast("string")))
        .when(k % 4 == 2, F.concat(F.lit("/tmp/"), k.cast("string")))
        .otherwise(F.concat(F.lit("/assets/img"), k.cast("string")))
        .alias("path"),
    )
    # one prefix ARRAY per host (not one row per rule): the per-URL
    # decision becomes a map-side exists() over ≤2 prefixes, so the
    # frontier is NEVER shuffled at URL granularity — the only
    # exchange is the host rollup, which map-side combines to
    # |hosts| rows per task. (A per-rule row join would force a
    # frontier-sized (doc, host) re-aggregation first — measured as
    # an extra full exchange in the plan audit.)
    rules = F.broadcast(
        spark.range(0, 20).select(
            F.concat(
                F.lit("site"), F.col("id").cast("string"), F.lit(".example.com")
            ).alias("host"),
            F.when(
                F.col("id") % 2 == 0,
                F.array(F.lit("/private/"), F.lit("/tmp/")),
            )
            .otherwise(F.array(F.lit("/private/")))
            .alias("dis"),
        )
    )
    flagged = frontier.join(rules, "host", "left").select(
        "host",
        F.coalesce(
            F.expr("exists(dis, p -> startswith(path, p))"), F.lit(False)
        )
        .cast("int")
        .alias("blocked"),
    )
    return flagged.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.sum("blocked").cast("bigint").alias("n_blocked"),
        (F.count(F.lit(1)) - F.sum("blocked")).cast("bigint").alias("n_allowed"),
    )


# ---------------------------------------------------------------- gopher_rules

_GOPHER_ORACLE = """
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
),
s AS (
  SELECT doc_id, source,
         len(ws) AS n_words,
         len(list_distinct(ws)) AS n_distinct,
         list_sum(list_transform(ws, x -> len(x))) AS sum_len,
         len(list_filter(ws, x -> x IN ('a', 'the'))) AS n_stop
  FROM w
),
f AS (
  SELECT source,
         CASE WHEN n_words < 20 OR n_words > 80 THEN 1 ELSE 0 END AS f_wc,
         CASE WHEN 4 * n_words > sum_len OR sum_len > 5 * n_words
              THEN 1 ELSE 0 END AS f_mwl,
         CASE WHEN n_stop < 2 THEN 1 ELSE 0 END AS f_stop,
         CASE WHEN 5 * n_distinct < 2 * n_words THEN 1 ELSE 0 END AS f_rep
  FROM s
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(f_wc) AS BIGINT) AS fail_word_count,
       CAST(SUM(f_mwl) AS BIGINT) AS fail_mean_word_len,
       CAST(SUM(f_stop) AS BIGINT) AS fail_stopword,
       CAST(SUM(f_rep) AS BIGINT) AS fail_repetition,
       CAST(SUM(CASE WHEN f_wc + f_mwl + f_stop + f_rep = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
FROM f GROUP BY source
"""


@register("gopher_rules", oracle=_GOPHER_ORACLE)
def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style multi-rule quality audit (Rae et al. 2021 §A1.1
    adapted to the synthetic corpus): word-count bounds, mean-word-
    length band, minimum stop-word evidence, and a distinct-token
    repetition floor — reported as per-rule failure counts plus the
    all-rules keep count, rolled up per source so a threshold change
    shows WHICH rule bites WHERE before anything is dropped.

    Reference parity: the reference keeps only `validate_report`-style
    row screening (pdf_extraction.py's field sanity checks); this is
    the corpus-level generalization a pretraining pipeline runs.

    Every threshold is cross-multiplied integer arithmetic (no FP
    division anywhere), so the keep decision is bit-identical across
    engines and replay-stable. Scale shape: all four rules evaluate
    inside the single documents scan with NO interpreted higher-order
    function (the scan-dominant hot spot measured on other text ops):
    sum-of-word-lengths folds to ``length(text) - (n_words - 1)``
    (splitting on a single space makes word count = space count + 1
    for every input, including empty and consecutive-space texts),
    and the stop-word count is a pair of codegen'd ``array_remove``
    size deltas — no lambda, no explode, the token array never leaves
    the row. The only exchange is the bounded per-source rollup,
    which map-side combines to |sources| rows per task. At 100 TB
    the scan dominates and nothing else grows."""
    t = load_tables(spark, sf_dir)
    ws = F.split("text", " ")
    doc = t.documents.select(
        "source",
        F.size(ws).alias("n_words"),
        F.size(F.array_distinct(ws)).alias("n_distinct"),
        (F.length("text").cast("long") - F.size(ws) + 1).alias("sum_len"),
        (
            F.size(ws)
            - F.size(F.array_remove(F.array_remove(ws, "a"), "the"))
        ).alias("n_stop"),
    )
    f_wc = F.when(
        (F.col("n_words") < 20) | (F.col("n_words") > 80), 1
    ).otherwise(0)
    f_mwl = F.when(
        (4 * F.col("n_words") > F.col("sum_len"))
        | (F.col("sum_len") > 5 * F.col("n_words")),
        1,
    ).otherwise(0)
    f_stop = F.when(F.col("n_stop") < 2, 1).otherwise(0)
    f_rep = F.when(5 * F.col("n_distinct") < 2 * F.col("n_words"), 1).otherwise(0)
    flags = doc.select(
        "source",
        f_wc.alias("f_wc"),
        f_mwl.alias("f_mwl"),
        f_stop.alias("f_stop"),
        f_rep.alias("f_rep"),
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("f_wc").cast("bigint").alias("fail_word_count"),
        F.sum("f_mwl").cast("bigint").alias("fail_mean_word_len"),
        F.sum("f_stop").cast("bigint").alias("fail_stopword"),
        F.sum("f_rep").cast("bigint").alias("fail_repetition"),
        F.sum(
            F.when(
                F.col("f_wc") + F.col("f_mwl") + F.col("f_stop") + F.col("f_rep")
                == 0,
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_keep"),
    )


# ------------------------------------------------------------------- c4_rules

_C4_LINE = 10  # words per pseudo-line (same convention as boilerplate_lines)

_C4_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum ' || text
              WHEN doc_id % 11 = 0 THEN '{{ ' || text
              ELSE text END AS text
  FROM documents
),
w AS (
  SELECT doc_id, source, text, string_split(text, ' ') AS words FROM d
),
l AS (
  SELECT doc_id, source,
         array_to_string(
           words[i*{_C4_LINE}+1 : i*{_C4_LINE}+{_C4_LINE}], ' ')
         || CASE WHEN (doc_id + i) % 3 <> 2 THEN '.' ELSE '' END AS line
  FROM w, UNNEST(range(0, (len(words)+{_C4_LINE}-1)//{_C4_LINE})) AS t(i)
),
per_line AS (
  SELECT doc_id, source,
         CASE WHEN ends_with(line, '.')
                   AND len(string_split(line, ' ')) >= 3
              THEN 1 ELSE 0 END AS kept
  FROM l
),
per_doc AS (
  SELECT p.doc_id, p.source,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(p.kept) AS BIGINT) AS kept_lines,
         CASE WHEN contains(min(d.text), 'lorem ipsum') THEN 1 ELSE 0
           END AS f_lorem,
         CASE WHEN contains(min(d.text), '{{') THEN 1 ELSE 0 END AS f_brace
  FROM per_line p JOIN d ON d.doc_id = p.doc_id
  GROUP BY p.doc_id, p.source
),
flags AS (
  SELECT source, n_lines, kept_lines, f_lorem, f_brace,
         CASE WHEN kept_lines < 3 THEN 1 ELSE 0 END AS f_short
  FROM per_doc
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_lines) AS BIGINT) AS n_lines,
       CAST(SUM(kept_lines) AS BIGINT) AS n_lines_kept,
       CAST(SUM(f_lorem) AS BIGINT) AS drop_lorem,
       CAST(SUM(f_brace) AS BIGINT) AS drop_brace,
       CAST(SUM(f_short) AS BIGINT) AS drop_short,
       CAST(SUM(CASE WHEN f_lorem + f_brace + f_short = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_keep
FROM flags GROUP BY source
"""


@register("c4_rules", oracle=_C4_ORACLE)
def c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style LINE-level cleaning audit (Raffel et al. 2020 §2.2) —
    the complement of ``gopher_rules``' doc-level heuristics: a line
    survives only if it ends in terminal punctuation AND carries at
    least 3 words; a document survives only if at least 3 of its lines
    do and it contains neither the 'lorem ipsum' placeholder nor a
    curly brace (the code-page tell). Reported per source as line- and
    doc-level keep counts plus one column per drop reason, so a corpus
    owner sees WHICH rule removes HOW MUCH from WHERE before deleting
    anything.

    The synthetic corpus' word-soup has no newlines or punctuation, so
    (exactly as boilerplate_lines and pii_redact do) deterministic
    injection plants every effect being measured: pseudo-lines are
    fixed {_C4_LINE}-word chunks, two of every three lines gain a
    trailing period, every 7th document is prefixed with 'lorem
    ipsum', every 11th (that isn't a 7th) with '{{'; short-line
    variation comes free from each document's natural tail chunk. The
    oracle mirrors the injection; the PREDICATES (ends_with, per-line
    word count, substring containment) run on real strings, not on
    the injection arithmetic.

    Reference parity: the reference's only text screening is row-wise
    field validation (pdf_to_db.py:259-299); this is the corpus-level
    page/line cleaning a pretraining pipeline runs first.

    Scale shape: doc-level flags are two codegen'd ``contains`` in the
    scan; the explode is a narrow generate whose per-line predicate is
    codegen string intrinsics (``endswith`` + split-size — no lambda,
    no interpreted HOF); partial aggregation collapses each task's
    lines to one (doc, 2×int64) row BEFORE the doc-keyed exchange, and
    the final source rollup map-side combines to |sources| rows per
    task. Line text never crosses an exchange. At 100 TB both
    exchanges carry scalars only and the scan dominates."""
    t = load_tables(spark, sf_dir)
    k = F.col("doc_id")
    text2 = (
        F.when(k % 7 == 0, F.concat(F.lit("lorem ipsum "), F.col("text")))
        .when(k % 11 == 0, F.concat(F.lit("{ "), F.col("text")))
        .otherwise(F.col("text"))
    )
    base = t.documents.select("doc_id", "source", text2.alias("text"))
    line = F.concat(
        F.expr(
            f"array_join(slice(words, pos*{_C4_LINE}+1, {_C4_LINE}), ' ')"
        ),
        F.when((k + F.col("pos")) % 3 != 2, F.lit(".")).otherwise(F.lit("")),
    )
    lines = (
        base.select(
            "doc_id",
            "source",
            F.contains("text", F.lit("lorem ipsum")).cast("int").alias("f_lorem"),
            F.contains("text", F.lit("{")).cast("int").alias("f_brace"),
            F.split("text", " ").alias("words"),
        )
        .select(
            "doc_id",
            "source",
            "f_lorem",
            "f_brace",
            "words",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.expr(f"(size(words) + {_C4_LINE - 1}) div {_C4_LINE} - 1"),
                )
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "source",
            "f_lorem",
            "f_brace",
            line.alias("line"),
        )
        .select(
            "doc_id",
            "source",
            "f_lorem",
            "f_brace",
            (
                F.col("line").endswith(".")
                & (F.size(F.split("line", " ")) >= 3)
            )
            .cast("int")
            .alias("kept"),
        )
    )
    per_doc = lines.groupBy("doc_id", "source", "f_lorem", "f_brace").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("kept").cast("bigint").alias("kept_lines"),
    )
    flags = per_doc.select(
        "source",
        "n_lines",
        "kept_lines",
        "f_lorem",
        "f_brace",
        F.when(F.col("kept_lines") < 3, 1).otherwise(0).alias("f_short"),
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_lines").cast("bigint").alias("n_lines"),
        F.sum("kept_lines").cast("bigint").alias("n_lines_kept"),
        F.sum("f_lorem").cast("bigint").alias("drop_lorem"),
        F.sum("f_brace").cast("bigint").alias("drop_brace"),
        F.sum("f_short").cast("bigint").alias("drop_short"),
        F.sum(
            F.when(
                F.col("f_lorem") + F.col("f_brace") + F.col("f_short") == 0, 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_keep"),
    )


# ----------------------------------------------------------- lm_quality_buckets

_LM_REF_SOURCE = "src0"  # the clean reference domain the LM trains on
_LM_MINSUP = 3

_LM_ORACLE = f"""
WITH ws AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
),
big AS (
  SELECT doc_id, source,
         a.w1 || ' ' || b.w2 AS bg
  FROM (
    SELECT doc_id, source, unnest(w) AS w1,
           generate_subscripts(w, 1) AS pos
    FROM ws
  ) a
  JOIN (
    SELECT doc_id, unnest(w) AS w2,
           generate_subscripts(w, 1) AS pos
    FROM ws
  ) b USING (doc_id)
  WHERE b.pos = a.pos + 1
),
lm AS (
  SELECT bg,
         CAST(length(CAST(COUNT(*) AS VARCHAR)) AS BIGINT) AS digits
  FROM big WHERE source = '{_LM_REF_SOURCE}'
  GROUP BY bg HAVING COUNT(*) >= {_LM_MINSUP}
),
maxd AS (SELECT CAST(MAX(digits) AS BIGINT) AS maxd FROM lm),
scored AS (
  SELECT big.doc_id, big.source,
         CAST(COUNT(*) AS BIGINT) AS n_bi,
         CAST(SUM(maxd.maxd - COALESCE(lm.digits, 0)) AS BIGINT) AS cost
  FROM big
  LEFT JOIN lm ON lm.bg = big.bg
  CROSS JOIN maxd
  GROUP BY big.doc_id, big.source
),
bucketed AS (
  SELECT source,
         CAST((1000000 * cost // (n_bi * maxd.maxd)) // 100000 AS BIGINT)
           AS bucket,
         CAST(1000000 * cost // (n_bi * maxd.maxd) AS BIGINT) AS ppm
  FROM scored CROSS JOIN maxd
)
SELECT source, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ppm) AS BIGINT) AS sum_ppm
FROM bucketed GROUP BY source, bucket
"""


@register("lm_quality_buckets", oracle=_LM_ORACLE)
def lm_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality bucketing (Wenzek et al. 2020) with an
    INTEGER n-gram LM: a bigram table counted on one clean reference
    domain ({_LM_REF_SOURCE!r} — CCNet's Wikipedia stand-in) scores every
    document by per-bigram cost, where cost is the digit-width gap
    ``max_digits − digits(count)`` (a log₁₀ surrogate that needs no
    libm): frequent reference bigrams cost little, unseen ones cost
    the maximum — exactly the head/middle/tail perplexity bucketing
    CCNet uses to stratify a crawl, but bit-identical across engines.
    Output is the (source × decile-bucket) histogram with ppm mass, so
    a curation run sees which domains concentrate in the tail before
    dropping anything.

    Scale shape: bigrams explode map-side from each doc's word array
    (the bigram_lift shape — no pos self-join; the oracle uses one as
    the cross-check); the LM table is HAVING-floored to the reference
    domain's repeated bigrams and BROADCASTS (vocab²-of-one-domain,
    KBs–MBs); the per-doc agg collapses each task's bigram rows to
    (doc_id, 2×int64) before its exchange, and the rollup is bounded
    by |sources| × 11 buckets. Unseen bigrams never enter any shuffle
    — the cost fold happens in the broadcast-join projection."""
    t = load_tables(spark, sf_dir)
    ws = t.documents.select("doc_id", "source", F.split("text", " ").alias("w"))
    big = ws.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1),"
                " (a, b) -> concat(a, ' ', b))"
            )
        ).alias("bg"),
    )
    # cached: both the broadcast join AND the maxd scalar consume lm —
    # without the barrier each re-runs the reference-slice bigram agg
    # (the heavy input), exactly hashed_shingles' multi-consumer case
    lm = (
        big.filter(F.col("source") == _LM_REF_SOURCE)
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _LM_MINSUP)
        .select(
            "bg",
            F.length(F.col("n").cast("string")).cast("bigint").alias("digits"),
        )
        .cache()
    )
    maxd = lm.agg(F.max("digits").alias("maxd"))
    scored = (
        big.join(F.broadcast(lm), "bg", "left")
        .crossJoin(F.broadcast(maxd))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bi"),
            F.sum(F.col("maxd") - F.coalesce(F.col("digits"), F.lit(0)))
            .cast("bigint")
            .alias("cost"),
            F.max("maxd").alias("maxd"),
        )
    )
    bucketed = scored.select(
        "source",
        F.expr("(1000000 * cost div (n_bi * maxd)) div 100000")
        .cast("bigint")
        .alias("bucket"),
        F.expr("1000000 * cost div (n_bi * maxd)")
        .cast("bigint")
        .alias("ppm"),
    )
    return bucketed.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("ppm").cast("bigint").alias("sum_ppm"),
    )


# --------------------------------------------------------------- bpe_pair_counts

# One iteration of BPE tokenizer training at corpus scale: the merge
# candidate table. Classic formulation (Sennrich et al. 2016): words
# are symbol sequences ending in an end-of-word marker; the trainer
# repeatedly merges the most frequent adjacent pair. The expensive,
# data-sized step is exactly this count — everything after runs on the
# vocabulary.
_BPE_TOPK = 30
_BPE_EOW = "</w>"

_BPE_ORACLE = f"""
WITH wf AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> ''
  GROUP BY word
),
pairs AS (
  SELECT substr(word, i, 1) AS a,
         CASE WHEN i < length(word) THEN substr(word, i + 1, 1)
              ELSE '{_BPE_EOW}' END AS b,
         cnt
  FROM wf, UNNEST(range(1, length(word) + 1)) u(i)
),
totals AS (
  SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS n_pair
  FROM pairs GROUP BY a, b
)
SELECT CAST(rk AS INTEGER) AS rank, a, b, n_pair FROM (
  SELECT a, b, n_pair,
         row_number() OVER (ORDER BY n_pair DESC, a, b) AS rk
  FROM totals
) WHERE rk <= {_BPE_TOPK}
"""


@register("bpe_pair_counts", oracle=_BPE_ORACLE)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-sized step of BPE tokenizer training: adjacent
    symbol-pair frequencies (with the ``</w>`` end-of-word marker),
    ranked — the merge-candidate table one induction iteration reads.
    Training a tokenizer ON the 100 TB corpus it will tokenize is a
    standard pipeline stage, and this count is the only part that
    touches all the data.

    Scale shape: the trick production BPE trainers use is pinned in the
    plan — count WORDS first (one corpus-sized exchange of (word,
    partial-count) pairs, combined map-side), then explode character
    pairs over the DISTINCT vocabulary, so the per-character work is
    vocab-bounded, not corpus-bounded: a 100× corpus with a stable
    vocabulary pays ~1× for every stage after the word count. The
    final rank is a WindowGroupLimit top-k over the (symbol, symbol)
    domain."""
    t = load_tables(spark, sf_dir)
    wf = (
        t.documents.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pair_arr = F.expr(
        "transform(sequence(1, length(word)), i -> struct("
        "substr(word, i, 1) as a, "
        f"case when i < length(word) then substr(word, i + 1, 1) "
        f"else '{_BPE_EOW}' end as b))"
    )
    totals = (
        wf.select(F.explode(pair_arr).alias("p"), "cnt")
        .groupBy("p.a", "p.b")
        .agg(F.sum("cnt").alias("n_pair"))
    )
    w = Window.orderBy(F.col("n_pair").desc(), "a", "b")
    return (
        totals.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _BPE_TOPK)
        .select("rank", "a", "b", "n_pair")
    )


# --------------------------------------------------------------- bpe_train_steps

_BPE_STEPS = 3

# Padded spaced-symbol form: ' h e l l o </w> '. Merges apply as PLAIN
# string replace of ' a b ' with ' ab ' — left-to-right non-overlapping
# in both engines (verified on runs: ' a a a a ' -> ' aa a a ' in Spark
# AND DuckDB — adjacent occurrences sharing a boundary space are
# skipped; classic BPE differs only on runs of identical symbols, a
# documented nuance of the space-delimited encoding, identical across
# engines so the oracle stays exact).
_BPE_SYM_DUCK = (
    "' ' || array_to_string(list_transform(range(1, length(word) + 1), "
    "i -> substr(word, i, 1)), ' ') || ' </w> '"
)
_BPE_SYM_SPARK = (
    "concat(' ', array_join(transform(sequence(1, length(word)), "
    "i -> substr(word, i, 1)), ' '), ' </w> ')"
)


def _bpe_pairs_duck(vocab_cte: str) -> str:
    """(a, b, n) weighted adjacent-pair counts over a (sym, cnt) CTE."""
    return f"""
  SELECT arr[j] AS a, arr[j + 1] AS b, CAST(SUM(cnt) AS BIGINT) AS n
  FROM (SELECT string_split(trim(sym), ' ') AS arr, cnt FROM {vocab_cte}),
       UNNEST(range(1, len(arr))) u(j)
  GROUP BY 1, 2
"""


def _bpe_train_ctes() -> list[str]:
    """The shared training CTE chain: wf/v0 plus, per step s,
    pair counts p{s}, the selected merge t{s} (1 row), and the merged
    vocabulary v{s}. Used by both the training oracle and the
    tokenize-apply oracle."""
    ctes = [
        f"""wf AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
v0 AS (SELECT {_BPE_SYM_DUCK} AS sym, cnt FROM wf)"""
    ]
    for s in range(1, _BPE_STEPS + 1):
        prev = f"v{s - 1}"
        ctes.append(f"p{s} AS ({_bpe_pairs_duck(prev)})")
        ctes.append(
            f"t{s} AS (SELECT a, b, n FROM p{s} "
            f"ORDER BY n DESC, a, b LIMIT 1)"
        )
        ctes.append(
            f"v{s} AS (SELECT replace(sym, ' ' || t.a || ' ' || t.b || ' ', "
            f"' ' || t.a || t.b || ' ') AS sym, cnt "
            f"FROM {prev} CROSS JOIN t{s} t)"
        )
    return ctes


def _bpe_oracle() -> str:
    selects = [
        f"SELECT {s} AS step, a, b, n FROM t{s}"
        for s in range(1, _BPE_STEPS + 1)
    ]
    return (
        "WITH " + ",\n".join(_bpe_train_ctes()) + "\n"
        + "\nUNION ALL\n".join(selects)
    )


_BPE_STEPS_ORACLE = _bpe_oracle()


@register("bpe_train_steps", oracle=_BPE_STEPS_ORACLE)
def bpe_train_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, {_BPE_STEPS} full iterations: count
    adjacent symbol pairs over the weighted vocabulary, select the top
    merge (count-desc, pair-asc tie-break), APPLY it to every word's
    symbol sequence, repeat — ``bpe_pair_counts`` is one census; this
    is the training loop. Output: one row per learned merge.

    Scale shape: the kmeans_iterate pattern for tokenizer induction —
    the corpus is touched ONCE (the word-frequency count);
    every iteration runs on the distinct vocabulary (pairs explode
    from ≤ vocab×word-length symbols, merge application is one
    in-scan string replace), and the driver round-trip per iteration
    collects exactly ONE row (the selected merge), exactly like
    kmeans_iterate's k centroids. Merge application is plain
    space-padded string replace — left-to-right, non-overlapping,
    verified bit-identical across engines including on
    identical-symbol runs.

    Scope bound: the loop collects ONE row per merge, so it is sized
    for small merge counts ({_BPE_STEPS} here) — exact sequential BPE
    as the spec. A production 32k-merge train must batch merges per
    round-trip instead; that is ``bpe_train_batched`` ({_BPEB_K}
    rank-order-folded merges per collect), registered alongside this
    operator."""
    t = load_tables(spark, sf_dir)
    wf = (
        t.documents.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = wf.select(F.expr(_BPE_SYM_SPARK).alias("sym"), "cnt")
    return spark.createDataFrame(
        _bpe_learn_merges(vocab),
        "step int, a string, b string, n bigint",
    )


def _bpe_learn_merges(
    vocab: DataFrame, observe=None
) -> list[tuple[int, str, str, int]]:
    """Run the select-apply-recount loop over a (sym, cnt) vocabulary
    frame; returns the learned merges. One vocabulary-sized frame
    iterates; caching it avoids re-running the corpus word count every
    step (kmeans_iterate's persist). ``observe(vocab_df)``, when given,
    is called on the INITIAL vocabulary and again after every applied
    merge, appending its return to the ``observations`` list the
    caller passed in as ``observe.sink`` — the hook tokenizer_vocab_prune
    uses to read the weighted symbol total without duplicating this
    loop (the single copy of the size(arr)>=2 collapse guard, the
    tie-break, and the padded-replace application)."""
    vocab = vocab.persist()
    out_rows: list[tuple[int, str, str, int]] = []
    if observe is not None:
        observe.sink.append(observe(vocab))
    try:
        for step in range(1, _BPE_STEPS + 1):
            arr = F.split(F.trim("sym"), " ")
            pair_arr = F.expr(
                "transform(sequence(1, size(arr) - 1), "
                "j -> struct(element_at(arr, j) as a, "
                "element_at(arr, j + 1) as b))"
            )
            pairs = (
                vocab.select(arr.alias("arr"), "cnt")
                # a fully-merged (single-symbol) word contributes no
                # pairs — and without this guard sequence(1, 0) yields
                # the DESCENDING [1, 0] in Spark, so element_at(arr, 0)
                # errors; the oracle's range(1, len) is simply empty
                .filter(F.size("arr") >= 2)
                .select(F.explode(pair_arr).alias("p"), "cnt")
                .groupBy("p.a", "p.b")
                .agg(F.sum("cnt").alias("n"))
            )
            top_rows = pairs.orderBy(
                F.col("n").desc(), "a", "b"
            ).limit(1).collect()
            if not top_rows:
                break  # every word fully collapsed — nothing to merge
            top = top_rows[0]
            out_rows.append((step, top.a, top.b, top.n))
            # F.replace with lit() arguments — symbols come from corpus
            # text, so never string-interpolate them into SQL
            merged = vocab.select(
                F.replace(
                    "sym",
                    F.lit(f" {top.a} {top.b} "),
                    F.lit(f" {top.a}{top.b} "),
                ).alias("sym"),
                "cnt",
            )
            merged = merged.persist()
            vocab.unpersist()
            vocab = merged
            if observe is not None:
                observe.sink.append(observe(vocab))
    finally:
        vocab.unpersist()
    return out_rows


# ------------------------------------------------------------ bpe_train_batched

# Production-merge-count BPE: one driver round-trip per ROUND of k
# merges, not per merge — the answer to bpe_train_steps' documented
# scope bound (32k merges can't pay 32k collects). Per round the top
# k pairs by (n desc, a, b) are all accepted and applied as ONE
# sequential fold of space-padded replaces in rank order — both
# engines fold identically (nested F.replace / DuckDB list_reduce),
# and the space-delimited patterns are token-boundary-safe: a merge
# glues its symbols with no internal space, so no later pattern can
# falsely match inside an earlier merge's output. The documented
# trade vs merge-at-a-time BPE: counts are one round stale for merges
# 2..k of a batch (a lower-ranked merge may find fewer — or zero —
# occurrences after the earlier replaces land), so the merge LIST can
# differ from bpe_train_steps' — both stay registered, the sequential
# loop as the spec and this as the scale path. (A symbol-disjointness
# filter — classic conflict-free batching — was measured to starve on
# small alphabets: on this corpus only 2 of the top 8 pairs survive,
# because nearly every frequent pair shares a letter with a
# higher-ranked one. Rank-order folding needs no filter to stay
# deterministic.)
_BPEB_ROUNDS = 2
_BPEB_K = 8


def _bpeb_oracle() -> str:
    ctes = [_bpe_train_ctes()[0]]
    for r in range(1, _BPEB_ROUNDS + 1):
        prev = f"bv{r - 1}" if r > 1 else "v0"
        ctes.append(f"bp{r} AS ({_bpe_pairs_duck(prev)})")
        ctes.append(f"""bacc{r} AS (
  SELECT a, b, n, CAST(ark AS INT) AS ark FROM (
    SELECT a, b, n,
           row_number() OVER (ORDER BY n DESC, a, b) AS ark
    FROM bp{r}
  ) WHERE ark <= {_BPEB_K}
)""")
        ctes.append(
            f"bm{r} AS (SELECT list(a || ' ' || b ORDER BY ark) AS ms "
            f"FROM bacc{r})"
        )
        ctes.append(f"""bv{r} AS (
  SELECT list_reduce(list_prepend(sym, m.ms),
    (acc, x) -> replace(acc,
      ' ' || split_part(x, ' ', 1) || ' ' || split_part(x, ' ', 2) || ' ',
      ' ' || split_part(x, ' ', 1) || split_part(x, ' ', 2) || ' ')) AS sym,
    cnt
  FROM {prev} CROSS JOIN bm{r} m
)""")
    selects = [
        f"SELECT CAST({r} AS INT) AS rnd, ark, a, b, n FROM bacc{r}"
        for r in range(1, _BPEB_ROUNDS + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


_BPEB_ORACLE = _bpeb_oracle()


@register("bpe_train_batched", oracle=_BPEB_ORACLE)
def bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training at production merge counts: {_BPEB_ROUNDS} rounds ×
    {_BPEB_K} merges per round — {_BPEB_ROUNDS × _BPEB_K} merges for
    {_BPEB_ROUNDS} driver round-trips, where ``bpe_train_steps`` pays
    one collect PER merge (its documented scope bound). Each round's
    top-k pairs apply as one sequential fold of space-padded replaces
    in rank order; counts are one round stale for merges 2..k (the
    standard batched-trainer trade, see the module comment). Output:
    (rnd, ark, a, b, n) per learned merge.

    Scale shape: identical to bpe_train_steps — corpus touched once
    (the word count), every round runs on the distinct vocabulary —
    but the driver loop is rounds-deep, not merges-deep: 32k merges
    at k=256 is 125 round-trips of k tiny rows, each applying its
    batch as one in-scan replace chain."""
    t = load_tables(spark, sf_dir)
    wf = (
        t.documents.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = wf.select(F.expr(_BPE_SYM_SPARK).alias("sym"), "cnt")
    out_rows = _bpe_train_batched_loop(vocab, _BPEB_ROUNDS, _BPEB_K)
    return spark.createDataFrame(
        out_rows, "rnd int, ark int, a string, b string, n bigint"
    )


def _bpe_train_batched_loop(
    vocab: DataFrame, rounds: int, k: int
) -> list[tuple[int, int, str, str, int]]:
    """The batched select-apply loop over a (sym, cnt) vocabulary:
    exactly ONE collect (of ≤ k tiny rows) per round — rounds-deep,
    never merges-deep — each batch folded as a chain of space-padded
    replaces in rank order. Stops early when a round finds no pairs
    (every word fully collapsed). Parameterized so tests can exercise
    production depth (e.g. 8 rounds × k=32) on a small vocabulary."""
    vocab = vocab.persist()
    out_rows: list[tuple[int, int, str, str, int]] = []
    try:
        for rnd in range(1, rounds + 1):
            arr = F.split(F.trim("sym"), " ")
            pair_arr = F.expr(
                "transform(sequence(1, size(arr) - 1), "
                "j -> struct(element_at(arr, j) as a, "
                "element_at(arr, j + 1) as b))"
            )
            pairs = (
                vocab.select(arr.alias("arr"), "cnt")
                # fully-merged single-symbol words contribute no pairs;
                # without the guard sequence(1, 0) = [1, 0] (descending)
                # makes element_at(arr, 0) error — at production depth
                # (32k merges) full-word collapse is guaranteed, so this
                # is the difference between finishing and crashing
                .filter(F.size("arr") >= 2)
                .select(F.explode(pair_arr).alias("p"), "cnt")
                .groupBy("p.a", "p.b")
                .agg(F.sum("cnt").alias("n"))
            )
            accepted = [
                (r.a, r.b, r.n)
                for r in pairs.orderBy(F.col("n").desc(), "a", "b")
                .limit(k)
                .collect()
            ]
            if not accepted:
                break
            for ark, (a, b, n) in enumerate(accepted, start=1):
                out_rows.append((rnd, ark, a, b, n))
            col = F.col("sym")
            for a, b, _n in accepted:
                # fold in rank order (matches the oracle's list_reduce);
                # F.replace with lit() arguments — symbols come from
                # corpus text, never string-interpolated into SQL
                col = F.replace(
                    col, F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
                )
            merged = vocab.select(col.alias("sym"), "cnt").persist()
            vocab.unpersist()
            vocab = merged
    finally:
        vocab.unpersist()
    return out_rows


# ------------------------------------------------------------------ code_detect

# Code-vs-prose routing — pipelines split code into its own pipeline
# (different dedup granularity, different quality rules). Signals are
# pure character arithmetic (brace/semicolon/paren density per char),
# integer-exact on both engines. Deterministic injection appends a
# code-like snippet to every 6th doc so both branches are live.
# floor chosen under the injected worst case: 4 counted symbol chars
# over a ~600-char doc ≈ 6600 ppm (≈4000 on the longer word-salted
# scale replicas); prose has zero braces so the n_braces >= 1 conjunct
# already excludes it regardless of the floor
_CODE_PPM_MIN = 3_000  # symbol chars per million text chars

_CODE_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 6 = 0 THEN text
              || ' var_' || CAST(doc_id AS VARCHAR)
              || ' = function() {{ return ' || CAST(doc_id AS VARCHAR)
              || '; }};'
         ELSE text END AS text
  FROM documents
),
sig AS (
  SELECT doc_id,
         CAST(length(text) - length(replace(text, '{{', '')) AS BIGINT)
           AS n_braces,
         CAST(length(text) - length(replace(text, ';', '')) AS BIGINT)
           AS n_semis,
         CAST(length(text) - length(replace(text, '(', '')) AS BIGINT)
           AS n_parens,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM corpus
)
SELECT doc_id, n_braces, n_semis,
       CAST((n_braces + n_semis + n_parens) * 1000000 // n_chars AS BIGINT)
         AS sym_ppm,
       (n_braces >= 1 AND
        (n_braces + n_semis + n_parens) * 1000000
          >= {_CODE_PPM_MIN} * n_chars) AS is_code
FROM sig
"""


@register("code_detect", oracle=_CODE_ORACLE)
def code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing signal: brace/semicolon/paren density per
    character flags code-bearing documents so a corpus build can send
    them down the code pipeline (different dedup granularity and
    quality rules than prose). Integer-exact: counts come from
    length-difference arithmetic and the threshold cross-multiplies
    (ppm·n_chars, no division before the compare). Every 6th doc gets
    a deterministic code snippet appended so both branches are live
    and test-pinned.

    Scale shape: single scan, zero exchanges — all five outputs are
    per-row character arithmetic Catalyst keeps inside one
    WholeStageCodegen projection. The 100 TB cost is the read."""
    t = load_tables(spark, sf_dir)
    corpus = t.documents.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(
                F.col("text"),
                F.lit(" var_"),
                F.col("doc_id").cast("string"),
                F.lit(" = function() { return "),
                F.col("doc_id").cast("string"),
                F.lit("; };"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )

    def _count(ch: str) -> F.Column:
        return (
            F.length("text") - F.length(F.replace("text", F.lit(ch)))
        ).cast("bigint")

    sig = corpus.select(
        "doc_id",
        _count("{").alias("n_braces"),
        _count(";").alias("n_semis"),
        _count("(").alias("n_parens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    syms = F.col("n_braces") + F.col("n_semis") + F.col("n_parens")
    return sig.select(
        "doc_id",
        "n_braces",
        "n_semis",
        F.expr(
            "(n_braces + n_semis + n_parens) * 1000000 div n_chars"
        ).alias("sym_ppm"),
        (
            (F.col("n_braces") >= 1)
            & (syms * 1_000_000 >= _CODE_PPM_MIN * F.col("n_chars"))
        ).alias("is_code"),
    )


# ------------------------------------------------------------------ bpe_tokenize

# Document spaced-symbol form: every word char-spaced with its </w>
# marker, the whole doc one padded symbol stream, so learned merges
# apply with the exact same padded plain replace as training (a merge
# can never cross a word boundary: patterns are space-delimited and
# </w> terminates every word).
_BPE_DOC_SYM_DUCK = (
    "' ' || array_to_string(list_transform("
    "list_filter(string_split(text, ' '), w -> w <> ''), "
    "w -> array_to_string(list_transform(range(1, length(w) + 1), "
    "i -> substr(w, i, 1)), ' ') || ' </w>'), ' ') || ' '"
)
_BPE_DOC_SYM_SPARK = (
    "concat(' ', array_join(transform("
    "filter(split(text, ' '), w -> w != ''), "
    "w -> concat(array_join(transform(sequence(1, length(w)), "
    "i -> substr(w, i, 1)), ' '), ' </w>')), ' '), ' ')"
)


def _bpe_tokenize_oracle() -> str:
    apply_chain = "d0.sym"
    for s in range(1, _BPE_STEPS + 1):
        apply_chain = (
            f"replace({apply_chain}, ' ' || t{s}.a || ' ' || t{s}.b || ' ', "
            f"' ' || t{s}.a || t{s}.b || ' ')"
        )
    crosses = " ".join(f"CROSS JOIN t{s}" for s in range(1, _BPE_STEPS + 1))
    return (
        "WITH " + ",\n".join(_bpe_train_ctes()) + f""",
d0 AS (
  SELECT doc_id, {_BPE_DOC_SYM_DUCK} AS sym FROM documents
),
applied AS (
  SELECT doc_id,
         CAST(len(string_split(trim(d0.sym), ' ')) AS BIGINT) AS n_before,
         CAST(len(string_split(trim({apply_chain}), ' ')) AS BIGINT)
           AS n_after
  FROM d0 {crosses}
)
SELECT doc_id, n_before, n_after,
       CAST((n_before - n_after) * 1000000 // n_before AS BIGINT)
         AS saved_ppm
FROM applied
"""
    )


@register("bpe_tokenize", oracle=_bpe_tokenize_oracle())
def bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INFERENCE half of BPE: learn the merge table
    (``bpe_train_steps``' loop, {_BPE_STEPS} merges), then tokenize the
    whole corpus with it — per document the symbol count before and
    after merging, and the exact ppm saved. This is the fertility
    measurement for a LEARNED tokenizer (tokenizer_fertility measures a
    fixed regex one), and the pipeline stage that decides whether the
    merge table is worth shipping.

    Scale shape: training runs on the distinct vocabulary (one corpus
    word-count exchange, then vocab-bounded iterations, one 1-row
    collect per merge); application is {_BPE_STEPS} chained in-scan
    string replaces over the corpus — map-only, no exchange, the same
    padded plain-replace semantics as training (verified bit-identical
    across engines, including identical-symbol runs). Symbol counts
    are size(split(...)), also in-scan."""
    t = load_tables(spark, sf_dir)
    wf = (
        t.documents.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = wf.select(F.expr(_BPE_SYM_SPARK).alias("sym"), "cnt")
    merges = _bpe_learn_merges(vocab)

    sym = F.expr(_BPE_DOC_SYM_SPARK)
    applied = sym
    for _step, a, b, _n in merges:
        applied = F.replace(applied, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    counted = t.documents.select(
        "doc_id",
        F.size(F.split(F.trim(sym), " ")).cast("bigint").alias("n_before"),
        F.size(F.split(F.trim(applied), " ")).cast("bigint").alias("n_after"),
    )
    return counted.select(
        "doc_id",
        "n_before",
        "n_after",
        F.expr("(n_before - n_after) * 1000000 div n_before").alias(
            "saved_ppm"
        ),
    )


# ------------------------------------------------------- tokenizer_vocab_prune

# Which learned merges EARN their vocabulary slot: a merge selected by
# raw pair count can end up applying rarely once earlier merges
# restructure the corpus (its occurrences get absorbed), and shipping
# it wastes a vocab id. Per training step, the corpus-weighted number
# of actual applications falls out of conservation: every padded
# replace removes exactly one symbol per application, so
# n_applied(s) = S(s-1) - S(s) where S = Σ cnt·symbols over the
# vocabulary — no per-row bookkeeping, just one weighted-total agg per
# step. Merges below the floor are flagged for pruning.
_VPRUNE_FLOOR = 50


def _vprune_oracle() -> str:
    sym_total = (
        "SELECT CAST(SUM(cnt * len(string_split(trim(sym), ' '))) AS BIGINT)"
        " AS s FROM v{i}"
    )
    ctes = _bpe_train_ctes()
    for i in range(0, _BPE_STEPS + 1):
        ctes.append(f"sy{i} AS ({sym_total.format(i=i)})")
    selects = [
        f"SELECT {s} AS step, t{s}.a, t{s}.b, t{s}.n,"
        f" sy{s - 1}.s - sy{s}.s AS n_applied,"
        f" (sy{s - 1}.s - sy{s}.s) >= {_VPRUNE_FLOOR} AS kept"
        f" FROM t{s}, sy{s - 1}, sy{s}"
        for s in range(1, _BPE_STEPS + 1)
    ]
    return (
        "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)
    )


@register("tokenizer_vocab_prune", oracle=_vprune_oracle())
def tokenizer_vocab_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-slot audit for a learned BPE table: per merge, the
    corpus-weighted number of times it ACTUALLY applied — which can be
    far below its selection-time pair count once earlier merges absorb
    its occurrences — and the prune flag (applied < {_VPRUNE_FLOOR}).
    The application count needs NO per-row bookkeeping: every padded
    replace removes exactly one symbol per application, so it is the
    drop in the weighted symbol total between steps (conservation).

    Scale shape: bpe_train_steps' loop (corpus touched once for the
    word count, vocab-bounded iterations) plus ONE extra tiny agg per
    step (the weighted symbol total — a 1-row collect alongside the
    1-row merge collect); everything stays rounds-deep."""
    t = load_tables(spark, sf_dir)
    wf = (
        t.documents.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = wf.select(F.expr(_BPE_SYM_SPARK).alias("sym"), "cnt")

    def sym_total(v: DataFrame) -> int:
        return v.select(
            F.sum(
                F.col("cnt") * F.size(F.split(F.trim("sym"), " "))
            ).cast("bigint").alias("s")
        ).collect()[0].s

    sym_total.sink = []
    merges = _bpe_learn_merges(vocab, observe=sym_total)
    totals = sym_total.sink  # totals[0] = initial, totals[i] = after merge i
    out_rows = [
        (
            step,
            a,
            b,
            n,
            totals[i] - totals[i + 1],
            (totals[i] - totals[i + 1]) >= _VPRUNE_FLOOR,
        )
        for i, (step, a, b, n) in enumerate(merges)
    ]
    return spark.createDataFrame(
        out_rows,
        "step int, a string, b string, n bigint, n_applied bigint,"
        " kept boolean",
    )


# ------------------------------------------------------------ bloom_blocklist

# Bloom-filter form of the blocklist gate — the 100 TB path when the
# term list is too large to ship as a literal MAP: the list compresses
# to a FIXED-size bitset (here a single 32-bit word, sized small on
# purpose so false positives actually occur and the audit exercises
# them — ~57% of probed tokens FP at this size, measured below; a
# production list sizes m ≈ 1.44·n·log2(1/fpr)).
# Membership is k=3 md5-derived bit probes; Bloom guarantees NO false
# negatives, so the exact-match column is a strict lower bound and
# the difference IS the false-positive count — measured, not assumed.
# Half the terms exist in the synthetic vocabulary (real hits), half
# don't (pure FP bait) — unlike _BLOCK_CATS, whose terms never occur,
# so every counter here exercises a live path.
_BF_TERMS = ("join", "hash", "slow", "error", "spam", "leak")
_BF_BITS = 32
_BF_WORD = 32  # bits per word: positions stay positive in int64
_BF_K = 3


def _bf_pos_spark(j: int, s: str) -> str:
    return (
        f"cast(conv(substr(md5(concat('bf{j}_', {s})), 1, 8), 16, 10)"
        f" as bigint) % {_BF_BITS}"
    )


def _bf_pos_duck(j: int, s: str) -> str:
    return (
        f"CAST('0x' || substr(md5('bf{j}_' || {s}), 1, 8) AS BIGINT)"
        f" % {_BF_BITS}"
    )


def _bf_term_list() -> str:
    return "[" + ", ".join(f"'{w}'" for w in _BF_TERMS) + "]"


_BLOOM_ORACLE = f"""
WITH pos AS (
  SELECT {_bf_pos_duck(0, 'term')} AS p FROM unnest({_bf_term_list()}) t(term)
  UNION ALL
  SELECT {_bf_pos_duck(1, 'term')} FROM unnest({_bf_term_list()}) t(term)
  UNION ALL
  SELECT {_bf_pos_duck(2, 'term')} FROM unnest({_bf_term_list()}) t(term)
),
bits AS (
  SELECT p // {_BF_WORD} AS widx,
         bit_or(CAST(1 AS BIGINT) << CAST(p % {_BF_WORD} AS INTEGER)) AS w
  FROM pos GROUP BY p // {_BF_WORD}
),
tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
),
probe AS (
  SELECT source, word,
         {_bf_pos_duck(0, 'word')} AS p0,
         {_bf_pos_duck(1, 'word')} AS p1,
         {_bf_pos_duck(2, 'word')} AS p2
  FROM tok
),
h AS (
  SELECT source,
         CASE WHEN (COALESCE(b0.w, 0)
                    & (CAST(1 AS BIGINT) << CAST(p0 % {_BF_WORD} AS INTEGER))) <> 0
               AND (COALESCE(b1.w, 0)
                    & (CAST(1 AS BIGINT) << CAST(p1 % {_BF_WORD} AS INTEGER))) <> 0
               AND (COALESCE(b2.w, 0)
                    & (CAST(1 AS BIGINT) << CAST(p2 % {_BF_WORD} AS INTEGER))) <> 0
              THEN 1 ELSE 0 END AS bloom_hit,
         CASE WHEN word IN (SELECT term FROM unnest({_bf_term_list()}) t(term))
              THEN 1 ELSE 0 END AS exact_hit
  FROM probe
  LEFT JOIN bits b0 ON b0.widx = p0 // {_BF_WORD}
  LEFT JOIN bits b1 ON b1.widx = p1 // {_BF_WORD}
  LEFT JOIN bits b2 ON b2.widx = p2 // {_BF_WORD}
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(bloom_hit) AS BIGINT) AS n_bloom_hits,
       CAST(SUM(exact_hit) AS BIGINT) AS n_exact_hits,
       CAST(SUM(bloom_hit) - SUM(exact_hit) AS BIGINT) AS n_false_pos
FROM h GROUP BY source
"""


@register("bloom_blocklist", oracle=_BLOOM_ORACLE)
def bloom_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter blocklist probe — blocklist_filter's 100 TB form:
    the term list compresses to a {_BF_BITS}-bit bitset ({_BF_K} md5
    probes per member), deliberately undersized so false positives
    occur and get AUDITED — per source: tokens, Bloom hits, exact
    hits, and their difference (Bloom admits no false negatives, so
    exact ≤ bloom always; the gap is the measured FP count a
    production run sizes m against). The bitset builds DISTRIBUTED
    (explode terms × probes → bit_or partial agg) and collapses to
    {_BF_BITS // _BF_WORD} int64 words that inline into the probe
    scan as an array literal — the broadcast degenerates to a
    constant, so the probe is pure in-scan arithmetic: no join, no
    exchange carrying tokens.

    Scale shape: build cost is |terms|·{_BF_K} rows (nothing at any
    corpus size); probe cost is {_BF_K} md5s per token inside the
    scan; the only shuffle is the |sources|-group rollup of 4 int64
    partials."""
    t = load_tables(spark, sf_dir)
    # distributed bitset build: terms explode against probe index,
    # bit_or partial-aggs map-side; result is a bounded driver scalar
    # (<= 4 words) like the kmeans centroid collects
    terms = spark.range(1).select(
        F.explode(F.array(*[F.lit(w) for w in _BF_TERMS])).alias("term")
    )
    pos = terms.select(
        F.explode(
            F.array(
                *[F.expr(_bf_pos_spark(j, "term")) for j in range(_BF_K)]
            )
        ).alias("p")
    )
    built = (
        pos.groupBy(F.expr(f"p div {_BF_WORD}").alias("widx"))
        .agg(F.expr(f"bit_or(shiftleft(1L, cast(p % {_BF_WORD} as int)))").alias("w"))
        .collect()
    )
    words = [0] * (_BF_BITS // _BF_WORD)
    for r in built:
        words[int(r.widx)] = int(r.w)
    arr = F.array(*[F.lit(w).cast("long") for w in words])

    tok = t.documents.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    ).withColumn("bf", arr)
    checks = [
        F.expr(
            f"(element_at(bf, cast(({_bf_pos_spark(j, 'word')})"
            f" div {_BF_WORD} as int) + 1)"
            f" & shiftleft(1L, cast(({_bf_pos_spark(j, 'word')})"
            f" % {_BF_WORD} as int))) != 0"
        )
        for j in range(_BF_K)
    ]
    bloom_hit = checks[0] & checks[1] & checks[2]
    exact_hit = F.col("word").isin(*_BF_TERMS)
    return tok.select(
        "source",
        bloom_hit.cast("int").alias("bloom_hit"),
        exact_hit.cast("int").alias("exact_hit"),
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("bloom_hit").cast("bigint").alias("n_bloom_hits"),
        F.sum("exact_hit").cast("bigint").alias("n_exact_hits"),
        (F.sum("bloom_hit") - F.sum("exact_hit"))
        .cast("bigint")
        .alias("n_false_pos"),
    )


# ------------------------------------------------------------- ulm_train_steps

# Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer training — the
# OTHER production tokenizer algorithm next to the BPE family, with
# the bpe_train_steps loop discipline: the corpus is touched ONCE (the
# word-frequency count); every EM iteration runs on the DISTINCT
# vocabulary. Deterministic Viterbi-EM in integer arithmetic:
#
# - piece scores are the dsir_weights log surrogate
#   length(bin(cnt+1)) − length(bin(T+1)) (floor-log2 of the count
#   minus floor-log2 of the total — an integer log-likelihood, so the
#   per-piece penalty that makes Viterbi prefer fewer/longer pieces
#   is exact on both engines, no libm);
# - the E-step counts a piece instance iff it lies on an OPTIMAL
#   segmentation: dpF[s] + score + dpB[s+l] == dpF[n], where dpF/dpB
#   are forward/backward Viterbi prefix/suffix bests — a closed-form
#   membership test that needs NO backtracking and is tie-stable
#   (co-optimal paths all count, identically in both engines);
# - both DP chains unroll as lateral-alias column chains over the
#   _ULM_CAP-char word prefix (the HITS/pqt unrolled-iteration
#   recipe, applied to a per-row recurrence).
_ULM_CAP = 12   # word prefix the DP runs over (chars)
_ULM_LMAX = 3   # max piece length
_ULM_ITERS = 2  # EM rounds after the seed count
_ULM_V = 48     # output vocabulary size


def _ulm_max(terms: list[str]) -> str:
    return terms[0] if len(terms) == 1 else "greatest(" + ", ".join(terms) + ")"


def _ulm_level(i: int, lk) -> tuple[str, str]:
    """The (f_i, g_i) expressions for DP level i, referencing the
    PREVIOUS levels as real columns — one projection per level, so
    neither engine's alias substitution can expand the recurrence
    into a 3^CAP-node expression tree (measured: the flat
    lateral-alias form cost 13s Spark / 8s DuckDB on a 31-word
    vocabulary; per-level projections are sub-second)."""
    f_terms = [
        f"f{i - l} + {lk(f'substr(word, {i - l + 1}, {l})')}"
        for l in range(1, min(_ULM_LMAX, i) + 1)
    ]
    g_terms = [
        f"g{i - l} + {lk(f'substr(word, n - {i} + 1, {l})')}"
        for l in range(1, min(_ULM_LMAX, i) + 1)
    ]
    return (
        f"case when n >= {i} then {_ulm_max(f_terms)} end as f{i}",
        f"case when n >= {i} then {_ulm_max(g_terms)} end as g{i}",
    )


def _ulm_base_ctes() -> list[str]:
    """The shared CTE chain through `scf` (final per-piece counts +
    scores) — ulm_train_steps' oracle selects its top-V from it;
    ulm_tokenize's oracle appends the inference vocab/DP on top.
    Every CTE is MATERIALIZED: with default per-reference inlining
    the round-r tree re-expands round r-1 once per map lookup
    (measured: 45s and an OOM risk at sf0.01; materialized: fast)."""
    lk = lambda s: f"m[{s}][1]"
    fa = "[" + ", ".join(f"f{i}" for i in range(_ULM_CAP + 1)) + "]"
    ga = "[" + ", ".join(f"g{j}" for j in range(_ULM_CAP + 1)) + "]"
    ctes = [
        f"""words AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT substr(w, 1, {_ULM_CAP}) AS word FROM (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  ) GROUP BY word
)""",
        f"""inst AS MATERIALIZED (
  SELECT w.word, w.freq, u.s, v.l, substr(w.word, u.s + 1, v.l) AS piece
  FROM words w,
       UNNEST(range(0, length(w.word))) AS u(s),
       UNNEST([{", ".join(str(l) for l in range(1, _ULM_LMAX + 1))}]) AS v(l)
  WHERE u.s + v.l <= length(w.word)
)""",
        """cnt0 AS MATERIALIZED (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM inst GROUP BY piece
)""",
    ]
    prev = "cnt0"
    for r in range(1, _ULM_ITERS + 1):
        ctes.append(
            f"""sc{r - 1} AS MATERIALIZED (
  SELECT piece, CAST(length(bin(cnt + 1)) -
    (SELECT length(bin(CAST(SUM(cnt) AS BIGINT) + 1)) FROM {prev})
    AS BIGINT) AS sc
  FROM {prev}
)"""
        )
        ctes.append(
            f"""m{r - 1} AS MATERIALIZED (
  SELECT map_from_entries(list(struct_pack(k := piece, v := sc))) AS m
  FROM sc{r - 1}
)"""
        )
        ctes.append(
            f"""dp{r}l0 AS MATERIALIZED (
  SELECT w.word, w.freq, length(w.word) AS n, mm.m AS m,
         CAST(0 AS BIGINT) AS f0, CAST(0 AS BIGINT) AS g0
  FROM words w CROSS JOIN m{r - 1} mm
)"""
        )
        for i in range(1, _ULM_CAP + 1):
            fe, ge = _ulm_level(i, lk)
            ctes.append(
                f"""dp{r}l{i} AS MATERIALIZED (
  SELECT *, {fe}, {ge} FROM dp{r}l{i - 1}
)"""
            )
        ctes.append(
            f"""dp{r} AS MATERIALIZED (
  SELECT word, freq, n, {fa} AS fa, {ga} AS ga FROM dp{r}l{_ULM_CAP}
)"""
        )
        ctes.append(
            f"""cnt{r} AS MATERIALIZED (
  SELECT c.piece, COALESCE(u.c, 0) AS cnt FROM cnt0 c LEFT JOIN (
    SELECT i.piece, CAST(SUM(i.freq) AS BIGINT) AS c
    FROM inst i
    JOIN dp{r} w ON w.word = i.word
    JOIN sc{r - 1} s ON s.piece = i.piece
    WHERE w.fa[i.s + 1] + s.sc + w.ga[w.n - i.s - i.l + 1] = w.fa[w.n + 1]
    GROUP BY i.piece
  ) u ON u.piece = c.piece
)"""
        )
        prev = f"cnt{r}"
    ctes.append(
        f"""scf AS MATERIALIZED (
  SELECT piece, cnt, CAST(length(bin(cnt + 1)) -
    (SELECT length(bin(CAST(SUM(cnt) AS BIGINT) + 1)) FROM {prev})
    AS BIGINT) AS sc
  FROM {prev}
)"""
    )
    return ctes


def _ulm_oracle() -> str:
    return (
        "WITH "
        + ",\n".join(_ulm_base_ctes())
        + f"""
SELECT piece, n_used, score_fp FROM (
  SELECT piece, cnt AS n_used, sc AS score_fp,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rn
  FROM scf
) WHERE rn <= {_ULM_V}
"""
    )


@register("ulm_train_steps", oracle=_ulm_oracle())
def ulm_train_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (SentencePiece, Kudo 2018) —
    Viterbi-EM over the char 1..{_ULM_LMAX}-gram seed vocabulary:
    each EM round scores every candidate piece with the integer
    log-likelihood surrogate, Viterbi-segments every DISTINCT word
    (forward + backward DP as lateral-alias column chains over the
    {_ULM_CAP}-char prefix), and re-counts pieces that lie on an
    optimal segmentation (the dpF[s] + sc + dpB[e] == dpF[n]
    membership test — exact, tie-stable, backtrack-free). Output is
    the top-{_ULM_V} learned vocabulary with usage counts and final
    scores — BPE's production sibling, same loop discipline.

    Scale shape: the ONE corpus-sized stage is the word-frequency
    count (explode + partial agg — vocab_topk's exchange); the seed
    instance table, both DP frames, and every EM round are bounded by
    the DISTINCT vocabulary × {_ULM_CAP}×{_ULM_LMAX} instances, and
    the score table broadcasts as ONE map row (the bpe_train_steps
    discipline: corpus once, iterations vocab-bounded, no driver
    loop at all — the EM rounds unroll into the plan)."""
    words, scf = _ulm_final_scores(spark, sf_dir)
    res = (
        scf.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("n_used").desc(), F.col("piece"))
            ),
        )
        .filter(F.col("rn") <= _ULM_V)
        .select("piece", "n_used", "score_fp")
    )
    return res


def _ulm_final_scores(spark, sf_dir):
    """Shared EM pipeline: (words[word, freq], scf[piece, n_used,
    score_fp]) after _ULM_ITERS Viterbi-EM rounds — training selects
    its top-V from scf; tokenize builds its inference vocab from it."""
    t = load_tables(spark, sf_dir)
    words = (
        t.documents.select(
            F.explode(F.split("text", " ")).alias("w")
        )
        .select(F.expr(f"substr(w, 1, {_ULM_CAP})").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .persist()
    )
    inst = words.select(
        "word",
        "freq",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(0, length(word) - 1),"
                f" s -> filter(transform(sequence(1, {_ULM_LMAX}),"
                f" l -> struct(s, l, substr(word, s + 1, l) as piece)),"
                f" x -> x.s + x.l <= length(word))))"
            )
        ).alias("i"),
    ).select("word", "freq", "i.s", "i.l", "i.piece").persist()
    cnt = inst.groupBy("piece").agg(F.sum("freq").alias("cnt"))

    lk = lambda s: f"m[{s}]"
    fa = "array(" + ", ".join(f"f{i}" for i in range(_ULM_CAP + 1)) + ") as fa"
    ga = "array(" + ", ".join(f"g{j}" for j in range(_ULM_CAP + 1)) + ") as ga"
    cnt0 = cnt
    for _ in range(_ULM_ITERS):
        tot = cnt.agg(
            F.expr("length(bin(sum(cnt) + 1))").alias("lt")
        )
        sc = cnt.crossJoin(F.broadcast(tot)).select(
            "piece",
            F.expr("cast(length(bin(cnt + 1)) - lt as bigint)").alias("sc"),
        )
        m = sc.agg(
            F.expr("map_from_entries(collect_list(struct(piece, sc)))").alias(
                "m"
            )
        )
        # one projection per DP level (see _ulm_level): a flat
        # lateral-alias chain re-expands the recurrence exponentially
        # during alias resolution
        dp = words.crossJoin(F.broadcast(m)).selectExpr(
            "word",
            "freq",
            "length(word) as n",
            "m",
            "cast(0 as bigint) as f0",
            "cast(0 as bigint) as g0",
        )
        for i in range(1, _ULM_CAP + 1):
            fe, ge = _ulm_level(i, lk)
            dp = dp.selectExpr("*", fe, ge)
        dp = dp.selectExpr("word", "n", fa, ga)
        used = (
            inst.join(dp, "word")
            .join(F.broadcast(sc), "piece")
            .filter(
                F.expr(
                    "element_at(fa, s + 1) + sc"
                    " + element_at(ga, n - s - l + 1)"
                    " = element_at(fa, n + 1)"
                )
            )
            .groupBy("piece")
            .agg(F.sum("freq").alias("c"))
        )
        # localCheckpoint per EM round (the bpe_train_steps
        # discipline): each round's broadcast aggs would otherwise
        # re-optimize the whole prior-round plan per action
        cnt = cnt0.select("piece").join(used, "piece", "left").select(
            "piece", F.coalesce("c", F.lit(0)).cast("bigint").alias("cnt")
        ).localCheckpoint(eager=True)
    tot = cnt.agg(F.expr("length(bin(sum(cnt) + 1))").alias("lt"))
    scf = cnt.crossJoin(F.broadcast(tot)).select(
        "piece",
        F.col("cnt").alias("n_used"),
        F.expr("cast(length(bin(cnt + 1)) - lt as bigint)").alias("score_fp"),
    )
    return words, scf


# ---------------------------------------------------------------- ulm_tokenize

# The ULM INFERENCE pass — bpe_tokenize's sibling: segment the corpus
# with the LEARNED vocabulary (top-V pieces ∪ all single chars, the
# SentencePiece always-keep-characters rule that guarantees every word
# segments) and report per-source fertility. Two forward Viterbi
# chains per word extract BOTH the optimal score S* and the piece
# count P* without backtracking: chain A maximizes Σsc; chain B
# maximizes Σ(64·sc − 1), so B* = 64·S* − min{pieces among optimal
# paths} (scores are integers, so a 1-point score difference always
# dominates the ≤11-piece length difference) — P* = 64·A* − B*,
# pure integer arithmetic, deterministic under ties.
_ULM_EXCL = -1_000_000_000  # out-of-vocab piece sentinel (l=1 always in)


def _ulm_tok_levels(lk) -> list[tuple[str, str]]:
    out = []
    for i in range(1, _ULM_CAP + 1):
        a_terms = [
            f"a{i - l} + {lk(f'substr(word, {i - l + 1}, {l})')}"
            for l in range(1, min(_ULM_LMAX, i) + 1)
        ]
        b_terms = [
            f"b{i - l} + ({lk(f'substr(word, {i - l + 1}, {l})')} * 64 - 1)"
            for l in range(1, min(_ULM_LMAX, i) + 1)
        ]
        out.append(
            (
                f"case when n >= {i} then {_ulm_max(a_terms)} end as a{i}",
                f"case when n >= {i} then {_ulm_max(b_terms)} end as b{i}",
            )
        )
    return out


def _ulm_tok_oracle() -> str:
    lk = lambda s: f"coalesce(m[{s}][1], {_ULM_EXCL})"
    aa = "[" + ", ".join(f"a{i}" for i in range(_ULM_CAP + 1)) + "]"
    ba = "[" + ", ".join(f"b{i}" for i in range(_ULM_CAP + 1)) + "]"
    levels = _ulm_tok_levels(lk)
    level_ctes = []
    prev = "tok0"
    for i, (ae, be) in enumerate(levels, start=1):
        level_ctes.append(
            f"""tok{i} AS MATERIALIZED (
  SELECT *, {ae}, {be} FROM {prev}
)"""
        )
        prev = f"tok{i}"
    return (
        "WITH "
        + ",\n".join(_ulm_base_ctes())
        + f""",
vocab AS MATERIALIZED (
  SELECT piece, sc FROM (
    SELECT piece, sc, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rn
    FROM scf
  ) WHERE rn <= {_ULM_V}
  UNION
  SELECT piece, sc FROM scf WHERE length(piece) = 1
),
mt AS MATERIALIZED (
  SELECT map_from_entries(list(struct_pack(k := piece, v := sc))) AS m
  FROM vocab
),
wsrc AS MATERIALIZED (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT source, substr(w, 1, {_ULM_CAP}) AS word FROM (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
  ) GROUP BY source, word
),
tok0 AS MATERIALIZED (
  SELECT w.word, length(w.word) AS n, mm.m AS m,
         CAST(0 AS BIGINT) AS a0, CAST(0 AS BIGINT) AS b0
  FROM (SELECT DISTINCT word FROM wsrc) w CROSS JOIN mt mm
),
{",".join(level_ctes)},
seg AS MATERIALIZED (
  SELECT word, {aa}[n + 1] AS sstar,
         64 * {aa}[n + 1] - {ba}[n + 1] AS pstar,
         n
  FROM tok{_ULM_CAP}
)
SELECT w.source,
       CAST(SUM(w.freq) AS BIGINT) AS n_tokens,
       CAST(SUM(w.freq * s.pstar) AS BIGINT) AS n_pieces,
       CAST(SUM(w.freq * s.sstar) AS BIGINT) AS score_sum,
       CAST(SUM(w.freq * s.pstar) * 1000000 // SUM(w.freq) AS BIGINT)
         AS fertility_ppm
FROM wsrc w JOIN seg s ON s.word = w.word
GROUP BY w.source
"""
    )


@register("ulm_tokenize", oracle=_ulm_tok_oracle())
def ulm_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ULM tokenizer INFERENCE (bpe_tokenize's sibling): segment every
    corpus word with the vocabulary ulm_train_steps learns (top-{_ULM_V}
    pieces ∪ all single chars — SentencePiece's always-keep-characters
    rule, so every word segments) and report per-source token counts,
    piece counts, optimal-score mass, and fertility (pieces per token,
    ppm) — the number a tokenizer change is judged by. Piece counts
    come from a second Viterbi chain maximizing 64·score − pieces, so
    P* extracts WITHOUT backtracking and ties resolve to the fewest
    pieces, identically in both engines.

    Scale shape: corpus touched twice ONLY for word counts (the
    corpus-wide and per-source word frequency aggs — vocab_topk's
    exchange); training reuses _ulm_final_scores' vocab-bounded EM;
    inference DP runs once per DISTINCT word (two chains, one
    projection per level) and joins back to the per-source counts —
    a |sources × vocab| join, never a per-token pass."""
    words, scf = _ulm_final_scores(spark, sf_dir)
    # orderBy + limit compiles to TakeOrderedAndProject (a per-partition
    # top-K + driver merge of K·P rows) — the rank-window form left an
    # unpartitioned WindowExec here (InferWindowGroupLimit declined to
    # rewrite above this checkpoint-fed join in Spark 4.1), which is the
    # single-task shape the plan sweep bans.
    top = (
        scf.orderBy(F.col("n_used").desc(), F.col("piece"))
        .limit(_ULM_V)
        .select("piece", F.col("score_fp").alias("sc"))
    )
    vocab = top.union(
        scf.filter(F.length("piece") == 1).select(
            "piece", F.col("score_fp").alias("sc")
        )
    ).distinct()
    m = vocab.agg(
        F.expr("map_from_entries(collect_list(struct(piece, sc)))").alias("m")
    )
    t = load_tables(spark, sf_dir)
    wsrc = (
        t.documents.select(
            "source", F.explode(F.split("text", " ")).alias("w")
        )
        .select("source", F.expr(f"substr(w, 1, {_ULM_CAP})").alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .persist()
    )
    lk = lambda s: f"coalesce(m[{s}], {_ULM_EXCL}L)"
    dp = (
        wsrc.select("word")
        .distinct()
        .crossJoin(F.broadcast(m))
        .selectExpr(
            "word",
            "length(word) as n",
            "m",
            "cast(0 as bigint) as a0",
            "cast(0 as bigint) as b0",
        )
    )
    for ae, be in _ulm_tok_levels(lk):
        dp = dp.selectExpr("*", ae, be)
    aa = "array(" + ", ".join(f"a{i}" for i in range(_ULM_CAP + 1)) + ")"
    ba = "array(" + ", ".join(f"b{i}" for i in range(_ULM_CAP + 1)) + ")"
    seg = dp.selectExpr(
        "word",
        f"element_at({aa}, n + 1) as sstar",
        f"64 * element_at({aa}, n + 1) - element_at({ba}, n + 1) as pstar",
    )
    return (
        wsrc.join(seg, "word")
        .groupBy("source")
        .agg(
            F.sum("freq").cast("bigint").alias("n_tokens"),
            F.sum(F.col("freq") * F.col("pstar"))
            .cast("bigint")
            .alias("n_pieces"),
            F.sum(F.col("freq") * F.col("sstar"))
            .cast("bigint")
            .alias("score_sum"),
        )
        .select(
            "source",
            "n_tokens",
            "n_pieces",
            "score_sum",
            F.expr("n_pieces * 1000000 div n_tokens").alias("fertility_ppm"),
        )
    )


# ---------------------------------------------------------------- rrf_fusion

# Reciprocal-rank fusion (Cormack et al., SIGIR'09): the standard way a
# curation pipeline combines heterogeneous rankers (lexical BM25 +
# statistical rarity here; dense ANN in production) without score
# calibration. rrf(d) = sum_s 1/(k + rank_s(d)), k = 60 — carried as
# the exact integer RRF_SCALE div (k + rank) so both engines agree
# bit-for-bit (no float reciprocal).
_RRF_K = 60
_RRF_SCALE = 1_000_000
_RRF_POOL = 50  # per-ranker candidate pool
_RRF_OUT = 20  # fused top-k

_RRF_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS word
  FROM documents
),
tf AS (
  SELECT doc_id, dl, word, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok WHERE word IN ({_BM25_QUERY_SQL}) GROUP BY 1, 2, 3
),
dfreq AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS t_words
  FROM documents
),
bm AS (
  SELECT tf.doc_id,
         CAST(SUM(((stats.n - dfreq.df + 1) * {_BM25_IDF_SCALE}
                   // (dfreq.df + 1))
           * tf.tf * 22
           // (10 * tf.tf
               + (3 * (stats.t_words + 3 * tf.dl * stats.n))
                 // stats.t_words)) AS BIGINT) AS score_a
  FROM tf JOIN dfreq USING (word) CROSS JOIN stats
  GROUP BY tf.doc_id
),
ra AS (
  SELECT doc_id, rk AS rank_a FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score_a DESC, doc_id) AS rk
    FROM bm
  ) WHERE rk <= {_RRF_POOL}
),
cnt AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY word
),
tw AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM tok),
rar AS (
  SELECT tok.doc_id,
         CAST(SUM((tw.t * {_RARITY_SCALE}) // cnt.cnt) AS BIGINT)
           // CAST(COUNT(*) AS BIGINT) AS score_b
  FROM tok JOIN cnt USING (word) CROSS JOIN tw
  GROUP BY tok.doc_id
),
rb AS (
  SELECT doc_id, rk AS rank_b FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score_b DESC, doc_id) AS rk
    FROM rar
  ) WHERE rk <= {_RRF_POOL}
),
fused AS (
  SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
         ra.rank_a, rb.rank_b,
         COALESCE({_RRF_SCALE} // ({_RRF_K} + ra.rank_a), 0)
           + COALESCE({_RRF_SCALE} // ({_RRF_K} + rb.rank_b), 0) AS rrf_fp
  FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
)
SELECT doc_id, CAST(fused_rank AS INTEGER) AS fused_rank,
       CAST(rrf_fp AS BIGINT) AS rrf_fp,
       CAST(rank_a AS INTEGER) AS rank_a, CAST(rank_b AS INTEGER) AS rank_b
FROM (
  SELECT *, row_number()
              OVER (ORDER BY rrf_fp DESC, doc_id) AS fused_rank
  FROM fused
) WHERE fused_rank <= {_RRF_OUT}
"""


@register("rrf_fusion", oracle=_RRF_ORACLE, headline=True)
def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two heterogeneous document rankers —
    the calibration-free ensemble a retrieval-driven curation pipeline
    uses to merge lexical (BM25) and statistical (rarity) signals into
    one candidate list (production swaps either leg for a dense-ANN
    ranking; the fusion stage is unchanged). Each leg contributes
    ``RRF_SCALE div (60 + rank)`` for its top-50; absent docs
    contribute 0 — all bigint, so the fused order is bit-identical
    across engines.

    Scale shape: each leg keeps its standalone operator's plan (leg A
    prunes to query-term tokens IN the scan, before any shuffle —
    bm25_topk's shape; leg B is rarity_score's two-exchange shape), so
    the corpus streams through independent scans exactly as it would
    if the rankers ran as separate systems. Each leg ends in a
    per-partition top-K (LimitPushDownThroughWindow compiles the rank
    filter to TakeOrderedAndProject below the window — plan-pinned),
    so the fusion join touches two ≤50-row frames: broadcast-sized by
    construction at ANY corpus scale. The final fused window is over
    ≤100 rows — bounded, not corpus-bounded."""
    t = load_tables(spark, sf_dir)
    # INVARIANT (r13 advice): tok's row count MUST stay exactly
    # sum(size(split(text, ' '))) over documents — leg B below reuses
    # the collected t_words literal AS tok's word total (split() of
    # any string, including '', yields size >= 1 and explode emits
    # every element, so the identity holds today). If tok ever
    # filters tokens (empty-string drop, lowercasing with dedup,
    # stopword removal), leg B's scores silently break; derive the
    # word total from tok itself in that case. Guarded by the DuckDB
    # parity test (oracle counts exploded tokens independently).
    tok = t.documents.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("dl"),
        F.explode(F.split("text", " ")).alias("word"),
    )
    # -- leg A: BM25 (same exact-integer scorer as bm25_topk)
    tf = (
        tok.filter(F.col("word").isin(*_BM25_QUERY))
        .groupBy("doc_id", "dl", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    # corpus stats collapse to TWO SCALARS — collect them once and
    # inline as literals instead of cross-joining a 1-row aggregate
    # into each leg: the aggregate subtree re-executed its full scan
    # per consumer (leg A's crossJoin AND leg B's word total), so the
    # literals remove two corpus passes (r13; bounded 1-row collect,
    # the compact_table precedent)
    srow = t.documents.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(F.split("text", " "))).alias("t_words"),
    ).collect()[0]
    n_docs, t_words = int(srow["n"]), int(srow["t_words"])
    bm = (
        tf.join(F.broadcast(dfreq), "word")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.expr(
                    f"(({n_docs}L - df + 1) * {_BM25_IDF_SCALE} div (df + 1))"
                    f" * tf * 22 div (10 * tf"
                    f" + (3 * ({t_words}L + 3 * dl * {n_docs}L)) div {t_words}L)"
                )
            )
            .cast("bigint")
            .alias("score_a")
        )
    )
    wa = Window.orderBy(F.col("score_a").desc(), "doc_id")
    ra = (
        bm.withColumn("rank_a", F.row_number().over(wa))
        .filter(F.col("rank_a") <= _RRF_POOL)
        .select("doc_id", "rank_a")
    )
    # -- leg B: rarity (same exact-integer scorer as rarity_score).
    # The corpus word total equals t_words exactly (count of exploded
    # words == sum of dl), so leg B reuses the collected literal
    # instead of a third full tokenize+count pass — same integers.
    cnt = tok.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    rar = (
        tok.join(F.broadcast(cnt), "word")
        .groupBy("doc_id")
        .agg(
            F.expr(
                f"sum(({t_words}L * {_RARITY_SCALE}) div cnt) div count(*)"
            )
            .cast("bigint")
            .alias("score_b")
        )
    )
    wb = Window.orderBy(F.col("score_b").desc(), "doc_id")
    rb = (
        rar.withColumn("rank_b", F.row_number().over(wb))
        .filter(F.col("rank_b") <= _RRF_POOL)
        .select("doc_id", "rank_b")
    )
    # -- fusion over two bounded pools
    fused = ra.join(rb, "doc_id", "full_outer").select(
        "doc_id",
        "rank_a",
        "rank_b",
        (
            F.coalesce(
                F.expr(f"{_RRF_SCALE} div ({_RRF_K} + rank_a)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{_RRF_SCALE} div ({_RRF_K} + rank_b)"), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("rrf_fp"),
    )
    wf = Window.orderBy(F.col("rrf_fp").desc(), "doc_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("fused_rank") <= _RRF_OUT)
        .select(
            "doc_id",
            "fused_rank",
            "rrf_fp",
            F.col("rank_a").cast("int").alias("rank_a"),
            F.col("rank_b").cast("int").alias("rank_b"),
        )
    )


# ------------------------------------------------------------ quality_ensemble

_QE_OUT = 100

QUALITY_ENSEMBLE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
s AS (
  SELECT doc_id,
         CAST(len(list_distinct(w)) * 1000 // len(w) AS BIGINT) AS qa,
         CAST(len(list_filter(w, x -> list_contains({_STOP_DUCK}, x)))
              * 1000 // len(w) AS BIGINT) AS qb
  FROM t
),
r AS (
  SELECT doc_id, qa, qb,
         CAST(ROW_NUMBER() OVER (ORDER BY qa DESC, doc_id) AS BIGINT)
           AS rank_a,
         CAST(ROW_NUMBER() OVER (ORDER BY qb DESC, doc_id) AS BIGINT)
           AS rank_b
  FROM s
)
SELECT doc_id, rank_a, rank_b, rank_a + rank_b AS borda,
       CAST(ROW_NUMBER() OVER (ORDER BY rank_a + rank_b, doc_id)
            AS BIGINT) AS ensemble_rank
FROM r
ORDER BY ensemble_rank
LIMIT {_QE_OUT}
"""


@register("quality_ensemble", oracle=QUALITY_ENSEMBLE_ORACLE)
def quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borda rank-aggregation of two quality signals — the
    calibration-free ensemble a curation pipeline uses when signal
    SCALES are incomparable (a permille diversity score and a permille
    stopwordness score don't average; their ranks do). Each document
    gets its EXACT global rank under each leg, the Borda sum, and the
    fused top-{_QE_OUT} comes back.

    The interesting part is exact global ranking WITHOUT a
    single-partition window: both legs are bounded integers in
    [0, 1000], so rank(doc) decomposes as

        (count of docs with a strictly higher score)     -- histogram
      + (row_number among same-score docs by doc_id)     -- tie-break

    The histogram is a ≤1001-row aggregate; the strictly-higher
    counts come from a triangular join on that bounded frame
    (curriculum_schedule's pattern — engine-identical, no window); the
    tie-break window partitions BY SCORE, so its tasks see only
    (score, doc_id) scalar rows and parallelism is the score
    cardinality. The corpus is scanned once, both legs computed
    in-projection; the only corpus-sized exchange is the score-keyed
    tie-break shuffle carrying three ints per doc. Worst-case skew =
    all docs sharing one score value — the task then holds that
    score's (doc_id) list, which is the same bound a global window
    would put on ONE task for the WHOLE corpus; here it only happens
    per colliding score, and the rows are 24-byte scalars.

    Final top-K is orderBy+limit over (borda, doc_id) →
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    t = load_tables(spark, sf_dir)
    scored = t.documents.select(
        "doc_id",
        F.expr("cast(size(array_distinct(split(text, ' '))) as bigint)"
               " * 1000 div size(split(text, ' '))")
        .cast("bigint")
        .alias("qa"),
        F.expr(
            f"cast(size(filter(split(text, ' '),"
            f" x -> array_contains({_STOP_SPARK}, x))) as bigint) * 1000"
            " div size(split(text, ' '))"
        ).cast("bigint").alias("qb"),
    ).localCheckpoint()  # one corpus scan feeds both legs' histograms
    # and tie-break windows (4 consumers otherwise re-plan the scan)

    def leg_rank(col: str, out: str) -> DataFrame:
        hist = scored.groupBy(col).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        higher = (
            hist.alias("a")
            .join(
                F.broadcast(hist.alias("c")),
                F.col(f"c.{col}") > F.col(f"a.{col}"),
                "left",
            )
            .groupBy(F.col(f"a.{col}").alias(col))
            .agg(F.coalesce(F.sum("c.cnt"), F.lit(0)).alias("n_higher"))
        )
        tie = Window.partitionBy(col).orderBy("doc_id")
        return (
            scored.select("doc_id", col)
            .withColumn("rn", F.row_number().over(tie))
            .join(F.broadcast(higher), col)
            .select(
                "doc_id",
                (F.col("n_higher") + F.col("rn")).cast("bigint").alias(out),
            )
        )

    ranked = leg_rank("qa", "rank_a").join(leg_rank("qb", "rank_b"), "doc_id")
    fused = ranked.select(
        "doc_id",
        "rank_a",
        "rank_b",
        (F.col("rank_a") + F.col("rank_b")).cast("bigint").alias("borda"),
    )
    top = fused.orderBy("borda", "doc_id").limit(_QE_OUT)
    wf = Window.orderBy("borda", "doc_id")  # over ≤_QE_OUT rows
    return top.withColumn(
        "ensemble_rank", F.row_number().over(wf).cast("bigint")
    )

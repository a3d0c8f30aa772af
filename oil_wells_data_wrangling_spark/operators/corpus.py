"""Composed training-data corpus pipeline (SURVEY.md §2.C capstone).

The end-to-end shape of a pretraining data build: raw corpus → quality
filter → exact dedup (keep canonical) → per-language corpus statistics.
Each stage is an operator proven elsewhere (quality_score, dedup_exact,
token_count); this query wires them into one plan so Catalyst fuses the
filters into the scan and the whole pipeline costs two shuffles (dedup
group + final stats group) regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from oil_wells_data_wrangling_spark.operators.dedup import (
    minhash_pairs,
    minhash_pairs_ctes,
)
from oil_wells_data_wrangling_spark.plans.registry import register
from oil_wells_data_wrangling_spark.sources.readers import load_tables

_CORPUS_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 4 = 0
),
quality AS (
  SELECT * FROM corpus
  WHERE len(string_split(text, ' ')) >= 20
    AND len(list_distinct(string_split(text, ' ')))
        / len(string_split(text, ' ')) >= 0.4
),
deduped AS (
  SELECT MIN(doc_id) AS doc_id, MIN(text) AS text, MIN(lang) AS lang,
         COUNT(*) AS n_copies
  FROM quality GROUP BY md5(text)
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(SUM(length(text)) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(SUM(n_copies - 1) AS BIGINT) AS dups_removed
FROM deduped GROUP BY lang
"""


# ----------------------------------------------------------------- text_chunks

_CHUNK, _STEP = 50, 40  # 50-word windows, 10-word overlap

_CHUNKS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
)
SELECT doc_id,
       CAST((s - 1) // {_STEP} AS INTEGER) AS chunk_id,
       array_to_string(list_slice(words, s, s + {_CHUNK - 1}), ' ') AS chunk_text,
       CAST(len(list_slice(words, s, s + {_CHUNK - 1})) AS INTEGER) AS n_tokens
FROM tok, UNNEST(range(1, len(words) + 1, {_STEP})) AS u(s)
"""


@register("text_chunks", oracle=_CHUNKS_ORACLE)
def text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window chunking: documents → training samples of ≤50
    words with 10-word overlap. Window starts come from a stepped
    sequence + slice (array ops inside the scan), then one explode —
    no joins, no UDF; the op that fans 100 TB of documents into
    context-window-sized rows."""
    t = load_tables(spark, sf_dir)
    tok = t.documents.select("doc_id", F.split("text", " ").alias("words"))
    chunks = F.expr(
        f"transform(sequence(1, size(words), {_STEP}), "
        f"s -> struct(cast((s - 1) div {_STEP} as int) as chunk_id, "
        f"array_join(slice(words, s, {_CHUNK}), ' ') as chunk_text, "
        f"cast(size(slice(words, s, {_CHUNK})) as int) as n_tokens))"
    )
    return tok.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_id", "c.chunk_text", "c.n_tokens"
    )


# -------------------------------------------------------------- pack_sequences

_BUDGET = 512
_PACK_SHARD = 100  # contiguous doc_ids per packing shard

_PACK_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, doc_id // {_PACK_SHARD} AS shard,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
packed AS (
  SELECT shard, n_tokens,
         CAST((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
              // {_BUDGET} AS BIGINT) AS bin_id
  FROM tok
)
SELECT CAST(shard AS BIGINT) AS shard, bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM packed GROUP BY shard, bin_id
"""


@register("pack_sequences", oracle=_PACK_ORACLE)
def pack_sequences(
    spark: SparkSession, sf_dir: str, global_order: bool = False
) -> DataFrame:
    """Offset-based sequence packing: stream documents in id order and
    open a new 512-token bin whenever the running offset crosses a
    budget boundary (bins may overflow by one document — the streaming
    packer's trade).

    Scale shape: packing runs WITHIN contiguous doc_id shards
    (``doc_id div 100``; a source shard in production), so the prefix-sum
    window is partition-parallel and the per-(shard, bin) agg reuses the
    same shard partitioning — id-adjacent docs still pack together, and
    no full-corpus Exchange SinglePartition exists (pinned by the sweep
    in tests/test_plan_shapes.py). ``global_order=True`` restores the
    single global prefix sum — exact one-stream packing, but it funnels
    every (doc_id, n_tokens) pair through one task; only for corpora
    that fit a single executor."""
    t = load_tables(spark, sf_dir)
    tok = t.documents.select(
        "doc_id",
        (F.lit(0).cast("bigint") if global_order else F.expr(f"doc_id div {_PACK_SHARD}")).alias(
            "shard"
        ),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = tok.withColumn(
        "bin_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(_BUDGET)),
    )
    return packed.groupBy("shard", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


# -------------------------------------------------------------- sample_corpus

_SAMPLE_ORACLE = """
WITH scored AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
         CAST('0x' || substr(md5('s42_' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % 100 AS bucket
  FROM documents
),
kept AS (
  SELECT * FROM scored
  WHERE bucket < CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 30 ELSE 10 END
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM kept GROUP BY lang
"""


@register("sample_corpus", oracle=_SAMPLE_ORACLE)
def sample_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling: per-language keep rates applied
    via a salted content-id hash (md5 → bucket 0-99), so the sample is
    reproducible across runs/engines and needs no RNG state — the
    data-mixing step of a pretraining recipe."""
    t = load_tables(spark, sf_dir)
    bucket = (
        F.expr("cast(conv(substr(md5(concat('s42_', cast(doc_id as string))), 1, 8), 16, 10) as bigint)")
        % 100
    )
    rate = (
        F.when(F.col("lang") == "en", 50)
        .when(F.col("lang") == "zh", 30)
        .otherwise(10)
    )
    kept = t.documents.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_tokens"),
        bucket.alias("bucket"),
        rate.alias("rate"),
    ).filter(F.col("bucket") < F.col("rate"))
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("total_tokens"),
    )


_CORPUS_FULL_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id + 2000000, text || ' near dup tail marker', lang
  FROM documents WHERE doc_id % 10 = 0
),
quality AS (
  SELECT * FROM corpus
  WHERE len(string_split(text, ' ')) >= 20
    AND len(list_distinct(string_split(text, ' ')))
        / len(string_split(text, ' ')) >= 0.4
),
deduped AS (
  SELECT MIN(doc_id) AS doc_id, MIN(text) AS text, MIN(lang) AS lang
  FROM quality GROUP BY md5(text)
),
{minhash_pairs_ctes('deduped')},
final AS (
  SELECT * FROM deduped
  WHERE doc_id NOT IN (SELECT doc_b FROM mh_pairs)
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
FROM final GROUP BY lang
"""


@register("corpus_pipeline_full", oracle=_CORPUS_FULL_ORACLE, headline=True)
def corpus_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete pretraining-data build: quality filter → exact dedup
    → MinHash near-dup removal (drop the higher-id side of every
    candidate pair) → per-language corpus stats.

    Scale shape: the dedup exchange carries only scalars — (md5, doc_id,
    lang, n_tokens); text is rejoined *by winner id* for the MinHash
    stage only (the shape dedup_exact prescribes), so the one exchange
    that does move text is a plain id-partitioned join, never an
    aggregation holding documents in its hash-map state. The final stats
    aggregate scalars."""
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id", "text", "lang")
    # single-scan 3-layer synthesis (r16, guide §6): corpus is consumed
    # twice (quality path + winner-text rejoin); the 3-branch union
    # form cost 6 documents scans, the explode form costs 2
    corpus = base.select(
        F.explode(
            F.expr(
                "filter(array(struct(doc_id, text, lang), "
                "struct(doc_id + 1000000L as doc_id, text, lang), "
                "struct(doc_id + 2000000L as doc_id,"
                " concat(text, ' near dup tail marker') as text, lang)), "
                "(x, i) -> i = 0 or (i = 1 and doc_id % 4 = 0)"
                " or (i = 2 and doc_id % 10 = 0))"
            )
        ).alias("r")
    ).select("r.doc_id", "r.text", "r.lang")
    words = F.split("text", " ")
    quality = corpus.filter(
        (F.size(words) >= 20)
        & (F.size(F.array_distinct(words)) / F.size(words) >= 0.4)
    )
    winners = (
        quality.select(
            F.md5("text").alias("h"),
            "doc_id",
            "lang",
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("lang").alias("lang"),
            F.min("n_tokens").alias("n_tokens"),
        )
        # consumed twice (text rejoin + final anti-join) but NOT cached:
        # AQE reuses the dedup shuffle stage across both consumers at
        # runtime, and measured min-of-3 is faster without the cache
        # (0.97s vs 1.32s at sf0.1) — and nothing leaks into storage.
    )
    # Rejoin text by winner id (corpus ids are unique, so the pre-filter
    # frame works and skips recomputing the quality predicate on this side).
    winner_text = winners.select("doc_id").join(
        corpus.select("doc_id", "text"), "doc_id"
    )
    losers = minhash_pairs(winner_text).select(
        F.col("doc_b").alias("loser_id")
    )
    final = winners.join(
        losers, F.col("doc_id") == F.col("loser_id"), "left_anti"
    )
    return final.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@register("corpus_pipeline", oracle=_CORPUS_ORACLE, headline=True)
def corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality filter → exact dedup → per-language stats, one plan.

    Scale shape: everything the downstream stats need (lang, token count,
    char count) is projected to scalars *inside the scan stage*, so the
    dedup exchange carries only (md5, lang, n_tokens, n_chars) — the text
    column never leaves the scan. Rows in an md5 group are identical, so
    min() over the per-row scalars equals the winner row's values."""
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id", "text", "lang")
    # single-scan 2-layer synthesis (r16, guide §6 — see corpus_pipeline_full)
    corpus = base.select(
        F.explode(
            F.expr(
                "filter(array(struct(doc_id, text, lang), "
                "struct(doc_id + 1000000L as doc_id, text, lang)), "
                "(x, i) -> i = 0 or doc_id % 4 = 0)"
            )
        ).alias("r")
    ).select("r.doc_id", "r.text", "r.lang")
    words = F.split("text", " ")
    quality = corpus.filter(
        (F.size(words) >= 20)
        & (F.size(F.array_distinct(words)) / F.size(words) >= 0.4)
    )
    scalars = quality.select(
        F.md5("text").alias("h"),
        "lang",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )
    deduped = scalars.groupBy("h").agg(
        F.min("lang").alias("lang"),
        F.min("n_tokens").alias("n_tokens"),
        F.min("n_chars").alias("n_chars"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.sum(F.col("n_copies") - 1).alias("dups_removed"),
    )


# ----------------------------------------------------------------- shard_stats

_SHARD_ORACLE = """
SELECT
  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 64
    AS shard,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
  CAST(min(doc_id) AS BIGINT) AS min_doc_id,
  CAST(max(doc_id) AS BIGINT) AS max_doc_id
FROM documents
GROUP BY 1
"""


@register("shard_stats", oracle=_SHARD_ORACLE)
def shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard assignment audit: documents hash-route to 64
    output shards (the write layout for a training run — each shard one
    file sequence), and the per-shard doc/char/token totals prove the
    routing is balanced. The portable md5 hash makes the assignment
    reproducible across engines AND across runs — re-running the
    pipeline never moves a doc between shards. One partial-agg shuffle
    of 64 groups; at 100 TB this is `.repartition(N, shard).write`."""
    t = load_tables(spark, sf_dir)
    shard = (
        F.expr(
            "cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)"
        )
        % 64
    )
    return (
        t.documents.groupBy(shard.alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.size(F.split("text", " "))).cast("bigint").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# ------------------------------------------------------------ train_val_split

_SPLIT_ORACLE = """
WITH b AS (
  SELECT doc_id, n_chars,
         CAST('0x' || substr(md5('split_v1_' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 100 AS bucket,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
s AS (
  SELECT *,
         CASE WHEN bucket < 96 THEN 'train'
              WHEN bucket < 98 THEN 'val'
              ELSE 'test' END AS split
  FROM b
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM s GROUP BY split
"""


@register("train_val_split", oracle=_SPLIT_ORACLE)
def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 96/2/2 train/val/test split via a salted content-id
    hash — no RNG state, so the split is identical across runs, engines,
    and cluster sizes, and a re-crawled doc always lands in the same
    split (no train/test leakage from re-runs). The audit emits
    per-split doc/token/char totals; the same bucket expression is the
    `WHERE` a training job uses to read its split."""
    t = load_tables(spark, sf_dir)
    bucket = (
        F.expr(
            "cast(conv(substr(md5(concat('split_v1_', cast(doc_id as string))),"
            " 1, 8), 16, 10) as bigint)"
        )
        % 100
    )
    split = (
        F.when(bucket < 96, "train").when(bucket < 98, "val").otherwise("test")
    )
    return (
        t.documents.select(
            split.alias("split"),
            F.size(F.split("text", " ")).alias("n_tokens"),
            "n_chars",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# ----------------------------------------------------------------- chunk_dedup

_CHUNK_DEDUP_ORACLE = f"""
WITH docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
),
tok AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM docs2
),
chunks AS (
  SELECT doc_id,
         CAST((s - 1) // {_STEP} AS INTEGER) AS chunk_id,
         array_to_string(list_slice(words, s, s + {_CHUNK - 1}), ' ') AS chunk_text
  FROM tok, UNNEST(range(1, len(words) + 1, {_STEP})) AS u(s)
),
canon AS (
  SELECT (MIN(struct_pack(d := doc_id, c := chunk_id))).d AS keep_doc,
         COUNT(*) AS n_copies
  FROM chunks GROUP BY md5(chunk_text)
),
kept AS (
  SELECT keep_doc AS doc_id, COUNT(*) AS n_canonical,
         SUM(n_copies - 1) AS dups_absorbed
  FROM canon GROUP BY keep_doc
),
totals AS (
  SELECT doc_id, COUNT(*) AS n_chunks FROM chunks GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.n_chunks AS BIGINT) AS n_chunks,
       CAST(COALESCE(k.n_canonical, 0) AS BIGINT) AS n_canonical,
       CAST(COALESCE(k.dups_absorbed, 0) AS BIGINT) AS dups_absorbed
FROM totals t LEFT JOIN kept k ON t.doc_id = k.doc_id
"""


@register("chunk_dedup", oracle=_CHUNK_DEDUP_ORACLE)
def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (paragraph-level) dedup — the C4-style pass that
    removes boilerplate repeated ACROSS documents, which whole-document
    dedup can't see. Chunks dedupe by content hash with a (doc_id,
    chunk_id) struct-min picking the canonical copy; per-doc accounting
    reports how many chunks each doc keeps vs absorbs. Only (16-byte
    hash, ids) shuffle — chunk text stays in the scan stage."""
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id", "text")
    # single-scan 2-layer synthesis (r16, guide §6 — see corpus_pipeline_full)
    docs2 = base.select(
        F.explode(
            F.expr(
                "filter(array(struct(doc_id, text), "
                "struct(doc_id + 1000000L as doc_id, text)), "
                "(x, i) -> i = 0 or doc_id % 3 = 0)"
            )
        ).alias("r")
    ).select("r.doc_id", "r.text")
    tok = docs2.select("doc_id", F.split("text", " ").alias("words"))
    chunk_arr = F.expr(
        f"transform(sequence(1, size(words), {_STEP}), "
        f"s -> struct(cast((s - 1) div {_STEP} as int) as chunk_id, "
        f"array_join(slice(words, s, {_CHUNK}), ' ') as chunk_text))"
    )
    chunks = tok.select("doc_id", F.explode(chunk_arr).alias("c")).select(
        "doc_id", "c.chunk_id", F.md5("c.chunk_text").alias("h")
    )
    canon = chunks.groupBy("h").agg(
        F.min(F.struct("doc_id", "chunk_id")).getField("doc_id").alias("keep_doc"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    kept = canon.groupBy(F.col("keep_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_canonical"),
        F.sum(F.col("n_copies") - 1).alias("dups_absorbed"),
    )
    totals = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        F.col("n_chunks").cast("bigint").alias("n_chunks"),
        F.coalesce("n_canonical", F.lit(0)).cast("bigint").alias("n_canonical"),
        F.coalesce("dups_absorbed", F.lit(0)).cast("bigint").alias("dups_absorbed"),
    )


# ---------------------------------------------------------------- quality_topk

_TOPK_K = 5

_QTOPK_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang,
         len(list_distinct(string_split(text, ' ')))
           / len(string_split(text, ' ')) AS score
  FROM documents
),
ranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id)
           AS rk
  FROM scored
)
SELECT lang, CAST(rk AS INTEGER) AS rank, doc_id, ROUND(score, 6) AS score_r
FROM ranked WHERE rk <= {_TOPK_K}
"""


@register("quality_topk", oracle=_QTOPK_ORACLE)
def quality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus curation: the k highest-quality documents per
    language stratum (score = vocabulary-diversity ratio, deterministic
    doc_id tie-break).

    Scale shape: rank-limit pushdown — Catalyst's WindowGroupLimit
    rewrites the row_number()+filter(rank<=k) pair into a per-partition
    partial top-k BEFORE the shuffle, so only k rows per (stratum,
    input-partition) ride the exchange, not the corpus. The score is a
    division of the same two ints on both engines, so ordering is
    bit-identical cross-engine."""
    t = load_tables(spark, sf_dir)
    words = F.split("text", " ")
    score = F.size(F.array_distinct(words)) / F.size(words)
    scored = t.documents.select("doc_id", "lang", score.alias("score"))
    w = Window.partitionBy("lang").orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK_K)
        .select("lang", "rank", "doc_id", F.round("score", 6).alias("score_r"))
    )


# ------------------------------------------------------- pack_sequences_grouped

_PACK_G_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens FROM documents
),
packed AS (
  SELECT lang, n_tokens,
         CAST((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
              // {_BUDGET} AS BIGINT) AS bin_id
  FROM tok
)
SELECT lang, bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM packed GROUP BY lang, bin_id
"""


@register("pack_sequences_grouped", oracle=_PACK_G_ORACLE)
def pack_sequences_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-local sequence packing: the 100 TB shape of pack_sequences.
    A global doc_id order forces a single-partition window; packing
    WITHIN a group (language here; source shard in production) keeps the
    prefix-sum window partition-parallel — each group packs its own
    512-token bins independently, and the per-group agg reuses the same
    lang partitioning (one exchange total)."""
    t = load_tables(spark, sf_dir)
    tok = t.documents.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = tok.withColumn(
        "bin_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(_BUDGET)),
    )
    return packed.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


# ---------------------------------------------------------- stratified_sample

_STRAT_K = 20

_STRAT_ORACLE = f"""
WITH ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('strat_v1_' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
SELECT lang, CAST(rk AS INTEGER) AS rank, doc_id
FROM ranked WHERE rk <= {_STRAT_K}
"""


@register("stratified_sample", oracle=_STRAT_ORACLE)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum sampling (k docs per language): rank each
    stratum by a salted content-id hash and keep the first k — a
    deterministic reservoir. Unlike rate-based sample_corpus (keep
    probability per row), this guarantees the per-stratum COUNT — the
    contract an eval-set or annotation batch needs — while the hash
    ordering stays uniform, reproducible across engines and runs, and
    free of RNG state.

    Scale shape: the rank window is stratum-partitioned and
    WindowGroupLimit pushes rank<=k to a per-partition partial top-k
    before the shuffle, so only k rows per (stratum, input partition)
    ride the exchange."""
    t = load_tables(spark, sf_dir)
    salt = F.md5(F.concat(F.lit("strat_v1_"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(salt, "doc_id")
    return (
        t.documents.select("lang", "doc_id")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _STRAT_K)
        .select("lang", "rank", "doc_id")
    )


# ---------------------------------------------------------------- mix_balance

_MIX_SCALE = 1_000_000

_MIX_ORACLE = f"""
WITH c AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
),
m AS (SELECT MIN(n) AS mn FROM c),
r AS (SELECT c.lang, (m.mn * {_MIX_SCALE}) // c.n AS rate FROM c CROSS JOIN m)
SELECT d.lang, d.doc_id
FROM documents d JOIN r ON d.lang = r.lang
WHERE CAST('0x' || substr(md5('mix_v1_' || CAST(d.doc_id AS VARCHAR)), 1, 8)
      AS BIGINT) % {_MIX_SCALE} < r.rate
"""


@register("mix_balance", oracle=_MIX_ORACLE)
def mix_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Down-sample every language to the smallest language's share —
    the training-mix balancing step (C4/DoReMi-style: cap the dominant
    slice so no single stratum swamps the mixture; lang is the skewed
    axis in this corpus — en is ~3× fr). Acceptance is a salted md5
    threshold per row: deterministic, reproducible across engines and
    runs, no RNG state, and rate-exact in expectation
    (``rate = (min_count * 1e6) div count`` per language).

    Scale shape: per-language counts are a tiny partial-agg broadcast
    back onto the scan; the keep decision is a per-row hash compare in
    the scan stage — no shuffle of the documents themselves at all."""
    t = load_tables(spark, sf_dir)
    c = t.documents.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    m = c.agg(F.min("n").alias("mn"))
    r = c.crossJoin(F.broadcast(m)).select(
        "lang", F.expr(f"(mn * {_MIX_SCALE}) div n").alias("rate")
    )
    h = F.expr(
        "cast(conv(substr(md5(concat('mix_v1_', cast(doc_id as string))),"
        f" 1, 8), 16, 10) as bigint) % {_MIX_SCALE}"
    )
    return (
        t.documents.select("lang", "doc_id")
        .join(F.broadcast(r), "lang")
        .filter(h < F.col("rate"))
        .select("lang", "doc_id")
    )


# ----------------------------------------------------------------- group_split

_GROUP_SPLIT_ORACLE = """
WITH b AS (
  SELECT doc_id, source, n_chars,
         CAST('0x' || substr(md5('gsplit_v1_' || source), 1, 8)
              AS BIGINT) % 100 AS bucket,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
s AS (
  SELECT *,
         CASE WHEN bucket < 90 THEN 'train'
              WHEN bucket < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM b
)
SELECT split,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM s GROUP BY split
"""


@register("group_split", oracle=_GROUP_SPLIT_ORACLE)
def group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe grouped train/val/test split: the salted hash is
    taken over the GROUP key (``source`` — a domain, a crawl host, a
    data vendor), so every document of a group lands in the same split
    by construction. This is the split a pretraining pipeline needs when
    near-duplicates cluster within a group (same site, same template):
    ``train_val_split``'s doc-level hash would scatter those near-dups
    across train AND val and leak; hashing the group key cannot.

    Scale shape: identical to the doc-level split — the bucket is a
    scalar md5 expression computed in the scan, no RNG state, no join,
    no shuffle before the one bounded audit aggregation; a training job
    reads its split with the same expression as a pushed-down filter.
    The distinct-source count adds a partial-agg expansion on (split,
    source) — still bounded by group cardinality, not corpus size."""
    t = load_tables(spark, sf_dir)
    bucket = (
        F.expr(
            "cast(conv(substr(md5(concat('gsplit_v1_', source)),"
            " 1, 8), 16, 10) as bigint)"
        )
        % 100
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        t.documents.select(
            split.alias("split"),
            "source",
            F.size(F.split("text", " ")).alias("n_tokens"),
            "n_chars",
        )
        .groupBy("split")
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# ------------------------------------------------------------ dataset_card_stats

_CARD_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(len(string_split(text, ' '))) // COUNT(*) AS BIGINT)
         AS mean_tokens,
       CAST((1000 * (COUNT(*) - COUNT(DISTINCT md5(text)))) // COUNT(*)
         AS BIGINT) AS dup_permille
FROM documents
"""


@register("dataset_card_stats", oracle=_CARD_ORACLE)
def dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: the header block of a datasheet/data-card
    (doc count, source/language diversity, token and char volume, mean
    doc length, exact-dup permille) computed in ONE pass — the summary
    every corpus release ships and every ingestion gate re-checks.

    Scale shape: a single scan feeding one global aggregation; the
    distinct counts ride the same partial-agg expansion (text reduced
    to md5 in the scan — the heaviest distinct key that shuffles is 16
    bytes). At 100 TB the same query answers from the operator's
    natural companion store (shard_stats' per-shard partials) by
    summing mergeable partials instead of re-scanning; the one-pass
    form here is the from-scratch gate."""
    t = load_tables(spark, sf_dir)
    return (
        t.documents.select(
            "source",
            "lang",
            "n_chars",
            F.md5("text").alias("h"),
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.countDistinct("lang").alias("n_langs"),
            F.countDistinct("h").alias("n_unique_texts"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "*",
            F.expr("total_tokens div n_docs").alias("mean_tokens"),
            F.expr("(1000 * (n_docs - n_unique_texts)) div n_docs").alias(
                "dup_permille"
            ),
        )
    )


# ------------------------------------------------------------- mix_temperature

# alpha = 1/2 temperature via integer sqrt: target_i ∝ floor(sqrt(n_i)).
# _MIX_T_K scales how many docs each stratum targets (K·sqrt(n)).
_MIX_T_K = 12

_MIX_T_ORACLE = f"""
WITH c AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
),
r AS (
  SELECT lang, n,
         LEAST({_MIX_SCALE},
               ({_MIX_T_K} * CAST(FLOOR(SQRT(n)) AS BIGINT) * {_MIX_SCALE})
                 // n) AS rate
  FROM c
),
kept AS (
  SELECT d.lang
  FROM documents d JOIN r ON d.lang = r.lang
  WHERE CAST('0x' || substr(md5('mixt_v1_' || CAST(d.doc_id AS VARCHAR)), 1, 8)
        AS BIGINT) % {_MIX_SCALE} < r.rate
)
SELECT r.lang, r.n AS n_docs, r.rate AS rate_ppm,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
FROM r LEFT JOIN (
  SELECT lang, COUNT(*) AS n_kept FROM kept GROUP BY lang
) k ON r.lang = k.lang
"""


@register("mix_temperature", oracle=_MIX_T_ORACLE)
def mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture reweighting (α = ½): each language's
    keep-rate targets K·√n of its n documents, flattening the mixture
    toward low-resource strata WITHOUT capping everything to the
    smallest slice the way ``mix_balance`` does — the standard
    multilingual-LM sampling schedule (p_i ∝ n_i^α). α = ½ is computed
    as floor(sqrt(n)) so the rate is integer-exact: binary64 sqrt is
    correctly rounded and n ≤ 2^52, so both engines floor the same
    value — no libm drift at the decision boundary. Emits the
    per-language audit (count, rate in ppm, kept) rather than the kept
    rows; acceptance reuses the salted-md5 rule of ``mix_balance``
    (deterministic, RNG-free).

    Scale shape: identical to mix_balance — per-language counts are a
    tiny partial agg broadcast back onto the scan, the keep decision
    is a hash compare per row, and the audit rollup is a
    |langs|-group partial agg: documents themselves never shuffle."""
    t = load_tables(spark, sf_dir)
    c = t.documents.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    r = c.select(
        "lang",
        "n",
        F.least(
            F.lit(_MIX_SCALE),
            F.expr(
                f"({_MIX_T_K} * cast(floor(sqrt(n)) as bigint)"
                f" * {_MIX_SCALE}) div n"
            ),
        ).alias("rate_ppm"),
    )
    h = F.expr(
        "cast(conv(substr(md5(concat('mixt_v1_', cast(doc_id as string))),"
        f" 1, 8), 16, 10) as bigint) % {_MIX_SCALE}"
    )
    kept = (
        t.documents.select("lang", "doc_id")
        .join(F.broadcast(r), "lang")
        .filter(h < F.col("rate_ppm"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return r.join(kept, "lang", "left").select(
        "lang",
        F.col("n").alias("n_docs"),
        "rate_ppm",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
    )


# --------------------------------------------------------------- dsir_weights

_H32_SPARK = "cast(conv(substr(md5({s}), 1, 8), 16, 10) as bigint) % 2147483647"
_H32_DUCK = "CAST('0x' || substr(md5({s}), 1, 8) AS BIGINT) % 2147483647"
_DSIR_B = 1024  # hashed feature buckets

_DSIR_ORACLE = f"""
WITH b AS (
  SELECT doc_id, lang,
         ({_H32_DUCK.format(s='word')}) % {_DSIR_B} AS bkt,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (
    SELECT doc_id, lang,
           unnest(string_split(text || repeat(' tok_' || lang, 5), ' ')) AS word
    FROM documents
  ) w
  GROUP BY doc_id, lang, bkt
),
gc AS (
  SELECT bkt,
         CAST(SUM(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS BIGINT) AS tgt_c,
         CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE cnt END) AS BIGINT) AS src_c
  FROM b GROUP BY bkt
),
wt AS (
  SELECT bkt,
         CAST(length(bin(tgt_c + 1)) - length(bin(src_c + 1)) AS BIGINT) AS wgt
  FROM gc
)
SELECT b.doc_id, MIN(b.lang) AS lang,
       CAST(SUM(b.cnt) AS BIGINT) AS n_words,
       CAST(SUM(b.cnt * wt.wgt) AS BIGINT) AS dsir_score
FROM b JOIN wt ON wt.bkt = b.bkt
GROUP BY b.doc_id
"""


@register("dsir_weights", oracle=_DSIR_ORACLE)
def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by how much its hashed-unigram profile looks like the
    target distribution (here lang='en' stands in for the curated
    target corpus) versus the raw source distribution. The standard
    pretraining-curation selector when you have a small trusted corpus
    and a huge crawl. The synthetic corpus shares one vocabulary
    across languages (zero unigram signal — every bucket weight
    collapses to a constant), so per-language marker tokens are
    appended deterministically (the pii_redact injection pattern) and
    the oracle mirrors the injection; a real corpus replaces only the
    tokenizer stage.

    The log-likelihood-ratio is computed in EXACT integer arithmetic:
    per-bucket weight is length(bin(tgt+1)) - length(bin(src+1)) —
    floor(log2)+1 of add-one-smoothed counts via binary-string length,
    identical on both engines (no libm log, whose ln(x)/ln(2) form is
    inexact at powers of two), so per-doc scores are bit-stable.

    Scale shape: ONE explode pass reduces each document to its hashed
    bucket histogram ((doc_id, int, count) rows — text never leaves
    the scan stage); the global target/source counts aggregate that
    histogram down to exactly {_DSIR_B} rows, which broadcast back
    onto it. Both wide exchanges carry integer triples; the second
    scan of the corpus a naive two-pass DSIR would do is gone because
    the doc-level histogram serves both the global estimate and the
    per-doc score."""
    t = load_tables(spark, sf_dir)
    bkt = F.expr(_H32_SPARK.format(s="word")) % _DSIR_B
    b = (
        t.documents.select(
            "doc_id",
            "lang",
            F.explode(
                F.split(
                    F.concat(
                        "text",
                        F.repeat(F.concat(F.lit(" tok_"), F.col("lang")), 5),
                    ),
                    " ",
                )
            ).alias("word"),
        )
        .select("doc_id", "lang", bkt.alias("bkt"))
        .groupBy("doc_id", "lang", "bkt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    b = b.persist()
    gc = b.groupBy("bkt").agg(
        F.sum(F.when(F.col("lang") == "en", F.col("cnt")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("tgt_c"),
        F.sum(F.when(F.col("lang") == "en", F.lit(0)).otherwise(F.col("cnt")))
        .cast("bigint")
        .alias("src_c"),
    )
    wt = gc.select(
        "bkt",
        (
            F.length(F.bin(F.col("tgt_c") + 1)) - F.length(F.bin(F.col("src_c") + 1))
        )
        .cast("bigint")
        .alias("wgt"),
    )
    return (
        b.join(F.broadcast(wt), "bkt")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.col("wgt")).cast("bigint").alias("dsir_score"),
        )
    )


# ---------------------------------------------------------- packing_efficiency

_PACK_EFF_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, doc_id // {_PACK_SHARD} AS shard,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
packed AS (
  SELECT shard, n_tokens,
         CAST((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
              // {_BUDGET} AS BIGINT) AS bin_id
  FROM tok
),
bins AS (
  SELECT shard, bin_id,
         CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
  FROM packed GROUP BY shard, bin_id
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(bin_tokens) AS BIGINT) AS total_tokens,
       CAST((SUM(bin_tokens) + {_BUDGET - 1}) // {_BUDGET} AS BIGINT)
         AS lower_bound_bins,
       CAST(SUM(CASE WHEN bin_tokens > {_BUDGET} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overflow,
       CAST(SUM(CASE WHEN bin_tokens < {_BUDGET}
                     THEN {_BUDGET} - bin_tokens ELSE 0 END)
            AS BIGINT) AS padding_tokens,
       CAST(1000000 * SUM(CASE WHEN bin_tokens < {_BUDGET}
                               THEN {_BUDGET} - bin_tokens ELSE 0 END)
            // (COUNT(*) * {_BUDGET}) AS BIGINT) AS waste_ppm
FROM bins GROUP BY shard
"""


@register("packing_efficiency", oracle=_PACK_EFF_ORACLE)
def packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-waste audit over :func:`pack_sequences`' bins — the
    number a production corpus build actually watches: per shard, how
    many {_BUDGET}-token bins the streaming packer opened vs the
    ``ceil(total/{_BUDGET})`` lower bound any packer must pay, how many
    bins overflowed (the streaming packer's one-doc overshoot trade),
    and the padding mass in ppm of opened capacity. A waste_ppm drift
    upward after a corpus change (longer docs, different shard key) is
    the signal to re-shard BEFORE burning accelerator hours on pad
    tokens.

    Composes over the registered packer's own bin output, so the
    audited numbers are definitionally the shipped packing, not a
    re-derivation that could drift. Scale shape: inherits
    pack_sequences' shard-parallel prefix-sum window (no global order,
    no single-partition exchange); the audit adds one (shard, 5×int64)
    map-side-combined rollup on the SAME shard key the window already
    partitioned by, so AQE sees a no-op repartition. Integer ppm by
    bigint floor-div keeps the oracle exact."""
    bins = pack_sequences(spark, sf_dir)
    b = F.col("total_tokens")
    waste = F.when(b < _BUDGET, _BUDGET - b).otherwise(F.lit(0))
    return bins.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum(b).cast("bigint").alias("total_tokens"),
        F.expr(f"(sum(total_tokens) + {_BUDGET - 1}) div {_BUDGET}")
        .cast("bigint")
        .alias("lower_bound_bins"),
        F.sum(F.when(b > _BUDGET, 1).otherwise(0))
        .cast("bigint")
        .alias("n_overflow"),
        F.sum(waste).cast("bigint").alias("padding_tokens"),
        F.expr(
            f"1000000 * sum(case when total_tokens < {_BUDGET} "
            f"then {_BUDGET} - total_tokens else 0 end) "
            f"div (count(*) * {_BUDGET})"
        )
        .cast("bigint")
        .alias("waste_ppm"),
    )


# -------------------------------------------------------------- corpus_shuffle

_SHUF_SHARDS = 8
_SHUF_PRIME = 1_000_000_007

_SHUF_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('shuf_v1_' || CAST(doc_id AS VARCHAR)),
               1, 8))::BIGINT % {_SHUF_SHARDS} AS BIGINT) AS shard,
         substr(md5('shuf_v1_' || CAST(doc_id AS VARCHAR)), 9, 16) AS rank_key
  FROM documents
),
ordered AS (
  SELECT shard, doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY shard
                ORDER BY rank_key, doc_id) AS BIGINT) AS pos
  FROM keyed
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(SUM((doc_id % {_SHUF_PRIME}) * (pos % {_SHUF_PRIME})
                % {_SHUF_PRIME}) % {_SHUF_PRIME} AS BIGINT) AS order_checksum
FROM ordered GROUP BY shard
"""


@register("corpus_shuffle", oracle=_SHUF_ORACLE)
def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, RNG-free training-order shuffle — the step between
    corpus freeze and shard export: every document gets a salted-md5
    rank key, is routed to one of {_SHUF_SHARDS} shards by an
    independent slice of the same digest, and receives its position in
    the shard's shuffled order. Replaying the pipeline reproduces the
    exact byte order of every training shard (the property data-loader
    debugging and loss-spike forensics depend on); changing the salt is
    a full reshuffle.

    The audit row per shard pins the ORDER itself, not just membership:
    ``order_checksum`` folds (doc_id × position) mod p, so any swap of
    two positions changes it — two engines agreeing means they ordered
    every document identically.

    Scale shape: rank key and shard are in-scan md5 arithmetic; the one
    corpus-sized exchange is the shard-keyed sort the shuffle IS (Spark
    sorts within partitions after hash-partitioning on shard — no
    global order, no single-partition window; the same shape
    pack_sequences pins). The rollup reuses the shard partitioning, so
    the whole plan carries one exchange. All arithmetic is bigint mod a
    31-bit prime — products stay under 2^62, bit-identical across
    engines."""
    t = load_tables(spark, sf_dir)
    digest = F.md5(F.concat(F.lit("shuf_v1_"), F.col("doc_id").cast("string")))
    keyed = t.documents.select(
        "doc_id",
        (
            F.expr(
                "cast(conv(substr(md5(concat('shuf_v1_', "
                f"cast(doc_id as string))), 1, 8), 16, 10) as bigint) % {_SHUF_SHARDS}"
            )
        ).alias("shard"),
        F.substring(digest, 9, 16).alias("rank_key"),
    )
    w = Window.partitionBy("shard").orderBy("rank_key", "doc_id")
    ordered = keyed.select(
        "shard",
        "doc_id",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )
    p = _SHUF_PRIME
    return ordered.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.expr(
            f"sum((doc_id % {p}) * (pos % {p}) % {p}) % {p}"
        )
        .cast("bigint")
        .alias("order_checksum"),
    )


# ----------------------------------------------------------- chunk_dedup_rewrite

# Non-overlapping 40-word segments: a rewrite must partition the doc
# (the 10-word overlap text_chunks/chunk_dedup use would duplicate
# words at the seams when segments are re-joined).
_RW_SEG = 40

_CHUNK_RW_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
),
tok AS (SELECT doc_id, string_split(text, ' ') AS words FROM base),
segs AS (
  SELECT doc_id,
         CAST((s - 1) // {_RW_SEG} AS INTEGER) AS seg_id,
         array_to_string(list_slice(words, s, s + {_RW_SEG - 1}), ' ')
           AS seg_text
  FROM tok, UNNEST(range(1, len(words) + 1, {_RW_SEG})) AS u(s)
),
ranked AS (
  SELECT doc_id, seg_id, seg_text,
         row_number() OVER (PARTITION BY md5(seg_text)
                            ORDER BY doc_id, seg_id) AS rn
  FROM segs
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segs,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(string_agg(CASE WHEN rn = 1 THEN seg_text END,
                      ' ' ORDER BY seg_id)) AS new_fp
FROM ranked GROUP BY doc_id
"""


@register("chunk_dedup_rewrite", oracle=_CHUNK_RW_ORACLE)
def chunk_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup as a REWRITE, not just an audit: the
    C4/RefinedWeb-style pass that actually drops repeated segments from
    the corpus. Docs split into non-overlapping 40-word segments; each
    distinct segment keeps exactly one canonical copy (global
    first-occurrence by (doc_id, seg_id)); every doc is re-assembled
    from its surviving segments in original order. Output per doc:
    segment counts and the md5 fingerprint of the rewritten text — a
    doc whose every segment is absorbed elsewhere fingerprints NULL
    (the all-dropped case string_agg-over-no-rows defines; the same
    guard boilerplate_lines needed). ``chunk_dedup`` reports what WOULD
    be removed; this operator removes it.

    Scale shape: the dedup decision shuffles (16-byte hash, one
    bigint) only — segment TEXT never rides the hash exchange, and the
    keeper is min() over a single ``doc_id·2²⁰ + seg_id`` bigint (the
    lexicographic (doc_id, seg_id) order, encoded) so both aggregate
    stages stay HashAggregate inside codegen — a min(struct) keeper
    measured 14.6× on the 10×→100× step because it forces
    SortAggregate, i.e. two full sorts of the segment table. The
    keep-list collapses to one (doc_id, int array) row per doc before
    the single doc-keyed join back to the corpus; the join exchange
    carries RAW text (splitting after the join, not before — a
    pre-join split ships fat serialized word arrays through the
    shuffle), and segments re-derive in the post-join projection. So
    text moves exactly once (the unavoidable doc-keyed join that
    produces a text-derived output), and everything else is scalar.
    Planted duplication (every 3rd doc re-issued under a new id, as in
    chunk_dedup) guarantees the rewrite path has real work: every
    planted copy re-assembles to NULL."""
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id", "text")
    # single-scan 2-layer synthesis (r16, guide §6 — see corpus_pipeline_full)
    docs2 = base.select(
        F.explode(
            F.expr(
                "filter(array(struct(doc_id, text), "
                "struct(doc_id + 1000000L as doc_id, text)), "
                "(x, i) -> i = 0 or doc_id % 3 = 0)"
            )
        ).alias("r")
    ).select("r.doc_id", "r.text")
    seg_arr = F.expr(
        f"transform(sequence(1, size(words), {_RW_SEG}), "
        f"s -> struct(cast((s - 1) div {_RW_SEG} as int) as seg_id, "
        f"array_join(slice(words, s, {_RW_SEG}), ' ') as seg_text))"
    )
    # seg_id < 2^20 (a million 40-word segments ≈ 40M words per doc);
    # the encoded bigint preserves (doc_id, seg_id) lexicographic order
    segs = (
        docs2.select("doc_id", F.split("text", " ").alias("words"))
        .select("doc_id", F.explode(seg_arr).alias("s"))
        .select(
            F.md5("s.seg_text").alias("h"),
            (F.col("doc_id") * (1 << 20) + F.col("s.seg_id")).alias("k"),
        )
    )
    keepers = segs.groupBy("h").agg(F.min("k").alias("k"))
    kept_ids = (
        keepers.select(
            F.expr(f"k div {1 << 20}").alias("doc_id"),
            (F.col("k") % (1 << 20)).cast("int").alias("seg_id"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("seg_id")).alias("kept"))
    )
    rebuilt = (
        docs2.join(kept_ids, "doc_id", "left")
        .withColumn("words", F.split("text", " "))
        .withColumn("segs", seg_arr)
        .select(
            "doc_id",
            F.size("segs").cast("bigint").alias("n_segs"),
            F.coalesce(F.size("kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            # positional rebuild: segs[i] has seg_id == i-1 by
            # construction and kept is sort_array'd, so indexing by
            # kept is O(n_kept) and preserves original order — a
            # filter(segs, array_contains(kept, ...)) scan would be
            # O(n_segs * n_kept), quadratic in document length
            F.expr(
                "transform(coalesce(kept, array()), "
                "sid -> element_at(segs, sid + 1))"
            ).alias("keep_segs"),
        )
    )
    return rebuilt.select(
        "doc_id",
        "n_segs",
        "n_kept",
        F.when(
            F.size("keep_segs") > 0,
            F.md5(
                F.array_join(
                    F.expr("transform(keep_segs, s -> s.seg_text)"), " "
                )
            ),
        ).alias("new_fp"),
    )


# ---------------------------------------------------------------- mix_schedule

# Multi-phase mixture ANNEALING: modern pretraining runs change the
# sampling temperature over training (natural mixture for bulk
# warm-up, progressively flatter — low-resource-up-weighted — toward
# the end). Each phase p has a token budget and an alpha in
# {1, 1/2, 1/4}; per-source weights are w_i = floor(n_i^alpha),
# computed as iterated integer sqrt so both engines agree exactly
# (binary64 sqrt is correctly rounded and n <= 2^52 — the
# mix_temperature argument, applied twice for alpha = 1/4). Token
# allocations are integer cross-multiplications of the phase budget —
# no FP division anywhere.
_MIX_SCHED = [  # (phase, alpha_halvings, token_budget)
    (1, 0, 10_000_000),  # warm-up: natural mixture
    (2, 1, 6_000_000),   # mid: alpha = 1/2
    (3, 2, 2_000_000),   # anneal: alpha = 1/4
]


def _mix_sched_oracle() -> str:
    w_cases = []
    for phase, halvings, budget in _MIX_SCHED:
        expr = "n"
        for _ in range(halvings):
            expr = f"CAST(FLOOR(SQRT({expr})) AS BIGINT)"
        w_cases.append(
            f"SELECT {phase} AS phase, CAST({budget} AS BIGINT) AS budget,"
            f" lang, n, {expr} AS w FROM c"
        )
    return f"""
WITH c AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
),
w AS (
  {" UNION ALL ".join(w_cases)}
),
s AS (
  SELECT phase, CAST(SUM(w) AS BIGINT) AS sw FROM w GROUP BY phase
)
SELECT w.phase, w.lang, w.n AS n_docs,
       CAST(w.w * 1000000 // s.sw AS BIGINT) AS share_ppm,
       CAST(w.budget * w.w // s.sw AS BIGINT) AS tok_alloc
FROM w JOIN s USING (phase)
"""


@register("mix_schedule", oracle=_mix_sched_oracle())
def mix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-phase mixture annealing schedule: per (phase, source) the
    sampling share and token allocation for a 3-phase train — natural
    mixture for warm-up, alpha=1/2 mid-train, alpha=1/4 for the
    anneal (the temperature-over-time schedule modern pretraining data
    cards publish; ``mix_temperature`` is one phase of it). Weights
    are iterated integer sqrt (exact cross-engine), allocations are
    integer cross-multiplications of each phase's token budget.

    Domain bound: the ``w * 1e6`` and ``budget * w`` intermediates
    live in int64, so the schedule is valid while every per-source
    weight stays under ~9.2e12 (phase 1's weight is the raw doc
    count; that is ~10^3 × the public web per source). Past that,
    promote the two products to DECIMAL(38,0)/HUGEINT — the sqrt
    exactness argument itself holds to 2^52.

    Scale shape: ONE corpus exchange (the per-source count partial
    agg); everything after runs on |sources| x |phases| rows. The
    schedule table is what the training loader consumes — documents
    themselves never move."""
    t = load_tables(spark, sf_dir)
    c = t.documents.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    phases = spark.createDataFrame(
        [(p, h, b) for p, h, b in _MIX_SCHED],
        "phase int, halvings int, budget bigint",
    )
    w_expr = F.when(F.col("halvings") == 0, F.col("n"))
    expr = "n"
    for h in (1, 2):
        expr = f"cast(floor(sqrt({expr})) as bigint)"
        w_expr = w_expr.when(F.col("halvings") == h, F.expr(expr))
    w = c.crossJoin(F.broadcast(phases)).select(
        "phase", "budget", "lang", "n", w_expr.alias("w")
    )
    s = w.groupBy("phase").agg(F.sum("w").cast("bigint").alias("sw"))
    return w.join(F.broadcast(s), "phase").select(
        "phase",
        "lang",
        F.col("n").alias("n_docs"),
        F.expr("w * 1000000 div sw").cast("bigint").alias("share_ppm"),
        F.expr("budget * w div sw").cast("bigint").alias("tok_alloc"),
    )


# -------------------------------------------------------------------- sft_pack

# Instruction-tuning data prep: documents become chat-formatted
# (prompt, response) examples — prompt = the first min(16, n/2) words,
# response = the rest, plus 4 special tokens (<|system|>, <|user|>,
# <|assistant|>, <|end|>) — packed into 2048-token bins with the
# offset-based streaming packer pack_sequences uses, and the LOSS MASK
# accounted per bin: only response tokens and the final <|end|> train;
# prompt/template tokens are masked. The trained-fraction per bin is
# the number every SFT data card reports (and the knob batch-shaping
# tunes); all arithmetic is integer word counts, exact on both engines.
_SFT_BUDGET = 2048
_SFT_SHARD = 100
_SFT_SPECIALS = 4   # system, user, assistant, end markers
_SFT_PROMPT_CAP = 16

_SFT_ORACLE = f"""
WITH ex AS (
  SELECT doc_id, doc_id // {_SFT_SHARD} AS shard,
         GREATEST(1, LEAST({_SFT_PROMPT_CAP},
                           len(string_split(text, ' ')) // 2)) AS n_prompt,
         len(string_split(text, ' ')) AS n_words
  FROM documents
),
sized AS (
  SELECT doc_id, shard, n_prompt,
         n_words - n_prompt AS n_resp,
         n_words + {_SFT_SPECIALS} AS total,
         n_words - n_prompt + 1 AS trained
  FROM ex
),
binned AS (
  SELECT shard, total, trained,
         CAST((SUM(total) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - total)
              // {_SFT_BUDGET} AS BIGINT) AS bin_id
  FROM sized
)
SELECT CAST(shard AS BIGINT) AS shard, bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_examples,
       CAST(SUM(total) AS BIGINT) AS total_tokens,
       CAST(SUM(trained) AS BIGINT) AS trained_tokens,
       CAST(SUM(trained) * 1000000 // SUM(total) AS BIGINT) AS trained_ppm
FROM binned GROUP BY shard, bin_id
"""


@register("sft_pack", oracle=_SFT_ORACLE)
def sft_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT example packing with loss-mask accounting: documents become
    chat-formatted (prompt, response) examples (prompt = first
    min({_SFT_PROMPT_CAP}, n/2) words + {_SFT_SPECIALS} template
    specials), packed into {_SFT_BUDGET}-token bins by the streaming
    offset packer (``pack_sequences``' shape), and per bin the MASK
    arithmetic every SFT data card reports: total vs trained tokens
    (response + the final end marker train; prompt/template mask out)
    and the trained fraction in ppm.

    Scale shape: identical to pack_sequences — per-example scalars
    come out of the scan, packing runs WITHIN contiguous doc_id
    shards (one (shard)-keyed exchange, window inside the shard), and
    the bin rollup is a partial agg; text never leaves the scan."""
    t = load_tables(spark, sf_dir)
    n_words = F.size(F.split("text", " "))
    sized = t.documents.select(
        "doc_id",
        F.expr(f"doc_id div {_SFT_SHARD}").alias("shard"),
        F.greatest(
            F.lit(1), F.least(F.lit(_SFT_PROMPT_CAP), n_words / 2)
        ).cast("int").alias("n_prompt"),
        n_words.alias("n_words"),
    ).select(
        "doc_id",
        "shard",
        (F.col("n_words") + _SFT_SPECIALS).alias("total"),
        (F.col("n_words") - F.col("n_prompt") + 1).alias("trained"),
    )
    binned = sized.select(
        "shard",
        "total",
        "trained",
        F.expr(f"(sum(total) over (partition by shard order by doc_id"
               f" rows between unbounded preceding and current row)"
               f" - total) div {_SFT_BUDGET}").alias("bin_id"),
    )
    return binned.groupBy("shard", "bin_id").agg(
        F.count(F.lit(1)).alias("n_examples"),
        F.sum("total").cast("bigint").alias("total_tokens"),
        F.sum("trained").cast("bigint").alias("trained_tokens"),
        F.expr("sum(trained) * 1000000 div sum(total)")
        .cast("bigint")
        .alias("trained_ppm"),
    ).select(
        F.col("shard").cast("bigint").alias("shard"),
        "bin_id",
        "n_examples",
        "total_tokens",
        "trained_tokens",
        "trained_ppm",
    )


# ------------------------------------------------------------- span_corruption

# Span-corruption (T5/UL2-style) objective prep: the pipeline stage
# that decides WHICH token spans mask before examples are written.
# Deterministic variant on a 3-token grid: grid cell c of a document
# masks its 3 tokens iff md5('span_v1_<doc_id>_<c>') % 20 < 3 — a 15%
# expected corruption rate in mean-3 spans, non-overlapping by
# construction (the grid), reproducible across engines and runs (the
# mix_balance salted-hash rule; no RNG). The tail cell masks only the
# tokens that exist.
_SPAN_GRID = 3
_SPAN_SEL_NUM = 3    # cells selected per
_SPAN_SEL_DEN = 20   # ... 20 -> 15% token corruption

_SPAN_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_words FROM documents
),
cells AS (
  SELECT doc_id, n_words, u.c,
         LEAST({_SPAN_GRID}, n_words - u.c * {_SPAN_GRID}) AS cell_len,
         (CAST('0x' || substr(md5('span_v1_' || CAST(doc_id AS VARCHAR)
             || '_' || CAST(u.c AS VARCHAR)), 1, 8) AS BIGINT)
          % {_SPAN_SEL_DEN}) < {_SPAN_SEL_NUM} AS sel
  FROM tok,
       UNNEST(range(0, CAST(ceil(n_words / {_SPAN_GRID}.0) AS BIGINT))) AS u(c)
)
SELECT doc_id,
       CAST(MIN(n_words) AS BIGINT) AS n_words,
       CAST(SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN sel THEN cell_len ELSE 0 END) AS BIGINT)
         AS n_masked,
       CAST(SUM(CASE WHEN sel THEN cell_len ELSE 0 END) * 1000000
            // MIN(n_words) AS BIGINT) AS mask_ppm
FROM cells GROUP BY doc_id
"""


@register("span_corruption", oracle=_SPAN_ORACLE)
def span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption objective prep (T5/UL2): per document, the
    deterministic mask plan — how many mean-{_SPAN_GRID} spans and
    tokens will corrupt at the {_SPAN_SEL_NUM}/{_SPAN_SEL_DEN} cell
    rate (15% expected) — the accounting a span-denoising example
    writer needs before emitting sentinel-delimited pairs. Selection
    is a salted md5 per (doc, grid-cell): reproducible across engines,
    runs, and partitionings; spans never overlap (grid construction).

    Scale shape: one scan, zero exchanges before the per-doc result —
    the grid explodes to n/{_SPAN_GRID} cells per doc INSIDE the scan
    (array transform + aggregate, no join), and only 5 scalars leave
    per document. The 100 TB cost is the read plus one md5 per 3
    tokens — the dsir_weights/eval_leakage per-token-hash class."""
    t = load_tables(spark, sf_dir)
    # n_words projects FIRST so the per-cell lambda references the
    # scalar, not size(split(text)) — Catalyst does not hoist
    # loop-invariant subexpressions out of HOF lambdas, and re-splitting
    # the text per grid cell would make the kernel O(W^2) per document
    # (the oracle's tok CTE has the same shape)
    cells = F.expr(
        f"transform(sequence(0, cast(ceil(n_words /"
        f" {_SPAN_GRID}.0D) as int) - 1), c -> struct("
        f"least({_SPAN_GRID}L, n_words - c * {_SPAN_GRID})"
        f" as cell_len,"
        f" (cast(conv(substr(md5(concat('span_v1_', cast(doc_id as string),"
        f" '_', cast(c as string))), 1, 8), 16, 10) as bigint)"
        f" % {_SPAN_SEL_DEN}) < {_SPAN_SEL_NUM} as sel))"
    )
    per_doc = t.documents.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
    ).select(
        "doc_id",
        "n_words",
        cells.alias("cells"),
    ).select(
        "doc_id",
        "n_words",
        F.expr("size(filter(cells, x -> x.sel))").cast("bigint").alias("n_spans"),
        F.expr(
            "aggregate(filter(cells, x -> x.sel), 0L,"
            " (acc, x) -> acc + x.cell_len)"
        ).alias("n_masked"),
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        "n_spans",
        "n_masked",
        F.expr("n_masked * 1000000 div n_words").alias("mask_ppm"),
    )


# ------------------------------------------------------------------- dpo_pairs

# Preference-pair construction (DPO/RLHF data prep): candidate
# responses pair up and an automated quality signal picks chosen vs
# rejected — the bootstrap that builds synthetic preference sets
# before human labels exist. Deterministic form: within a language,
# DISJOINT adjacent documents pair — (1st,2nd), (3rd,4th), ... in
# doc_id order, so no document is chosen in one pair and rejected in
# the next (sliding pairs would double-count every interior doc and
# inflate the margin distribution); the quality signal is the
# integer distinct-word ppm (quality_score's lexical-diversity core);
# ties DROP (a preference pair with no margin teaches nothing — the
# standard filter). Margins stay integer ppm end to end.
_DPO_ORACLE = """
WITH q AS (
  SELECT doc_id, lang,
         CAST(len(list_distinct(string_split(text, ' '))) * 1000000
              // len(string_split(text, ' ')) AS BIGINT) AS q
  FROM documents
),
paired AS (
  SELECT lang, q, q2 FROM (
    SELECT lang, q,
           LEAD(q) OVER (PARTITION BY lang ORDER BY doc_id) AS q2,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
    FROM q
  ) WHERE rn % 2 = 1
)
SELECT lang,
       CAST(SUM(CASE WHEN q <> q2 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN q = q2 THEN 1 ELSE 0 END) AS BIGINT) AS n_ties,
       CAST(SUM(CASE WHEN q <> q2 THEN abs(q - q2) ELSE 0 END) AS BIGINT)
         AS sum_margin,
       CAST(CASE WHEN SUM(CASE WHEN q <> q2 THEN 1 ELSE 0 END) = 0 THEN 0
            ELSE SUM(CASE WHEN q <> q2 THEN abs(q - q2) ELSE 0 END)
                 // SUM(CASE WHEN q <> q2 THEN 1 ELSE 0 END) END AS BIGINT)
         AS mean_margin
FROM paired WHERE q2 IS NOT NULL
GROUP BY lang
"""


@register("dpo_pairs", oracle=_DPO_ORACLE)
def dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction audit (DPO/RLHF data prep): within
    each language, DISJOINT adjacent documents pair ((1st,2nd),
    (3rd,4th), ... — no doc appears in two pairs) and the integer
    lexical-diversity signal (distinct-word ppm) picks chosen vs
    rejected; zero-margin ties drop (they teach nothing). Per
    language: usable pairs, dropped ties, and the total/mean quality
    margin — the distribution a preference-data card reports and the
    filter knob (min-margin) tunes.

    Scale shape: the quality scalar computes in-scan (text never
    leaves); pairing is one lang-keyed window over (lang, q) scalar
    rows; the rollup is a |langs|-group partial agg. Integer ppm
    arithmetic end to end — exact on both engines."""
    t = load_tables(spark, sf_dir)
    q = t.documents.select(
        "doc_id",
        "lang",
        F.expr(
            "cast(size(array_distinct(split(text, ' '))) as bigint)"
            " * 1000000 div size(split(text, ' '))"
        ).cast("bigint").alias("q"),
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    paired = (
        q.select(
            "lang",
            "q",
            F.lead("q").over(w).alias("q2"),
            F.row_number().over(w).alias("rn"),
        )
        .filter((F.col("rn") % 2 == 1) & F.col("q2").isNotNull())
        .select("lang", "q", "q2")
    )
    tie = F.col("q") == F.col("q2")
    agg = paired.groupBy("lang").agg(
        F.sum((~tie).cast("int")).cast("bigint").alias("n_pairs"),
        F.sum(tie.cast("int")).cast("bigint").alias("n_ties"),
        F.sum(
            F.when(~tie, F.abs(F.col("q") - F.col("q2"))).otherwise(F.lit(0))
        ).cast("bigint").alias("sum_margin"),
    )
    return agg.select(
        "lang",
        "n_pairs",
        "n_ties",
        "sum_margin",
        F.when(F.col("n_pairs") == 0, F.lit(0))
        .otherwise(F.expr("sum_margin div n_pairs"))
        .cast("bigint")
        .alias("mean_margin"),
    )


# --------------------------------------------------------- importance_resample

# DSIR's second half (Xie et al. 2023): dsir_weights ESTIMATES per-doc
# importance; this op MATERIALIZES the resample — a deterministic
# Bernoulli accept with probability proportional to the weight, via
# md5(doc_id) % 1e6 < weight_ppm (the mix_temperature accept recipe,
# per-DOC instead of per-group). The stand-in weight is the integer
# lexical-diversity ppm (dpo_pairs' quality signal); a production run
# plugs dsir_score through the identical accept gate.
_IMP_RESAMPLE_ORACLE = """
WITH q AS (
  SELECT doc_id, lang,
         CAST(len(list_distinct(string_split(text, ' '))) * 1000000
              // len(string_split(text, ' ')) AS BIGINT) AS q
  FROM documents
),
acc AS (
  SELECT lang, q,
         CASE WHEN CAST('0x' || substr(md5('imprs_v1_' ||
                CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000000 < q
              THEN 1 ELSE 0 END AS kept
  FROM q
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(SUM(q) AS BIGINT) AS sum_q_ppm,
       CAST(SUM(kept * q) AS BIGINT) AS sum_q_kept_ppm,
       CAST(SUM(kept) * 1000000 // COUNT(*) AS BIGINT) AS kept_ppm
FROM acc GROUP BY lang
"""


@register("importance_resample", oracle=_IMP_RESAMPLE_ORACLE)
def importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-resampling materialization (DSIR, Xie et al. 2023):
    accept each document with probability proportional to its
    importance weight, via the deterministic gate ``md5(doc_id) % 1e6
    < weight_ppm`` — reproducible across engines, runs, and
    partitionings, and embarrassingly parallel (no sort, no global
    state — the property that makes weighted selection feasible at
    100 TB, unlike quota-based top-k selection which needs a global
    order). Per-language audit: docs, kept docs, total and kept
    importance mass, and the realized keep rate — kept mean quality
    should exceed the population mean, which the two sums expose.

    Scale shape: the weight and the accept bit both compute in-scan
    (one md5 per doc; text never leaves the scan); the only exchange
    is the |langs|-group rollup of 4 int64 partials."""
    t = load_tables(spark, sf_dir)
    q = F.expr(
        "cast(size(array_distinct(split(text, ' '))) as bigint)"
        " * 1000000 div size(split(text, ' '))"
    ).cast("bigint")
    h = F.expr(
        "cast(conv(substr(md5(concat('imprs_v1_',"
        " cast(doc_id as string))), 1, 8), 16, 10) as bigint) % 1000000"
    )
    acc = t.documents.select(
        "lang", q.alias("q"), (h < q).cast("int").alias("kept")
    )
    return acc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("kept").cast("bigint").alias("n_kept"),
        F.sum("q").cast("bigint").alias("sum_q_ppm"),
        F.sum(F.col("kept") * F.col("q")).cast("bigint").alias("sum_q_kept_ppm"),
    ).select(
        "lang",
        "n_docs",
        "n_kept",
        "sum_q_ppm",
        "sum_q_kept_ppm",
        F.expr("n_kept * 1000000 div n_docs").alias("kept_ppm"),
    )


# ------------------------------------------------------------------- fim_plan

# Fill-in-the-middle transform plan (Bavarian et al. 2022, "Efficient
# Training of Language Models to Fill in the Middle"): per document,
# two deterministic cut points split tokens into prefix/middle/suffix;
# 90% of docs transform (the paper's FIM rate), half PSM / half SPM
# order. Like span_corruption, this op emits the per-source ACCOUNTING
# of the rearrangement (the example writer consumes the same cuts).
_FIM_RATE_NUM, _FIM_RATE_DEN = 9, 10


def _fim_h(salt: str) -> str:
    return (
        f"cast(conv(substr(md5(concat('{salt}',"
        " cast(doc_id as string))), 1, 8), 16, 10) as bigint)"
    )


_FIM_ORACLE = f"""
WITH base AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
         CAST('0x' || substr(md5('fim_a_' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) AS ha,
         CAST('0x' || substr(md5('fim_b_' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) AS hb,
         CAST('0x' || substr(md5('fim_m_' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) AS hm,
         CAST('0x' || substr(md5('fim_r_' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) AS hr
  FROM documents
),
cuts AS (
  SELECT source, n,
         CASE WHEN hr % {_FIM_RATE_DEN} < {_FIM_RATE_NUM} THEN 1 ELSE 0 END
           AS fim,
         hm % 2 AS spm,
         LEAST(ha % (n + 1), hb % (n + 1)) AS lo,
         GREATEST(ha % (n + 1), hb % (n + 1)) AS hi
  FROM base
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(fim) AS BIGINT) AS n_fim,
       CAST(SUM(CASE WHEN fim = 1 AND spm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_psm,
       CAST(SUM(CASE WHEN fim = 1 AND spm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_spm,
       CAST(SUM(CASE WHEN fim = 1 THEN (hi - lo) * 1000000 // n
                     ELSE 0 END) AS BIGINT) AS sum_middle_ppm
FROM cuts GROUP BY source
"""


@register("fim_plan", oracle=_FIM_ORACLE)
def fim_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle transform plan (Bavarian et al. 2022): two
    md5-derived cut points per document split tokens into
    prefix/middle/suffix; {_FIM_RATE_NUM * 10}% of docs transform,
    an independent md5 bit picks PSM vs SPM ordering. Per source:
    docs, transformed docs, PSM/SPM split, and the total
    middle-fraction mass (ppm) — the accounting the example writer
    and the data card both need, reproducible across engines and
    partitionings (span_corruption's salted-hash determinism recipe,
    applied to the code-model FIM objective).

    Scale shape: four md5s and the cut arithmetic run inside the
    scan; only 5 int64 scalars leave per document and the single
    exchange is the |sources|-group rollup."""
    t = load_tables(spark, sf_dir)
    base = t.documents.select(
        "source",
        F.expr("cast(size(split(text, ' ')) as bigint)").alias("n"),
        F.expr(_fim_h("fim_a_")).alias("ha"),
        F.expr(_fim_h("fim_b_")).alias("hb"),
        (F.expr(_fim_h("fim_m_")) % 2).alias("spm"),
        (
            F.expr(_fim_h("fim_r_")) % _FIM_RATE_DEN < _FIM_RATE_NUM
        ).cast("int").alias("fim"),
    )
    cuts = base.select(
        "source",
        "n",
        "fim",
        "spm",
        F.least(F.expr("ha % (n + 1)"), F.expr("hb % (n + 1)")).alias("lo"),
        F.greatest(F.expr("ha % (n + 1)"), F.expr("hb % (n + 1)")).alias("hi"),
    )
    return cuts.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("fim").cast("bigint").alias("n_fim"),
        F.sum(
            F.when((F.col("fim") == 1) & (F.col("spm") == 0), 1).otherwise(0)
        ).cast("bigint").alias("n_psm"),
        F.sum(
            F.when((F.col("fim") == 1) & (F.col("spm") == 1), 1).otherwise(0)
        ).cast("bigint").alias("n_spm"),
        F.sum(
            F.when(
                F.col("fim") == 1, F.expr("(hi - lo) * 1000000 div n")
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("sum_middle_ppm"),
    )


# -------------------------------------------------------------- preference_bt

# Bradley-Terry preference-strength fitting (Hunter 2004's MM update)
# over dpo_pairs' synthetic preference games, aggregated to the SOURCE
# level: each decided pair is a game where the higher-quality doc's
# source beats the other's — the model RLHF reward pipelines fit to
# turn pairwise win counts into per-competitor strengths (and the
# Chatbot-Arena-style leaderboard estimator). Two MM iterations in
# 1e6-scaled integers: pi'_i = W_i / sum_j n_ij/(pi_i + pi_j), every
# division an integer floor, every product widened to decimal/HUGEINT
# (the link_hits normalizer recipe — no int64 ceiling), then
# max-normalized so both engines walk identical integers. A floor of
# 1 keeps zero-win sources from zeroing later denominators (the
# connected-comparison-graph assumption BT needs, enforced cheaply).
_BT_S = 1_000_000
_BT_S2 = _BT_S * _BT_S

_BT_GAMES_SQL = """
qd AS (
  SELECT doc_id, lang, source,
         CAST(len(list_distinct(string_split(text, ' '))) * 1000000
              // len(string_split(text, ' ')) AS BIGINT) AS q
  FROM documents
),
paired AS (
  SELECT q, q2, source, source2 FROM (
    SELECT q, source,
           LEAD(q) OVER (PARTITION BY lang ORDER BY doc_id) AS q2,
           LEAD(source) OVER (PARTITION BY lang ORDER BY doc_id) AS source2,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
    FROM qd
  ) WHERE rn % 2 = 1
),
g AS (
  SELECT CASE WHEN q > q2 THEN source ELSE source2 END AS w,
         CASE WHEN q > q2 THEN source2 ELSE source END AS l
  FROM paired
  WHERE q2 IS NOT NULL AND q <> q2 AND source <> source2
),
nodes AS (SELECT DISTINCT w AS s FROM g UNION SELECT DISTINCT l FROM g),
wins AS (
  SELECT nodes.s, CAST(COUNT(g.w) AS BIGINT) AS wn
  FROM nodes LEFT JOIN g ON g.w = nodes.s GROUP BY nodes.s
),
edges AS (
  SELECT s, o, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT w AS s, l AS o FROM g UNION ALL SELECT l AS s, w AS l FROM g
  ) GROUP BY s, o
)"""


def _bt_iter_sql(i: int, prev: str) -> str:
    return f"""d{i} AS (
  SELECT e.s,
         SUM((CAST(e.n AS HUGEINT) * {_BT_S2}) // (a.pi + b.pi)) AS den
  FROM edges e
  JOIN {prev} a ON a.s = e.s
  JOIN {prev} b ON b.s = e.o
  GROUP BY e.s
),
r{i} AS (
  SELECT d{i}.s,
         GREATEST(CAST(1 AS BIGINT),
           CAST((CAST(w.wn AS HUGEINT) * {_BT_S2}) // d{i}.den AS BIGINT))
           AS pi
  FROM d{i} JOIN wins w ON w.s = d{i}.s
),
n{i} AS (
  SELECT s, CAST((CAST(pi AS HUGEINT) * {_BT_S})
                 // (SELECT MAX(pi) FROM r{i}) AS BIGINT) AS pi
  FROM r{i}
)"""


_BT_ORACLE = f"""
WITH {_BT_GAMES_SQL},
pi0 AS (SELECT s, CAST({_BT_S} AS BIGINT) AS pi FROM nodes),
{_bt_iter_sql(1, 'pi0')},
{_bt_iter_sql(2, 'n1')},
games AS (SELECT s, CAST(SUM(n) AS BIGINT) AS ng FROM edges GROUP BY s)
SELECT n2.s AS source, w.wn AS n_wins, games.ng AS n_games,
       n2.pi AS bt_fp
FROM n2 JOIN wins w ON w.s = n2.s JOIN games ON games.s = n2.s
"""


@register("preference_bt", oracle=_BT_ORACLE)
def preference_bt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength fitting over pairwise preference games
    (Hunter 2004 MM; the Chatbot-Arena / reward-data leaderboard
    estimator): dpo_pairs' adjacent-doc games roll up to source-level
    win counts, then two MM iterations in 1e6-scaled integer
    arithmetic (floor divisions, decimal/HUGEINT-widened products,
    max-normalization) produce per-source strengths identical across
    engines. Output per source: wins, games, and the fitted strength
    — the ranking a preference-data card reports with margins
    attached.

    Scale shape: the ONE corpus-sized stage is the lang-keyed pairing
    window over (lang, q, source) scalars (text never leaves the
    scan); everything after — the win matrix (≤|sources|² rows), both
    MM iterations, the normalizing max — lives on broadcast-sized
    frames, so fitting cost is independent of corpus size, exactly
    like link_hits' iterations over the bounded host graph."""
    t = load_tables(spark, sf_dir)
    qd = t.documents.select(
        "doc_id",
        "lang",
        "source",
        F.expr(
            "cast(size(array_distinct(split(text, ' '))) as bigint)"
            " * 1000000 div size(split(text, ' '))"
        ).cast("bigint").alias("q"),
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    paired = (
        qd.select(
            "q",
            "source",
            F.lead("q").over(w).alias("q2"),
            F.lead("source").over(w).alias("source2"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(
            (F.col("rn") % 2 == 1)
            & F.col("q2").isNotNull()
            & (F.col("q") != F.col("q2"))
            & (F.col("source") != F.col("source2"))
        )
    )
    g = paired.select(
        F.when(F.col("q") > F.col("q2"), F.col("source"))
        .otherwise(F.col("source2"))
        .alias("w"),
        F.when(F.col("q") > F.col("q2"), F.col("source2"))
        .otherwise(F.col("source"))
        .alias("l"),
    )
    # collapse the corpus to the DIRECTED win matrix FIRST and cut the
    # plan there (eager localCheckpoint on <=|sources|^2 rows): nodes,
    # wins, edges, and games all re-derive from this bounded frame, so
    # the corpus-sized pairing window runs exactly ONCE — without the
    # barrier each consumer replayed it (r11 plan audit: 189 exchanges
    # collapsed to ~20)
    gd = (
        g.groupBy("w", "l")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    nodes = gd.select(F.col("w").alias("s")).union(
        gd.select(F.col("l").alias("s"))
    ).distinct()
    wins = (
        nodes.join(gd, nodes.s == gd.w, "left")
        .groupBy("s")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("wn"))
        .localCheckpoint(eager=True)
    )
    edges = (
        gd.select(F.col("w").alias("s"), F.col("l").alias("o"), "n")
        .unionAll(gd.select(F.col("l").alias("s"), F.col("w").alias("o"), "n"))
        .groupBy("s", "o")
        .agg(F.sum("n").cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )

    pi = nodes.select("s", F.lit(_BT_S).cast("bigint").alias("pi"))
    for _ in range(2):
        den = (
            edges.join(
                F.broadcast(pi.withColumnRenamed("pi", "pi_s")), "s"
            )
            .join(
                F.broadcast(
                    pi.withColumnRenamed("s", "o").withColumnRenamed(
                        "pi", "pi_o"
                    )
                ),
                "o",
            )
            .select(
                "s",
                F.expr(
                    f"cast((cast(n as decimal(38,0)) * {_BT_S2})"
                    " div (pi_s + pi_o) as decimal(38,0))"
                ).alias("term"),
            )
            .groupBy("s")
            .agg(F.sum("term").alias("den"))
        )
        r = den.join(F.broadcast(wins), "s").select(
            "s",
            F.greatest(
                F.lit(1).cast("bigint"),
                F.expr(
                    f"cast((cast(wn as decimal(38,0)) * {_BT_S2})"
                    " div den as bigint)"
                ),
            ).alias("pi"),
        )
        mx = r.agg(F.max("pi").alias("mx"))
        pi = r.crossJoin(F.broadcast(mx)).select(
            "s",
            F.expr(
                f"cast((cast(pi as decimal(38,0)) * {_BT_S}) div mx"
                " as bigint)"
            ).alias("pi"),
        )
    games = edges.groupBy("s").agg(F.sum("n").cast("bigint").alias("ng"))
    res = (
        pi.join(F.broadcast(wins), "s")
        .join(F.broadcast(games), "s")
        .select(
            F.col("s").alias("source"),
            F.col("wn").alias("n_wins"),
            F.col("ng").alias("n_games"),
            F.col("pi").alias("bt_fp"),
        )
    )
    return res


# ------------------------------------------------------------ text_augment_plan

# Data-augmentation accounting (EDA, Wei & Zou 2019): per document a
# deterministic token-DELETION mask (rate 1/10) and a SWAP plan
# (n/16 position pairs) — the two destructive EDA ops whose budget a
# data card must state (synonym/insertion need a thesaurus — that
# lookup table broadcasts into the same plan shape). Like fim_plan
# and span_corruption, this op emits the per-source ACCOUNTING; the
# example writer consumes the identical salted-hash plan.
_AUG_DEL_DEN = 10  # delete 1-in-10 tokens
_AUG_SWAP_DIV = 16  # one swap pair per 16 tokens


def _aug_h(salt: str, extra: str) -> str:
    return (
        f"cast(conv(substr(md5(concat('{salt}', cast(doc_id as string),"
        f" '_', cast({extra} as string))), 1, 8), 16, 10) as bigint)"
    )


_AUG_ORACLE = f"""
WITH base AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
),
del AS (
  SELECT doc_id, source, n,
         CAST((SELECT COUNT(*) FROM UNNEST(range(0, n)) AS u(p)
               WHERE CAST('0x' || substr(md5('aug_del_' ||
                       CAST(doc_id AS VARCHAR) || '_' ||
                       CAST(u.p AS VARCHAR)), 1, 8) AS BIGINT)
                     % {_AUG_DEL_DEN} = 0) AS BIGINT) AS n_del,
         CAST((SELECT COUNT(*) FROM UNNEST(range(0, n // {_AUG_SWAP_DIV}))
               AS v(i)
               WHERE CAST('0x' || substr(md5('aug_sa_' ||
                       CAST(doc_id AS VARCHAR) || '_' ||
                       CAST(v.i AS VARCHAR)), 1, 8) AS BIGINT) % n
                  <> CAST('0x' || substr(md5('aug_sb_' ||
                       CAST(doc_id AS VARCHAR) || '_' ||
                       CAST(v.i AS VARCHAR)), 1, 8) AS BIGINT) % n)
              AS BIGINT) AS n_swap_eff
  FROM base
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(SUM(n_del) AS BIGINT) AS n_deleted,
       CAST(SUM(n_del) * 1000000 // SUM(n) AS BIGINT) AS del_ppm,
       CAST(SUM(n // {_AUG_SWAP_DIV}) AS BIGINT) AS n_swap_pairs,
       CAST(SUM(n_swap_eff) AS BIGINT) AS n_swap_effective
FROM del GROUP BY source
"""


@register("text_augment_plan", oracle=_AUG_ORACLE)
def text_augment_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDA augmentation plan (Wei & Zou 2019): per document a salted-md5
    token-deletion mask (1-in-{_AUG_DEL_DEN}) and n/{_AUG_SWAP_DIV}
    position-swap pairs (a pair is EFFECTIVE when the two sampled
    positions differ); per source the realized deletion rate and swap
    budget — reproducible across engines, runs, and partitionings
    (span_corruption's determinism recipe, applied to the augmentation
    family). The example writer replays the identical plan.

    Scale shape: both masks evaluate INSIDE the scan as array
    aggregates over sequence(0, n) — one md5 per token for the mask,
    two per swap pair, no explode, no exchange before the
    |sources|-group rollup of 4 int64 partials."""
    t = load_tables(spark, sf_dir)
    base = t.documents.select(
        "doc_id",
        "source",
        F.expr("cast(size(split(text, ' ')) as bigint)").alias("n"),
    )
    n_del = F.expr(
        f"size(filter(sequence(0, cast(n as int) - 1),"
        f" p -> {_aug_h('aug_del_', 'p')} % {_AUG_DEL_DEN} = 0))"
    ).cast("bigint")
    # CASE-guarded: Spark's sequence(0, -1) yields a DESCENDING
    # [0, -1] rather than the empty array DuckDB's range(0, 0) gives,
    # which silently added two bogus swap checks to every <16-token
    # doc (caught by the oracle compare, not by eyeballing)
    n_swap_eff = F.expr(
        f"case when n >= {_AUG_SWAP_DIV} then"
        f" size(filter(sequence(0, cast(n div {_AUG_SWAP_DIV} as int) - 1),"
        f" i -> {_aug_h('aug_sa_', 'i')} % n != {_aug_h('aug_sb_', 'i')} % n))"
        f" else 0 end"
    ).cast("bigint")
    per_doc = base.select(
        "source",
        "n",
        n_del.alias("n_del"),
        n_swap_eff.alias("n_swap_eff"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.sum("n_del").cast("bigint").alias("n_deleted"),
        F.expr("cast(sum(n_del) * 1000000 div sum(n) as bigint)").alias(
            "del_ppm"
        ),
        F.sum(F.expr(f"n div {_AUG_SWAP_DIV}")).cast("bigint").alias(
            "n_swap_pairs"
        ),
        F.sum("n_swap_eff").cast("bigint").alias("n_swap_effective"),
    )


# ------------------------------------------------------------ license_classify

# License fingerprints a code-corpus curation pass keys on. Each doc
# gets a deterministic header at doc_id % 4 ∈ {0,1,2} (pii_redact's
# synthesis pattern — the parquet corpus carries no license text);
# % 4 == 3 stays headerless and must classify as 'unknown'.
_LIC_MIT = "SPDX-License-Identifier: MIT"
_LIC_APACHE = "Licensed under the Apache License, Version 2.0"
_LIC_GPL = "GNU General Public License"

_LICENSE_ORACLE = f"""
WITH seeded AS (
  SELECT source,
         CASE
           WHEN doc_id % 4 = 0 THEN '{_LIC_MIT}' || chr(10) || text
           WHEN doc_id % 4 = 1 THEN '{_LIC_APACHE}' || chr(10) || text
           WHEN doc_id % 4 = 2 THEN '{_LIC_GPL}' || chr(10) || text
           ELSE text
         END AS text
  FROM documents
),
classified AS (
  SELECT source, len(text) AS n_chars,
         CASE
           WHEN contains(text, '{_LIC_MIT}') THEN 'mit'
           WHEN contains(text, '{_LIC_APACHE}') THEN 'apache-2.0'
           WHEN contains(text, '{_LIC_GPL}') THEN 'gpl'
           ELSE 'unknown'
         END AS license
  FROM seeded
),
per_source AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS src_docs
  FROM classified GROUP BY source
)
SELECT c.source, c.license,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(c.n_chars) AS BIGINT) AS n_chars,
       CAST(COUNT(*) * 1000 // ANY_VALUE(p.src_docs) AS BIGINT)
         AS share_permille,
       (c.license IN ('mit', 'apache-2.0')) AS permissive
FROM classified c JOIN per_source p USING (source)
GROUP BY c.source, c.license
"""


@register("license_classify", oracle=_LICENSE_ORACLE)
def license_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License detection + compliance rollup for a code corpus — the
    pass that decides which files are trainable under a permissive
    policy (SPDX tags and license-header phrases → license class,
    then per-source composition shares). Headers are injected
    deterministically at doc_id % 4 ∈ {0,1,2} since the synthetic
    corpus is license-free; '%4 == 3' documents grade the 'unknown'
    fallthrough.

    Scale shape: classification is a JVM-side CASE over ``contains``
    in the scan projection (first-match-wins order mirrors license
    scanners' precedence); the rollup partial-aggregates to the
    bounded source × license grid, and the per-source totals are a
    RE-AGGREGATION of that grid (not a second corpus pass — the grid's
    exchange is reused, plan-pinned to one FileScan) broadcast back
    onto it — one corpus-sized shuffle total, and it carries only the
    grid keys."""
    t = load_tables(spark, sf_dir)
    k = F.col("doc_id")
    seeded = t.documents.select(
        "source",
        F.when(k % 4 == 0, F.concat(F.lit(_LIC_MIT + "\n"), F.col("text")))
        .when(k % 4 == 1, F.concat(F.lit(_LIC_APACHE + "\n"), F.col("text")))
        .when(k % 4 == 2, F.concat(F.lit(_LIC_GPL + "\n"), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    classified = seeded.select(
        "source",
        F.length("text").alias("n_chars"),
        F.when(F.col("text").contains(_LIC_MIT), "mit")
        .when(F.col("text").contains(_LIC_APACHE), "apache-2.0")
        .when(F.col("text").contains(_LIC_GPL), "gpl")
        .otherwise("unknown")
        .alias("license"),
    )
    # checkpoint the collapse point (SCALE.md §9): the grid is the
    # first bounded frame; without it Catalyst re-plans the corpus agg
    # for the per-source re-aggregation (measured: 2 FileScans)
    grid = (
        classified.groupBy("source", "license")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
        .localCheckpoint()
    )
    per_source = grid.groupBy("source").agg(
        F.sum("n_docs").cast("bigint").alias("src_docs")
    )
    return grid.join(F.broadcast(per_source), "source").select(
        "source",
        "license",
        "n_docs",
        "n_chars",
        F.expr("n_docs * 1000 div src_docs").cast("bigint").alias(
            "share_permille"
        ),
        F.col("license").isin("mit", "apache-2.0").alias("permissive"),
    )


# --------------------------------------------------------- curriculum_schedule

# Power-of-two length buckets double as curriculum phases (short/easy
# first — the Shortformer / sequence-length-warmup recipe). Shares
# length_histogram's integer CASE ladder: no log2 doubles at edges.
from oil_wells_data_wrangling_spark.operators.textstats import _LEN_BUCKET

_CURRICULUM_ORACLE = f"""
WITH t AS (
  SELECT len(string_split(text, ' ')) AS n FROM documents
),
b AS (
  SELECT CAST({_LEN_BUCKET.format(n='n')} AS INTEGER) AS phase,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n) AS BIGINT) AS n_tokens
  FROM t GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt FROM b)
SELECT a.phase, a.n_docs, a.n_tokens,
       CAST(SUM(c.n_tokens) AS BIGINT) AS cum_tokens,
       CAST((SUM(c.n_tokens) - a.n_tokens) * 1000 // ANY_VALUE(tot.tt)
            AS BIGINT) AS start_permille
FROM b a JOIN b c ON c.phase <= a.phase CROSS JOIN tot
GROUP BY a.phase, a.n_docs, a.n_tokens
"""


@register("curriculum_schedule", oracle=_CURRICULUM_ORACLE)
def curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum plan (sequence-length warmup / Shortformer
    staging): documents grade into power-of-two length phases, shortest
    first, and each phase reports its token mass, the cumulative tokens
    once it completes, and the training-progress permille at which it
    STARTS — the schedule table a curriculum dataloader consumes.

    Scale shape: one scan computes the bucket in-projection; the only
    corpus-sized exchange is the ≤8-bucket partial agg. The cumulative
    sum deliberately runs as a self-join over that bounded aggregate
    (≤64 joined rows) instead of an unpartitioned running-total window
    — same result, no single-partition window stage, and both engines
    execute the identical triangular join."""
    t = load_tables(spark, sf_dir)
    # checkpoint the collapse point (SCALE.md §9): three consumers
    # (the triangular join's both sides + the total) otherwise each
    # re-plan the corpus aggregation (measured: 3 FileScans)
    b = (
        t.documents.select(
            F.expr(_LEN_BUCKET.format(n="size(split(text, ' '))"))
            .cast("int")
            .alias("phase"),
            F.size(F.split("text", " ")).alias("n"),
        )
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_tokens"),
        )
        .localCheckpoint()
    )
    tot = b.agg(F.sum("n_tokens").cast("bigint").alias("tt"))
    c = b.select(
        F.col("phase").alias("c_phase"), F.col("n_tokens").alias("c_tokens")
    )
    return (
        b.join(F.broadcast(c), F.col("c_phase") <= F.col("phase"))
        .crossJoin(F.broadcast(tot))
        .groupBy("phase", "n_docs", "n_tokens")
        .agg(
            F.sum("c_tokens").cast("bigint").alias("cum_tokens"),
            F.expr("(sum(c_tokens) - any_value(n_tokens)) * 1000 div any_value(tt)")
            .cast("bigint")
            .alias("start_permille"),
        )
    )


# ----------------------------------------------------------------- elo_ratings

_ELO_START = 1_500_000  # milli-points
_ELO_K = 32
_ELO_CLAMP = 400_000  # FIDE's ±400 rating-difference clamp, in milli
_ELO_PERIODS = 4


def _elo_games_sql() -> str:
    return """qd AS (
  SELECT doc_id, lang, source,
         CAST(len(list_distinct(string_split(text, ' '))) * 1000000
              // len(string_split(text, ' ')) AS BIGINT) AS q
  FROM documents
),
paired AS (
  SELECT doc_id, q, q2, source, source2 FROM (
    SELECT doc_id, q, source,
           LEAD(q) OVER (PARTITION BY lang ORDER BY doc_id) AS q2,
           LEAD(source) OVER (PARTITION BY lang ORDER BY doc_id) AS source2,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
    FROM qd
  ) WHERE rn % 2 = 1
),
g AS (
  SELECT CAST(doc_id % 4 AS BIGINT) AS period,
         CASE WHEN q > q2 THEN source ELSE source2 END AS w,
         CASE WHEN q > q2 THEN source2 ELSE source END AS l
  FROM paired
  WHERE q2 IS NOT NULL AND q <> q2 AND source <> source2
),
gd AS (
  SELECT period, w, l, CAST(COUNT(*) AS BIGINT) AS n
  FROM g GROUP BY period, w, l
),
nodes AS (SELECT DISTINCT w AS s FROM gd UNION SELECT DISTINCT l FROM gd)"""


def _elo_iter_sql(i: int, prev: str) -> str:
    e_win = (
        f"((LEAST(GREATEST(rw.r - rl.r, -{_ELO_CLAMP}), {_ELO_CLAMP})"
        f" + {_ELO_CLAMP}) // 800)"
    )
    e_lose = (
        f"((LEAST(GREATEST(rl.r - rw.r, -{_ELO_CLAMP}), {_ELO_CLAMP})"
        f" + {_ELO_CLAMP}) // 800)"
    )
    return f"""d{i} AS (
  SELECT s, CAST(SUM(delta) AS BIGINT) AS delta FROM (
    SELECT gd.w AS s, gd.n * {_ELO_K} * (1000 - {e_win}) AS delta
    FROM gd JOIN {prev} rw ON rw.s = gd.w JOIN {prev} rl ON rl.s = gd.l
    WHERE gd.period = {i - 1}
    UNION ALL
    SELECT gd.l AS s, -gd.n * {_ELO_K} * {e_lose} AS delta
    FROM gd JOIN {prev} rw ON rw.s = gd.w JOIN {prev} rl ON rl.s = gd.l
    WHERE gd.period = {i - 1}
  ) GROUP BY s
),
r{i} AS (
  SELECT {prev}.s, CAST({prev}.r + COALESCE(d{i}.delta, 0) AS BIGINT) AS r
  FROM {prev} LEFT JOIN d{i} USING (s)
)"""


ELO_RATINGS_ORACLE = f"""
WITH {_elo_games_sql()},
r0 AS (SELECT s, CAST({_ELO_START} AS BIGINT) AS r FROM nodes),
{_elo_iter_sql(1, 'r0')},
{_elo_iter_sql(2, 'r1')},
{_elo_iter_sql(3, 'r2')},
{_elo_iter_sql(4, 'r3')},
games AS (
  SELECT s, CAST(SUM(n) AS BIGINT) AS n_games FROM (
    SELECT w AS s, n FROM gd UNION ALL SELECT l AS s, n FROM gd
  ) GROUP BY s
)
SELECT r4.s AS source, r4.r AS elo_milli,
       CAST(COALESCE(w2.nw, 0) AS BIGINT) AS n_wins, games.n_games
FROM r4
LEFT JOIN (SELECT w AS s, CAST(SUM(n) AS BIGINT) AS nw FROM gd GROUP BY w) w2
  ON w2.s = r4.s
JOIN games ON games.s = r4.s
"""


@register("elo_ratings", oracle=ELO_RATINGS_ORACLE)
def elo_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rating-period Elo over pairwise preference games — the
    leaderboard estimator that, unlike Bradley-Terry's batch MM fit
    (``preference_bt``), is ORDER-SENSITIVE: ratings evolve as game
    periods arrive, which is how arena-style preference feeds are
    actually consumed. Games are dpo_pairs' adjacent-doc comparisons
    (winner = higher distinct-token permille); each game's period is
    ``doc_id % {_ELO_PERIODS}``, and every game in a period is scored
    against PERIOD-START ratings (the rating-period rule — FIDE lists,
    Glicko batches — which is also what makes the update one bounded
    aggregate instead of a per-game sequential fold). Expected score is
    the linear-approximation table in exact integers: with rating
    difference D in milli-points clamped to ±{_ELO_CLAMP}, E_permille
    = (D + {_ELO_CLAMP}) div 800 — the USCF linear form with FIDE's
    ±400 clamp; winner delta = {_ELO_K}·(1000 − E), loser delta =
    −{_ELO_K}·E, all bigint, so ratings are bit-identical across
    engines.

    Scale shape (preference_bt's): the ONE corpus-sized stage is the
    lang-keyed pairing window over scalar rows; the corpus collapses
    to the (period, winner, loser, n) matrix — ≤ periods·|sources|²
    rows — which is eagerly checkpointed, and all {_ELO_PERIODS}
    rating updates run on that bounded frame with broadcast ratings.
    Update cost is independent of corpus size; period count is a
    constant, not data-driven, so the plan depth is fixed."""
    t = load_tables(spark, sf_dir)
    qd = t.documents.select(
        "doc_id",
        "lang",
        "source",
        F.expr(
            "cast(size(array_distinct(split(text, ' '))) as bigint)"
            " * 1000000 div size(split(text, ' '))"
        ).cast("bigint").alias("q"),
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    paired = (
        qd.select(
            "doc_id",
            "q",
            "source",
            F.lead("q").over(w).alias("q2"),
            F.lead("source").over(w).alias("source2"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(
            (F.col("rn") % 2 == 1)
            & F.col("q2").isNotNull()
            & (F.col("q") != F.col("q2"))
            & (F.col("source") != F.col("source2"))
        )
    )
    g = paired.select(
        (F.col("doc_id") % _ELO_PERIODS).cast("bigint").alias("period"),
        F.when(F.col("q") > F.col("q2"), F.col("source"))
        .otherwise(F.col("source2"))
        .alias("w"),
        F.when(F.col("q") > F.col("q2"), F.col("source2"))
        .otherwise(F.col("source"))
        .alias("l"),
    )
    # collapse the corpus to the bounded period×winner×loser matrix and
    # cut the plan there (preference_bt's barrier): every period update
    # re-reads this frame, never the corpus
    gd = (
        g.groupBy("period", "w", "l")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    nodes = (
        gd.select(F.col("w").alias("s"))
        .union(gd.select(F.col("l").alias("s")))
        .distinct()
    )
    ratings = nodes.select(
        "s", F.lit(_ELO_START).cast("bigint").alias("r")
    ).localCheckpoint(eager=True)

    def _e(diff: str) -> str:
        return (
            f"(least(greatest({diff}, -{_ELO_CLAMP}L), {_ELO_CLAMP}L)"
            f" + {_ELO_CLAMP}L) div 800"
        )

    for p in range(_ELO_PERIODS):
        gp = gd.filter(F.col("period") == p)
        joined = gp.join(
            F.broadcast(
                ratings.select(F.col("s").alias("w"), F.col("r").alias("rw"))
            ),
            "w",
        ).join(
            F.broadcast(
                ratings.select(F.col("s").alias("l"), F.col("r").alias("rl"))
            ),
            "l",
        )
        deltas = (
            joined.select(
                F.col("w").alias("s"),
                F.expr(
                    f"n * {_ELO_K} * (1000 - ({_e('rw - rl')}))"
                ).cast("bigint").alias("delta"),
            )
            .unionAll(
                joined.select(
                    F.col("l").alias("s"),
                    F.expr(
                        f"-n * {_ELO_K} * ({_e('rl - rw')})"
                    ).cast("bigint").alias("delta"),
                )
            )
            .groupBy("s")
            .agg(F.sum("delta").cast("bigint").alias("delta"))
        )
        ratings = (
            ratings.join(deltas, "s", "left")
            .select(
                "s",
                (F.col("r") + F.coalesce(F.col("delta"), F.lit(0)))
                .cast("bigint")
                .alias("r"),
            )
            .localCheckpoint(eager=True)
        )

    wins = gd.groupBy("w").agg(F.sum("n").cast("bigint").alias("nw"))
    games = (
        gd.select(F.col("w").alias("s"), "n")
        .unionAll(gd.select(F.col("l").alias("s"), "n"))
        .groupBy("s")
        .agg(F.sum("n").cast("bigint").alias("n_games"))
    )
    return (
        ratings.join(wins, ratings.s == wins.w, "left")
        .join(games, "s")
        .select(
            F.col("s").alias("source"),
            F.col("r").alias("elo_milli"),
            F.coalesce(F.col("nw"), F.lit(0)).cast("bigint").alias("n_wins"),
            "n_games",
        )
    )


# ------------------------------------------------------------- chat_turns_audit

# Deterministic multi-turn transcript synthesis shared by both
# engines: 4 role-tagged turns drawn from the doc's own words, with
# two deliberate corruption modes — every 7th conversation repeats a
# role on adjacent turns (the double-send), every 9th starts with the
# assistant (the missing-prompt case). 9*7 interleave means some docs
# carry both.
_CHAT_ROLE = (
    "CASE WHEN {i} % 2 = CASE WHEN doc_id % 9 = 0 THEN 1 ELSE 0 END "
    "THEN 'user' ELSE 'assistant' END"
)
_CHAT_ROLE_DUP = (  # every 7th conv: turn 2 copies turn 1's role
    # (7 and 9 are coprime with the corpus's 20-way source split, so
    # both violation classes spread across every source)
    "CASE WHEN doc_id % 7 = 0 AND {i} = 1 THEN " + _CHAT_ROLE.format(i=0)
    + " ELSE " + _CHAT_ROLE + " END"
)


def _chat_turn(i: int, engine: str) -> str:
    word = (
        f"split_part(text, ' ', {i + 1})"
        if engine == "duck"
        else f"element_at(split(text, ' '), {i + 1})"
    )
    return f"({_CHAT_ROLE_DUP.format(i=i)} || ': say ' || {word})"


def _chat_transcript(engine: str) -> str:
    sep = " || chr(10) || " if engine == "duck" else " || '\\n' || "
    return sep.join(_chat_turn(i, engine) for i in range(4))


CHAT_TURNS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, {_chat_transcript('duck')} AS transcript
  FROM documents
),
turns AS (
  SELECT doc_id, source,
         CAST(generate_subscripts(string_split(transcript, chr(10)), 1)
              AS BIGINT) AS pos,
         split_part(unnest(string_split(transcript, chr(10))), ': ', 1)
           AS role
  FROM t
),
marked AS (
  SELECT doc_id, source, pos, role,
         CASE WHEN role = lag(role) OVER (
           PARTITION BY doc_id ORDER BY pos) THEN 1 ELSE 0 END AS dup_adj,
         CASE WHEN pos = 1 AND role <> 'user' THEN 1 ELSE 0 END AS bad_start
  FROM turns
),
conv AS (
  SELECT doc_id, source,
         CAST(COUNT(*) AS BIGINT) AS n_turns,
         CAST(MAX(dup_adj) AS BIGINT) AS has_dup,
         CAST(MAX(bad_start) AS BIGINT) AS has_bad_start
  FROM marked GROUP BY doc_id, source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_convs,
       CAST(SUM(n_turns) AS BIGINT) AS n_turns,
       CAST(SUM(has_dup) AS BIGINT) AS n_role_dup,
       CAST(SUM(has_bad_start) AS BIGINT) AS n_bad_start,
       CAST(COUNT(*) FILTER (has_dup = 0 AND has_bad_start = 0)
            AS BIGINT) AS n_clean
FROM conv GROUP BY source
"""


@register("chat_turns_audit", oracle=CHAT_TURNS_ORACLE)
def chat_turns_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-turn transcript hygiene — the validation pass an SFT
    pipeline runs over conversation data before packing it: parse each
    transcript into ordered role-tagged turns, flag conversations with
    ADJACENT SAME-ROLE turns (double-sends that break chat templating)
    or a non-user opening turn (the missing-prompt case), and roll
    clean/violation counts up per source. The synthetic corpus plants
    both violations deterministically (every 7th and 9th conversation)
    so both detectors are load-bearing in the oracle comparison —
    ``trace_tool_calls``' sibling for the conversation axis.

    Scale shape: transcript synthesis and the turn explode run in the
    scan (posexplode of a 4-element split — output rows ∝ 4·docs of
    (doc_id, source, pos, role) scalars, text never leaves the scan);
    the adjacency check is a lag window PARTITIONED BY CONVERSATION
    (thousands of rows per task, never a global window), then two
    bounded rollups (per-conv, per-source). One exchange on doc_id,
    one |sources|-group agg."""
    t = load_tables(spark, sf_dir)
    turns = t.documents.select(
        "doc_id",
        "source",
        F.posexplode(
            F.split(F.expr(_chat_transcript("spark")), "\n")
        ).alias("pos0", "line"),
    ).select(
        "doc_id",
        "source",
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        F.substring_index("line", ": ", 1).alias("role"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    marked = turns.select(
        "doc_id",
        "source",
        F.when(F.col("role") == F.lag("role").over(w), 1)
        .otherwise(0)
        .alias("dup_adj"),
        F.when((F.col("pos") == 1) & (F.col("role") != "user"), 1)
        .otherwise(0)
        .alias("bad_start"),
    )
    conv = marked.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.max("dup_adj").alias("has_dup"),
        F.max("bad_start").alias("has_bad_start"),
    )
    return conv.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_convs"),
        F.sum("n_turns").cast("bigint").alias("n_turns"),
        F.sum("has_dup").cast("bigint").alias("n_role_dup"),
        F.sum("has_bad_start").cast("bigint").alias("n_bad_start"),
        F.count_if(
            (F.col("has_dup") == 0) & (F.col("has_bad_start") == 0)
        ).alias("n_clean"),
    )

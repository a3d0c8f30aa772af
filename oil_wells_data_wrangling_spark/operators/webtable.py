"""Scrape-connector parse operator (SURVEY.md §2.A connector edge).

Exercises sources/html_table.py — the pure DOM-read half of the
reference's scraper (web_scraping.py:80-128) — as an oracle-checked
query: deterministic detail-page HTML is generated per supplier row
(nested tags, doubled whitespace, a missing field, and both badge
orderings), parsed back with the Spark-side regex chain, and the
DuckDB oracle replays the identical generation + RE2-compatible parse.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from oil_wells_data_wrangling_spark.plans.registry import register
from oil_wells_data_wrangling_spark.sources.html_table import parse_well_pages
from oil_wells_data_wrangling_spark.sources.warc import payload_text
from oil_wells_data_wrangling_spark.sources.readers import load_tables

_HTML_TABLE_ORACLE = r"""
WITH pages AS (
  SELECT s_suppkey,
    '<table><tr><th>Well Status</th><td><b>'
    || CASE CAST(s_suppkey % 3 AS INT) WHEN 0 THEN 'Active'
            WHEN 1 THEN 'Plugged' ELSE 'Drilling' END
    || '</b></td></tr><tr><th>Well Type</th><td>Oil  Well</td></tr>'
    || CASE WHEN s_suppkey % 5 <> 0
            THEN '<tr><th>Closest City</th><td>City '
                 || CAST(s_suppkey AS VARCHAR) || '</td></tr>'
            ELSE '' END
    || '</table><p class="block_stat"><span class="dropcap">'
    || CAST(s_suppkey * 37 % 1000 AS VARCHAR)
    || '</span> Barrels of Oil Produced</p>'
    || '<p class="block_stat">MCF of Gas Produced <span class="dropcap">'
    || CAST(s_suppkey * 53 % 1000 AS VARCHAR) || '</span></p>' AS html
  FROM supplier
),
raw AS (
  SELECT s_suppkey,
    trim(regexp_replace(regexp_replace(
      regexp_extract(html,
        '(?s)<th[^>]*>\s*Well Status\s*</th>\s*<td[^>]*>(.*?)</td>', 1),
      '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g')) AS ws,
    trim(regexp_replace(regexp_replace(
      regexp_extract(html,
        '(?s)<th[^>]*>\s*Well Type\s*</th>\s*<td[^>]*>(.*?)</td>', 1),
      '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g')) AS wt,
    trim(regexp_replace(regexp_replace(
      regexp_extract(html,
        '(?s)<th[^>]*>\s*Closest City\s*</th>\s*<td[^>]*>(.*?)</td>', 1),
      '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g')) AS cc,
    trim(regexp_extract(html,
      '<p[^>]*block_stat[^>]*>\s*<span[^>]*dropcap[^>]*>([^<]*)</span>[^<]*Barrels of Oil Produced',
      1)) AS oil,
    trim(regexp_extract(html,
      '<p[^>]*block_stat[^>]*>[^<]*MCF of Gas Produced[^<]*<span[^>]*dropcap[^>]*>([^<]*)</span>',
      1)) AS gas
  FROM pages
)
SELECT s_suppkey,
  CASE WHEN ws = '' THEN 'N/A' ELSE ws END AS well_status,
  CASE WHEN wt = '' THEN 'N/A' ELSE wt END AS well_type,
  CASE WHEN cc = '' THEN 'N/A' ELSE cc END AS closest_city,
  CASE WHEN oil = '' THEN 'N/A' ELSE oil END AS oil_badge,
  CASE WHEN gas = '' THEN 'N/A' ELSE gas END AS gas_badge
FROM raw
"""


@register("html_table", oracle=_HTML_TABLE_ORACLE)
def html_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generate detail-page HTML per supplier row and parse it back with
    the scrape connector's th/td + badge extraction. Single scan, all
    JVM-side regex — the shape a stored-crawl parse has at scale."""
    t = load_tables(spark, sf_dir)
    k = F.col("s_suppkey")
    status = (
        F.when(k % 3 == 0, "Active")
        .when(k % 3 == 1, "Plugged")
        .otherwise("Drilling")
    )
    html = F.concat(
        F.lit('<table><tr><th>Well Status</th><td><b>'),
        status,
        F.lit("</b></td></tr><tr><th>Well Type</th><td>Oil  Well</td></tr>"),
        F.when(
            k % 5 != 0,
            F.concat(
                F.lit("<tr><th>Closest City</th><td>City "),
                k.cast("string"),
                F.lit("</td></tr>"),
            ),
        ).otherwise(F.lit("")),
        F.lit('</table><p class="block_stat"><span class="dropcap">'),
        (k * 37 % 1000).cast("string"),
        F.lit("</span> Barrels of Oil Produced</p>"),
        F.lit('<p class="block_stat">MCF of Gas Produced <span class="dropcap">'),
        (k * 53 % 1000).cast("string"),
        F.lit("</span></p>"),
    )
    pages = t.supplier.select("s_suppkey", html.alias("html"))
    return parse_well_pages(pages)


# --------------------------------------------------------------- html_to_text

# The WET-extraction stage every web corpus runs before any text
# operator (the reference's scraper reads structured cells out of known
# markup — web_scraping.py:80-128; a TRAINING pipeline instead needs
# whole-page text): drop <script>/<style> blocks wholesale, strip the
# remaining tags, collapse whitespace, and keep the link inventory as
# scalars. Spark's Java regex and DuckDB's RE2 agree on every pattern
# used here ((?s) dotall, non-greedy .*?, [^>]+ classes), which is what
# makes the oracle exact — the same property html_table relies on.

_H2T_PAGE_SPARK = (
    "concat('<html><head><title>Doc ', cast(doc_id as string), '</title>',"
    " '<script type=\"text/javascript\">var id = ', cast(doc_id as string),"
    " ';</script><style>p { margin: 0 }</style></head>',"
    " '<body><h1>Doc ', cast(doc_id as string), '</h1>',"
    " '<div class=\"nav\">Home | About | <a href=\"/home\">x</a></div>',"
    " '<p>', text, '</p>',"
    " '<a href=\"https://example.com/d/', cast(doc_id as string), '\">next</a>',"
    " case when doc_id % 3 = 0 then concat('<a href=\"https://example.com/d/',"
    " cast(doc_id + 1 as string), '\">more</a>') else '' end,"
    " '<footer>(c) corpus</footer></body></html>')"
)

_H2T_PAGE_DUCK = """
    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>'
    || '<script type="text/javascript">var id = ' || CAST(doc_id AS VARCHAR)
    || ';</script><style>p { margin: 0 }</style></head>'
    || '<body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>'
    || '<div class="nav">Home | About | <a href="/home">x</a></div>'
    || '<p>' || text || '</p>'
    || '<a href="https://example.com/d/' || CAST(doc_id AS VARCHAR) || '">next</a>'
    || CASE WHEN doc_id % 3 = 0 THEN '<a href="https://example.com/d/'
         || CAST(doc_id + 1 AS VARCHAR) || '">more</a>' ELSE '' END
    || '<footer>(c) corpus</footer></body></html>'
"""

_H2T_ORACLE = rf"""
WITH pages AS (
  SELECT doc_id, {_H2T_PAGE_DUCK} AS html FROM documents
),
stripped AS (
  SELECT doc_id, html,
    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
      '<[^>]+>', ' ', 'g'),
      '\s+', ' ', 'g')) AS clean
  FROM pages
)
SELECT doc_id,
       regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
       CAST(len(regexp_extract_all(html, 'href="[^"]*"')) AS BIGINT) AS n_links,
       CAST(length(clean) AS BIGINT) AS n_chars,
       md5(clean) AS clean_fp
FROM stripped
"""


def _synth_pages(t) -> DataFrame:
    """(doc_id, target_uri, html): the deterministic page-per-document
    synthesis every crawl-front-door operator shares (html_to_text,
    warc_pipeline, crawl_to_corpus, stream_warc_ingest) — ONE Spark
    copy so a markup change cannot desynchronize the operators."""
    return t.documents.select(
        "doc_id",
        F.concat(
            F.lit("https://example.com/d/"), F.col("doc_id").cast("string")
        ).alias("target_uri"),
        F.expr(_H2T_PAGE_SPARK).alias("html"),
    )


def _strip_html(col: Column) -> Column:
    """The WET strip chain: drop script/style blocks wholesale, strip
    remaining tags to spaces, collapse whitespace, trim — the single
    Spark copy of the chain the oracles replay in DuckDB."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        col, r"(?s)<script[^>]*>.*?</script>", " "
                    ),
                    r"(?s)<style[^>]*>.*?</style>",
                    " ",
                ),
                r"<[^>]+>",
                " ",
            ),
            r"\s+",
            " ",
        )
    )


@register("html_to_text", oracle=_H2T_ORACLE)
def html_to_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction over a synthesized page per document
    (title + script + style + nav + body + per-page links — every
    boilerplate class a crawler sees): script/style blocks drop
    WHOLESALE (their content must never leak into training text),
    remaining tags strip to spaces, whitespace collapses, and the link
    inventory survives as a count. Output carries scalars and the
    md5 of the clean text, not the page.

    Downstream chain: this feeds `boilerplate_lines` (template-line
    removal), `lang_id`/`quality_score` (filtering), then the dedup
    family — the standard web-corpus front door.

    Scale shape: pure in-scan regex (whole-stage codegen, no UDF, no
    Python); the only exchange is whatever the consumer adds. Pages
    stay in the scan — the output is 5 scalars/doc."""
    t = load_tables(spark, sf_dir)
    pages = _synth_pages(t).select("doc_id", "html")
    stripped = pages.select(
        "doc_id", "html", _strip_html(F.col("html")).alias("clean")
    )
    return stripped.select(
        "doc_id",
        F.regexp_extract("html", r"<title>([^<]*)</title>", 1).alias("title"),
        F.expr("regexp_count(html, 'href=\"[^\"]*\"')")
        .cast("bigint")
        .alias("n_links"),
        F.length("clean").cast("bigint").alias("n_chars"),
        F.md5("clean").alias("clean_fp"),
    )


# --------------------------------------------------------------- warc_pipeline

_WARC_PIPE_ORACLE = rf"""
WITH pages AS (
  SELECT doc_id, {_H2T_PAGE_DUCK} AS html FROM documents
),
stripped AS (
  SELECT doc_id, html,
    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
      '<[^>]+>', ' ', 'g'),
      '\s+', ' ', 'g')) AS clean
  FROM pages
)
SELECT doc_id,
       CAST(200 AS INTEGER) AS http_status,
       'text/html' AS content_type,
       regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
       CAST(len(regexp_extract_all(html, 'href="[^"]*"')) AS BIGINT) AS n_links,
       CAST(length(clean) AS BIGINT) AS n_chars,
       md5(clean) AS clean_fp
FROM stripped
"""


@register("warc_pipeline", oracle=_WARC_PIPE_ORACLE)
def warc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl front door END-TO-END through a real archive: pages
    are written as genuine WARC/1.0 response records (full HTTP
    envelope) with ``write_warc``, read back with ``read_warc``'s
    binaryFile + Arrow parse, the HTTP envelope split promotes
    status/Content-Type to columns, and the payload bytes flow through
    the SAME strip chain as ``html_to_text`` — so the bytes the
    operators see really did round-trip ISO 28500, not a synthesized
    HTML column. The oracle replays the page synthesis + extraction
    arithmetic directly over ``documents`` (envelope columns are the
    literals ``write_warc`` stamps), which stays exact because the
    archive hop is content-preserving by construction.

    Scale shape: ``write_warc`` emits one archive file per partition
    on the executor that owns it and ``read_warc`` re-parallelizes on
    the file inventory (CommonCrawl's own sharding unit) — no shuffle
    anywhere in the round trip; the strip chain runs in-scan on the
    decoded payload and only 7 scalars/doc leave it.

    Demo-harness caveat (the ``neardup_index_probe`` pattern): the
    registered query wires the archive to a driver-local tempdir and
    writes it eagerly at plan construction; production passes a shared
    URI and reads crawls it didn't write. The tempdir is deleted right
    after an eager ``localCheckpoint`` materializes the result, which
    TRUNCATES LINEAGE: if a checkpointed block is later evicted or an
    executor is lost, the result is unrecoverable (the source files
    are gone). Acceptable for the demo's one-session read; production
    keeps the archive and skips the checkpoint."""
    import os
    import shutil
    import tempfile

    from oil_wells_data_wrangling_spark.sources.warc import (
        read_warc,
        write_warc,
    )

    t = load_tables(spark, sf_dir)
    pages = _synth_pages(t)
    work = tempfile.mkdtemp(prefix="warc_pipe_")
    arch = os.path.join(work, "crawl")
    # same split-starvation guard as crawl_to_corpus (r16, guide §6)
    par = spark.sparkContext.defaultParallelism
    nparts = pages.rdd.getNumPartitions()
    write_warc(
        pages,
        arch,
        min_files_per_task=-(-par // nparts) if nparts < par else 1,
    ).collect()
    resp = read_warc(spark, arch).filter(
        (F.col("warc_type") == "response") & (F.col("http_status") == 200)
    )
    page2 = resp.select(
        F.regexp_extract("target_uri", r"/d/(\d+)$", 1)
        .cast("bigint")
        .alias("doc_id"),
        "http_status",
        "content_type",
        payload_text().alias("html"),  # charset-aware (r13)
    )
    out = (
        page2.select(
            "doc_id",
            "http_status",
            "content_type",
            "html",
            _strip_html(F.col("html")).alias("clean"),
        )
        .select(
            "doc_id",
            "http_status",
            "content_type",
            F.regexp_extract("html", r"<title>([^<]*)</title>", 1).alias(
                "title"
            ),
            F.expr("regexp_count(html, 'href=\"[^\"]*\"')")
            .cast("bigint")
            .alias("n_links"),
            F.length("clean").cast("bigint").alias("n_chars"),
            F.md5("clean").alias("clean_fp"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


# -------------------------------------------------------------- crawl_to_corpus

# The composed crawl-to-corpus flagship: the WARC front door
# (warc_pipeline's write → read_warc → envelope split → strip chain)
# feeding corpus_pipeline's back end (quality filter → exact dedup →
# per-language stats) in ONE plan. A quarter of the pages are archived
# TWICE under a ?ref=dup URI — the same page fetched at two URLs, the
# crawl dup the dedup stage exists for — so every stage is live.
_CRAWL_CORPUS_ORACLE = rf"""
WITH pages AS (
  SELECT doc_id, {_H2T_PAGE_DUCK} AS html FROM documents
),
crawl AS (
  SELECT doc_id, html FROM pages
  UNION ALL
  SELECT doc_id, html FROM pages WHERE doc_id % 4 = 0
),
stripped AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
      '<[^>]+>', ' ', 'g'),
      '\s+', ' ', 'g')) AS clean
  FROM crawl
),
enriched AS (
  SELECT s.doc_id, s.clean, d.lang
  FROM stripped s JOIN documents d USING (doc_id)
),
quality AS (
  SELECT * FROM enriched
  WHERE len(string_split(clean, ' ')) >= 20
    AND len(list_distinct(string_split(clean, ' ')))
        / len(string_split(clean, ' ')) >= 0.4
),
deduped AS (
  SELECT md5(clean) AS h, MIN(lang) AS lang,
         MIN(len(string_split(clean, ' '))) AS n_tokens,
         COUNT(*) AS n_copies
  FROM quality GROUP BY 1
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_copies - 1) AS BIGINT) AS dups_removed
FROM deduped GROUP BY lang
"""


@register("crawl_to_corpus", oracle=_CRAWL_CORPUS_ORACLE, headline=True)
def crawl_to_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl → corpus END-TO-END: pages archive as real WARC/1.0
    records (a quarter of them twice, under a second URI — the
    same-page-two-URLs dup every crawl contains), ``read_warc`` parses
    the archive back, the strip chain extracts clean text, a metadata
    join recovers the language sidecar, and corpus_pipeline's
    back end (quality filter → exact dedup → per-language stats) runs
    over text that genuinely round-tripped ISO 28500. The oracle
    replays page synthesis + dup union + strip + the same back end
    directly over ``documents`` — exact because the archive hop is
    content-preserving by construction (warc_pipeline's argument).

    Scale shape: the round trip itself is shuffle-free (file-per-
    partition write, file-inventory read); each page quality-gates and
    reduces to (doc_id, md5, n_tokens) scalars IN the scan, so the
    sidecar join and the dedup exchange both carry scalars only —
    payload bytes never leave the scan that strips them, and the join
    needs no broadcast hint (r14: the sidecar is corpus-cardinality —
    hinting it broadcast was a driver bomb at 100 TB; with both sides
    scalar-width, AQE's runtime choice is safe either way). Same
    demo-harness tempdir + eager-localCheckpoint
    caveats as ``warc_pipeline`` (production passes a shared URI and
    keeps the archive)."""
    import os
    import shutil
    import tempfile

    from oil_wells_data_wrangling_spark.sources.warc import (
        read_warc,
        write_warc,
    )

    t = load_tables(spark, sf_dir)
    pages = _synth_pages(t)
    crawl = pages.unionAll(
        pages.filter(F.col("doc_id") % 4 == 0).select(
            "doc_id",
            F.concat("target_uri", F.lit("?ref=dup")).alias("target_uri"),
            "html",
        )
    )
    work = tempfile.mkdtemp(prefix="crawl_corpus_")
    arch = os.path.join(work, "crawl")
    # Shuffle-free read parallelism (r16, guide §6): when the write
    # side has fewer partitions than cores (the 2-split bench scan),
    # each write task rolls its output into enough byte-balanced
    # archive files that the read_warc strip stage sees ~core-count
    # splits — no payload shuffle, record bytes unchanged. At real
    # scale the write side already has >= cores partitions, the guard
    # is a no-op, and write_warc's 1 GiB default roll is what bounds
    # archive size (the honest CommonCrawl file-sizing knob).
    par = spark.sparkContext.defaultParallelism
    nparts = crawl.rdd.getNumPartitions()
    write_warc(
        crawl,
        arch,
        min_files_per_task=-(-par // nparts) if nparts < par else 1,
    ).collect()
    resp = read_warc(spark, arch).filter(
        (F.col("warc_type") == "response") & (F.col("http_status") == 200)
    )
    stripped = resp.select(
        F.regexp_extract("target_uri", r"/d/(\d+)", 1)
        .cast("bigint")
        .alias("doc_id"),
        _strip_html(payload_text()).alias("clean"),  # charset-aware
    )
    # quality-gate and reduce each page to scalars IN THE SCAN, before
    # any join: the sidecar join then carries (doc_id, 32-char md5,
    # int) on both sides, so its strategy is immaterial at any scale
    # (r14 — the prior form joined the full clean text against a
    # broadcast of the corpus-sized sidecar: text in the join if AQE
    # shuffles, driver death if it broadcasts)
    words = F.split("clean", " ")
    page_scalars = stripped.filter(
        (F.size(words) >= 20)
        & (F.size(F.array_distinct(words)) / F.size(words) >= 0.4)
    ).select(
        "doc_id",
        F.md5("clean").alias("h"),
        F.size(words).alias("n_tokens"),
    )
    deduped = (
        page_scalars.join(t.documents.select("doc_id", "lang"), "doc_id")
        .select("h", "lang", "n_tokens")
        .groupBy("h")
        .agg(
            F.min("lang").alias("lang"),
            F.min("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    out = (
        deduped.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.col("n_copies") - 1).alias("dups_removed"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


# ------------------------------------------------------------ stream_warc_ingest

# The crawl front door as a STREAM: archives arrive in waves (a crawl
# delivery drop); the binaryFile file-source stream + checkpointed
# seen-file log must process each archive EXACTLY ONCE — wave 2's
# trigger sees only wave 2's files. The registered demo runs two
# availableNow triggers against one checkpoint and reports the per-wave
# newly-ingested record count; the oracle is the wave split replayed
# over documents (even doc_ids arrive first — trivially exact because
# the archive hop is content-preserving and the file log is the
# contract under test).
_STREAM_WARC_ORACLE = """
SELECT CAST(1 AS INTEGER) AS wave,
       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new_records
FROM documents
UNION ALL
SELECT CAST(2 AS INTEGER) AS wave,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new_records
FROM documents
"""


@register("stream_warc_ingest", oracle=_STREAM_WARC_ORACLE)
def stream_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming crawl ingest with exactly-once archive tracking:
    pages are archived in TWO delivery waves (even doc_ids, then odd);
    each wave runs one availableNow trigger of ``read_warc_stream`` →
    parquet sink against a SINGLE checkpoint, so the second trigger's
    seen-file log admits only the new wave's archives. Output: the
    per-wave count of newly ingested records — wave 2 double-counting
    wave 1's files is the failure this operator exists to prove
    impossible.

    Scale shape: the stream is read_warc's zero-shuffle shape
    (file = split, Arrow parse in-task, parquet append sink); the
    checkpoint's file log grows with archive COUNT, not bytes — the
    CommonCrawl delivery unit (~1 GB files) keeps it tiny at 100 TB.
    Demo-harness caveat: driver-local tempdir + the wave writes at
    plan construction (warc_pipeline's pattern); production points the
    stream at the delivery bucket and leaves it running."""
    import os
    import shutil
    import tempfile

    from oil_wells_data_wrangling_spark.sources.warc import (
        read_warc_stream,
        write_warc,
    )

    t = load_tables(spark, sf_dir)
    pages = _synth_pages(t)
    work = tempfile.mkdtemp(prefix="stream_warc_")
    arch = os.path.join(work, "crawl")
    sink = os.path.join(work, "ingested")
    ckpt = os.path.join(work, "ckpt")
    out_rows: list[tuple[int, int]] = []
    seen = 0
    try:
        for wave, parity in ((1, 0), (2, 1)):
            write_warc(
                pages.filter(F.col("doc_id") % 2 == parity),
                os.path.join(arch, f"wave{wave}"),
            ).collect()
            q = (
                read_warc_stream(spark, arch, recursive=True)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            total = spark.read.parquet(sink).count()
            out_rows.append((wave, total - seen))
            seen = total
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        out_rows, "wave int, n_new_records bigint"
    )


# ---------------------------------------------------------- stream_crawl_corpus


@register("stream_crawl_corpus", oracle=_CRAWL_CORPUS_ORACLE)
def stream_crawl_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl → corpus composition as a STREAM — stream_warc_ingest's
    exactly-once front door continued through the corpus back end:
    archives arrive in two delivery waves (even doc_ids first; every
    4th doc's second-URI crawl dup arrives in wave 2, so HALF the dups
    cross waves and must hit persisted state, the other half dedup
    batch-locally), and each micro-batch's ``foreachBatch`` strips,
    lang-enriches, quality-filters, and MERGES per-hash rows into a
    persisted md5 dedup state table (min lang / min n_tokens / summed
    n_copies — associative merges, so arrival order cannot change the
    fixed point). The final per-language corpus stats must equal batch
    ``crawl_to_corpus`` over the union — the same oracle checks both,
    the exactly-incremental property.

    Scale shape: the stream inherits read_warc's zero-shuffle parse;
    the md5 dedup state is an ``append_merge_parquet`` MERGE-ON-READ
    table — each batch appends its per-hash partial rollup (write cost
    ∝ batch, never the accumulated state; the pre-r12 whole-state
    rewrite was O(state) per batch), the live view re-aggregates base
    + deltas (min lang / min n_tokens / summed n_copies are
    associative, so partial-rollup merge-on-read reaches the same
    fixed point), and the 2nd append compacts the log live. Content-
    hash state is the canonical NO-locality case — every batch sprays
    all key-hash buckets, so partition-scoped copy-on-write was
    measured and rejected for it (see sinks.append_merge_parquet).
    Payload text never enters the state — the dedup_exact argument,
    incrementally. Demo-harness caveats as stream_warc_ingest (driver
    tempdir, waves written at plan time)."""
    import os
    import shutil
    import tempfile

    from oil_wells_data_wrangling_spark.sources.sinks import (
        append_merge_parquet,
        read_merged,
    )
    from oil_wells_data_wrangling_spark.sources.warc import (
        read_warc_stream,
        write_warc,
    )

    t = load_tables(spark, sf_dir)
    pages = _synth_pages(t)
    dups = pages.filter(F.col("doc_id") % 4 == 0).select(
        "doc_id",
        F.concat("target_uri", F.lit("?ref=dup")).alias("target_uri"),
        "html",
    )
    lang_sidecar = t.documents.select("doc_id", "lang")
    work = tempfile.mkdtemp(prefix="stream_crawl_")
    arch = os.path.join(work, "crawl")
    ckpt = os.path.join(work, "ckpt")
    store = os.path.join(work, "state")

    def _agg_latest(merged: DataFrame) -> DataFrame:
        return merged.groupBy("h").agg(
            F.min("lang").alias("lang"),
            F.min("n_tokens").alias("n_tokens"),
            F.sum("n_copies").cast("bigint").alias("n_copies"),
        )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        resp = batch_df.filter(
            (F.col("warc_type") == "response") & (F.col("http_status") == 200)
        )
        stripped = resp.select(
            F.regexp_extract("target_uri", r"/d/(\d+)", 1)
            .cast("bigint")
            .alias("doc_id"),
            _strip_html(payload_text()).alias("clean"),  # charset-aware
        )
        # scalars in-scan before the sidecar join — crawl_to_corpus's
        # r14 shape: text never enters the join, so join strategy is
        # immaterial at any scale
        words = F.split("clean", " ")
        page_scalars = stripped.filter(
            (F.size(words) >= 20)
            & (F.size(F.array_distinct(words)) / F.size(words) >= 0.4)
        ).select(
            "doc_id",
            F.md5("clean").alias("h"),
            F.size(words).alias("n_tokens"),
        )
        batch_h = (
            page_scalars.join(lang_sidecar, "doc_id")
            .select("h", "lang", "n_tokens")
            .groupBy("h")
            .agg(
                F.min("lang").alias("lang"),
                F.min("n_tokens").alias("n_tokens"),
                F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            )
        )
        append_merge_parquet(
            # compact_every=2 is DEMO cadence (live mid-stream
            # compaction within the 2-wave demo); long streams keep
            # the measured default 8 — see append_merge_parquet
            batch_h, store, _agg_latest, compact_every=2, batch_id=batch_id
        )

    for wave, parity in ((1, 0), (2, 1)):
        crawl = pages.filter(F.col("doc_id") % 2 == parity)
        if wave == 2:
            crawl = crawl.unionAll(dups)
        write_warc(crawl, os.path.join(arch, f"wave{wave}")).collect()
        q = (
            read_warc_stream(spark, arch, recursive=True)
            .writeStream.foreachBatch(_merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    res = (
        read_merged(spark, store, _agg_latest)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum(F.col("n_copies") - 1).cast("bigint").alias("dups_removed"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return res


# ----------------------------------------------------------- warc_dedup_digest

# Cross-crawl payload dedup (the CommonCrawl recipe: WARC-Payload-Digest
# keyed, first crawl wins). Crawl 2 refetches every page; pages at
# doc_id % 3 == 0 changed between crawls (new payload), the rest are
# byte-identical refetches that digest-dedup must drop.
_WDD_ORACLE = f"""
WITH pages AS (
  SELECT doc_id, {_H2T_PAGE_DUCK} AS html FROM documents
),
rec AS (
  SELECT 1 AS crawl_id, doc_id, md5(html) AS digest FROM pages
  UNION ALL
  SELECT 2 AS crawl_id, doc_id,
         md5(CASE WHEN doc_id % 3 = 0
                  THEN html || '<p>updated v2</p>' ELSE html END) AS digest
  FROM pages
),
first_seen AS (
  SELECT digest, MIN(crawl_id) AS first_crawl FROM rec GROUP BY digest
)
SELECT CAST(rec.crawl_id AS INTEGER) AS crawl_id,
       CAST(COUNT(*) AS BIGINT) AS n_records,
       CAST(SUM(CASE WHEN rec.crawl_id = f.first_crawl THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new_payloads,
       CAST(SUM(CASE WHEN rec.crawl_id > f.first_crawl THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_payloads,
       CAST(SUM(CASE WHEN rec.crawl_id > f.first_crawl THEN 1 ELSE 0 END)
            * 1000 // COUNT(*) AS BIGINT) AS dup_permille
FROM rec JOIN first_seen f USING (digest)
GROUP BY rec.crawl_id
"""


@register("warc_dedup_digest", oracle=_WDD_ORACLE)
def warc_dedup_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-crawl payload-digest deduplication audit — CommonCrawl's
    WARC-Payload-Digest dedup: two crawl snapshots of the same URL
    frontier, records keyed by content digest, first crawl owns the
    payload and refetches count as duplicates. Pages at doc_id % 3 == 0
    change between crawls (their second fetch is a NEW payload); the
    rest are byte-identical refetches. Per crawl: records, new
    payloads, duplicate payloads, duplicate permille — the dedup-rate
    number each crawl's data card publishes.

    Scale shape: digests compute in the scan projection (md5 over the
    synthesized page — the WARC reader's digest field in production);
    the ONLY corpus-sized exchange is the digest-keyed shuffle, and
    first-crawl attribution is a whole-partition window MIN over it —
    one pass, no second scan and no self-join (a groupBy+join spelling
    of the same semantics re-scanned the union: plan-pinned to 2
    FileScans / 1 corpus exchange); the final rollup is a 2-row
    partial agg."""
    t = load_tables(spark, sf_dir)
    pages = _synth_pages(t)
    c1 = pages.select(
        F.lit(1).alias("crawl_id"), "doc_id", F.md5("html").alias("digest")
    )
    c2 = pages.select(
        F.lit(2).alias("crawl_id"),
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.col("html"), F.lit("<p>updated v2</p>")),
            ).otherwise(F.col("html"))
        ).alias("digest"),
    )
    rec = c1.unionByName(c2)
    attributed = rec.withColumn(
        "first_crawl", F.min("crawl_id").over(Window.partitionBy("digest"))
    )
    new_flag = (F.col("crawl_id") == F.col("first_crawl")).cast("int")
    dup_flag = (F.col("crawl_id") > F.col("first_crawl")).cast("int")
    return (
        attributed.groupBy(F.col("crawl_id").cast("int").alias("crawl_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_records"),
            F.sum(new_flag).cast("bigint").alias("n_new_payloads"),
            F.sum(dup_flag).cast("bigint").alias("n_dup_payloads"),
            F.expr(
                "sum(cast(crawl_id > first_crawl as int)) * 1000 div count(1)"
            )
            .cast("bigint")
            .alias("dup_permille"),
        )
    )


# --------------------------------------------------------- cdx_domain_captures

CDX_CAPTURES_ORACLE = """
SELECT 'com,example)/d/' || CAST(doc_id AS VARCHAR) AS urlkey,
       '19700101000000' AS ts,
       'https://example.com/d/' || CAST(doc_id AS VARCHAR) AS url
FROM documents
WHERE CAST(doc_id AS VARCHAR) LIKE '1%'
"""


@register("cdx_domain_captures", oracle=CDX_CAPTURES_ORACLE)
def cdx_domain_captures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cc-index SERVING contract as a query: archive the crawl
    with CDX sidecars (``write_warc(cdx=True)``), then answer a
    SURT-prefix lookup — every capture under ``com,example)/d/1`` —
    straight from the index, never touching archive bytes. The prefix
    deliberately lands mid-path so string-prefix semantics are live:
    it matches doc 1, 10–19, 100–199, 1000–1999… while excluding their
    neighbors, which the oracle replays as a VARCHAR LIKE over
    ``documents``. Offsets/lengths/digests exist in the index (every
    row random-access-tested in the §2.E suite) but are gzip-layout
    artifacts no SQL oracle can replay, so the registered projection
    is (urlkey, ts, url).

    Scale shape: ``cdx_lookup`` is a half-open range compare
    [prefix, next(prefix)) — on the sorted parquet mirror
    (``build_cdx_index``) it prunes to the overlapping files via
    min/max stats; here, over the raw sidecars, it is one pushed
    filter over a text scan whose rows are index lines, not pages.
    The archive write is warc_pipeline's demo-harness tempdir
    (documented caveat there); production points cdx_lookup at a
    crawl index it didn't write."""
    import os
    import shutil
    import tempfile

    from oil_wells_data_wrangling_spark.sources.warc import (
        cdx_lookup,
        write_warc,
    )

    t = load_tables(spark, sf_dir)
    pages = _synth_pages(t)
    work = tempfile.mkdtemp(prefix="cdx_captures_")
    arch = os.path.join(work, "crawl")
    write_warc(pages, arch, compress=True, cdx=True).collect()
    out = (
        cdx_lookup(spark, arch, "com,example)/d/1")
        .select("urlkey", F.col("timestamp").alias("ts"), "url")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out

"""Spatial operators (SURVEY.md §2 round-3 addition).

The reference serves wells onto a Leaflet map (app.py:15-38,
static/map.html): the map view is implicitly a lat/lon bounding-box
query over well coordinates. Re-expressed Spark-first: a grid-cell key
(1° × 1° floor cells) turns a bbox query into a cell-range scan plus an
exact re-check — the same bucketize-then-verify trick range_join uses.
At scale the table is partitioned (or z-ordered) by the cell key, so
the cell-range predicate prunes partitions and only boundary cells pay
the exact comparison; here the cell predicate is a Catalyst range
filter evaluated in the scan stage.

The driver's tables carry no coordinates, so wells get deterministic
synthetic positions derived from md5 of the supplier key — portable
arithmetic (integer hash → two-decimal degrees) that DuckDB mirrors
bit-for-bit, keeping both queries hash-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oil_wells_data_wrangling_spark.plans.registry import register
from oil_wells_data_wrangling_spark.sources.readers import load_tables

# Portable hash → coordinate synth. x/100 is the same double in both
# engines (one division of the same integer), so floor() and the bbox
# comparisons agree bit-for-bit.
# 100D/90D: double literals — Spark would otherwise type `100.0` in an
# expr string as DECIMAL and the whole coordinate as Decimal output.
_LAT_S = (
    "cast(conv(substr(md5(concat('lat_', cast(s_suppkey as string))), 1, 8),"
    " 16, 10) as bigint) % 18000 / 100D - 90D"
)
_LON_S = (
    "cast(conv(substr(md5(concat('lon_', cast(s_suppkey as string))), 1, 8),"
    " 16, 10) as bigint) % 36000 / 100D - 180D"
)
_LAT_D = (
    "CAST('0x' || substr(md5('lat_' || CAST(s_suppkey AS VARCHAR)), 1, 8)"
    " AS BIGINT) % 18000 / 100.0 - 90.0"
)
_LON_D = (
    "CAST('0x' || substr(md5('lon_' || CAST(s_suppkey AS VARCHAR)), 1, 8)"
    " AS BIGINT) % 36000 / 100.0 - 180.0"
)


def with_coordinates(supplier: DataFrame) -> DataFrame:
    """(s_suppkey, lat, lon, cell_lat, cell_lon): synthetic but
    deterministic well positions + their 1°-grid cell key."""
    return supplier.select(
        "s_suppkey",
        F.expr(_LAT_S).alias("lat"),
        F.expr(_LON_S).alias("lon"),
    ).select(
        "s_suppkey",
        "lat",
        "lon",
        F.floor("lat").cast("bigint").alias("cell_lat"),
        F.floor("lon").cast("bigint").alias("cell_lon"),
    )


_GEO_BUCKET_ORACLE = f"""
WITH pos AS (
  SELECT s_suppkey, {_LAT_D} AS lat, {_LON_D} AS lon FROM supplier
)
SELECT CAST(floor(lat / 10) AS BIGINT) AS band_lat,
       CAST(floor(lon / 10) AS BIGINT) AS band_lon,
       CAST(COUNT(*) AS BIGINT) AS n_wells,
       CAST(MIN(s_suppkey) AS BIGINT) AS sample_well
FROM pos GROUP BY 1, 2
"""


@register("geo_bucket", oracle=_GEO_BUCKET_ORACLE)
def geo_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell density rollup — the map's clustered-marker view
    (static/map.html renders one marker per well; at fleet scale the
    map tiles aggregate per cell). 10° bands keep the output bounded
    (648 cells max) at any data scale; one partial-agg shuffle."""
    t = load_tables(spark, sf_dir)
    pos = with_coordinates(t.supplier)
    return pos.groupBy(
        F.floor(F.col("lat") / 10).cast("bigint").alias("band_lat"),
        F.floor(F.col("lon") / 10).cast("bigint").alias("band_lon"),
    ).agg(
        F.count(F.lit(1)).alias("n_wells"),
        F.min("s_suppkey").alias("sample_well"),
    )


_BBOX = (-45.0, 45.0, -90.0, 90.0)  # lat_min, lat_max, lon_min, lon_max

_BBOX_ORACLE = f"""
WITH pos AS (
  SELECT s_suppkey, {_LAT_D} AS lat, {_LON_D} AS lon FROM supplier
),
cells AS (
  SELECT s_suppkey, lat, lon,
         CAST(floor(lat) AS BIGINT) AS cell_lat,
         CAST(floor(lon) AS BIGINT) AS cell_lon
  FROM pos
)
SELECT s_suppkey, ROUND(lat, 2) AS lat, ROUND(lon, 2) AS lon
FROM cells
WHERE cell_lat BETWEEN floor({_BBOX[0]}) AND floor({_BBOX[1]})
  AND cell_lon BETWEEN floor({_BBOX[2]}) AND floor({_BBOX[3]})
  AND lat BETWEEN {_BBOX[0]} AND {_BBOX[1]}
  AND lon BETWEEN {_BBOX[2]} AND {_BBOX[3]}
"""


@register("spatial_bbox", oracle=_BBOX_ORACLE)
def spatial_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounding-box query — the map viewport fetch (app.py:21-28 serves
    rows the Leaflet view then pans/zooms over). Cell-range prefilter on
    the 1° grid key, exact lat/lon re-check inside boundary cells. With
    cell-partitioned storage the first predicate is partition pruning;
    both predicates evaluate in the scan stage (no shuffle at all)."""
    t = load_tables(spark, sf_dir)
    lat_min, lat_max, lon_min, lon_max = _BBOX
    pos = with_coordinates(t.supplier)
    return (
        pos.filter(
            F.col("cell_lat").between(int(lat_min // 1), int(lat_max // 1))
            & F.col("cell_lon").between(int(lon_min // 1), int(lon_max // 1))
        )
        .filter(
            F.col("lat").between(lat_min, lat_max)
            & F.col("lon").between(lon_min, lon_max)
        )
        .select(
            "s_suppkey",
            F.round("lat", 2).alias("lat"),
            F.round("lon", 2).alias("lon"),
        )
    )


# ----------------------------------------------------------------- zorder_stats

# Quantized integer coordinates (the lat/lon hash BEFORE the /100-90
# projection): qlat 0..17999 (15 bits), qlon 0..35999 (16 bits) — the
# z-value interleaves their bits with pure integer arithmetic, exact in
# both engines.
_QLAT_S = (
    "cast(conv(substr(md5(concat('lat_', cast(s_suppkey as string))), 1, 8),"
    " 16, 10) as bigint) % 18000"
)
_QLON_S = (
    "cast(conv(substr(md5(concat('lon_', cast(s_suppkey as string))), 1, 8),"
    " 16, 10) as bigint) % 36000"
)
_QLAT_D = (
    "CAST('0x' || substr(md5('lat_' || CAST(s_suppkey AS VARCHAR)), 1, 8)"
    " AS BIGINT) % 18000"
)
_QLON_D = (
    "CAST('0x' || substr(md5('lon_' || CAST(s_suppkey AS VARCHAR)), 1, 8)"
    " AS BIGINT) % 36000"
)


def _morton_spark(qx: str, qy: str, bits: int = 16) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"shiftleft(shiftright({qx}, {b}) & 1, {2 * b})")
        terms.append(f"shiftleft(shiftright({qy}, {b}) & 1, {2 * b + 1})")
    return " + ".join(terms)


def _morton_duck(qx: str, qy: str, bits: int = 16) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"((({qx} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({qy} >> {b}) & 1) << {2 * b + 1})")
    return " + ".join(terms)


_ZFILE_SHIFT = 26  # top z bits -> ~64 target files

_ZORDER_ORACLE = f"""
WITH q AS (
  SELECT s_suppkey, {_QLAT_D} AS qlat, {_QLON_D} AS qlon FROM supplier
),
z AS (
  SELECT s_suppkey, qlat, qlon,
         ({_morton_duck('qlon', 'qlat')}) AS zval
  FROM q
)
SELECT CAST(zval >> {_ZFILE_SHIFT} AS BIGINT) AS file_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MAX(qlat) - MIN(qlat) AS BIGINT) AS lat_span,
       CAST(MAX(qlon) - MIN(qlon) AS BIGINT) AS lon_span
FROM z GROUP BY 1
"""


@register("zorder_stats", oracle=_ZORDER_ORACLE)
def zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) write-clustering audit: interleave the
    quantized lat/lon bits into a space-filling-curve key, assign rows
    to target files by the key's top bits, and report each file's
    bounding-box spans. Tight per-file spans are WHY z-ordered layouts
    prune: a bbox query's min/max footer check skips files whose
    spans miss the box (this op is the audit you run after
    `df.repartitionByRange(N, zval).sortWithinPartitions(zval).write`).

    Exactness: the Morton code is pure integer bit arithmetic on the
    hash-derived quantized coordinates — no doubles anywhere — so both
    engines produce identical file assignments and spans. One
    partial-agg shuffle of ~64 groups."""
    t = load_tables(spark, sf_dir)
    z = t.supplier.select(
        "s_suppkey",
        F.expr(_QLAT_S).alias("qlat"),
        F.expr(_QLON_S).alias("qlon"),
    ).select(
        "s_suppkey",
        "qlat",
        "qlon",
        F.expr(_morton_spark("qlon", "qlat")).alias("zval"),
    )
    return z.groupBy(
        F.expr(f"zval >> {_ZFILE_SHIFT}").cast("bigint").alias("file_id")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.max("qlat") - F.min("qlat")).cast("bigint").alias("lat_span"),
        (F.max("qlon") - F.min("qlon")).cast("bigint").alias("lon_span"),
    )


# ---------------------------------------------------------------- compact_table

_COMPACT_FRAG_FILES = 64
_COMPACT_BUCKETS = 8

COMPACT_TABLE_ORACLE = f"""
WITH b AS (
  SELECT CAST(MIN(o_orderkey) AS BIGINT) AS mn,
         CAST(MAX(o_orderkey) AS BIGINT) AS mx
  FROM orders
),
a AS (
  SELECT o_orderkey,
         CAST((o_orderkey - mn) * {_COMPACT_BUCKETS} // (mx - mn + 1)
              AS BIGINT) AS bucket
  FROM orders, b
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
       CAST({_COMPACT_FRAG_FILES} AS BIGINT) AS files_before,
       (SELECT CAST(COUNT(DISTINCT bucket) AS BIGINT) FROM a)
         AS files_after
FROM a GROUP BY bucket
"""


@register("compact_table", oracle=COMPACT_TABLE_ORACLE)
def compact_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction with key clustering — the table-maintenance
    operator a streaming ingest (per-batch appends, `append_merge_
    parquet` deltas, CDC upserts) eventually owes the reader: a store
    fragmented into 64 files is rewritten as one
    file per key-range bucket, and the returned evidence is what a
    maintenance job logs — per output file its row count and KEY
    BOUNDING BOX (min/max), plus the real before/after file counts
    counted off the filesystem. Disjoint per-file key ranges are the
    point: after compaction a key-range query's min/max footer check
    prunes to one file (`zorder_stats` is the 2-D sibling audit).

    Driven end-to-end on real files: the registered demo WRITES the
    fragmented store (64 round-robin files, the
    many-small-files layout a file-per-micro-batch sink leaves),
    compacts it, and the oracle re-derives every output column —
    including both file counts, which are deterministic by
    construction (round-robin leaves no empty input file at these row
    counts; each key-range bucket lands wholly in one writer task, so
    dirs hold exactly one file). The per-bucket evidence (n_rows,
    key bbox, files_after) is read from the PARQUET FOOTERS via
    ``sources.parquet_meta.pruning_report`` — the numbers a pruning
    reader will actually see, not a parallel recomputation from data
    rows — so oracle agreement doubles as a footer-stats audit.

    Scale shape: ONE scan of the fragmented store + one bounded
    min/max aggregate (2-scalar collect) + one clustering exchange on
    the bucket key, then a file-per-bucket write — the same plan at
    any store size, with bucket count chosen from the data range. The
    bucket key is a pure key-range function (floor((k-mn)·B/(mx-mn+1))
    in exact integer arithmetic), so the assignment is deterministic
    and engine-portable, unlike repartitionByRange's sampled
    boundaries."""
    import os
    import shutil
    import tempfile

    t = load_tables(spark, sf_dir)
    src = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    work = tempfile.mkdtemp(prefix="compact_")
    frag = os.path.join(work, "frag")
    comp = os.path.join(work, "compacted")
    src.repartition(_COMPACT_FRAG_FILES).write.parquet(frag)
    files_before = sum(
        1 for f in os.listdir(frag) if f.endswith(".parquet")
    )
    fdf = spark.read.parquet(frag)
    row = fdf.agg(
        F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx")
    ).collect()[0]  # 2 bounded scalars
    mn, mx = int(row["mn"]), int(row["mx"])
    compacted = fdf.withColumn(
        "bucket",
        F.expr(
            f"CAST(((o_orderkey - {mn}) * {_COMPACT_BUCKETS})"
            f" DIV {mx - mn + 1} AS BIGINT)"
        ),
    ).repartition(F.col("bucket"))
    compacted.write.partitionBy("bucket").parquet(comp)
    # Evidence from the FOOTERS: per-file n_rows / key bbox / overlap
    # verdict via the footer inspector, cast='bigint' because the key
    # is an unpadded numeric (string stat order would misrank it).
    from oil_wells_data_wrangling_spark.sources.parquet_meta import (
        pruning_report,
    )

    rep = pruning_report(
        spark, comp, "o_orderkey", cast="bigint"
    ).localCheckpoint(eager=True)  # sever lineage so the dir can go
    files_after = rep.count()  # the footer reader's file inventory
    out = (
        rep.withColumn(
            "bucket",
            F.regexp_extract("file", r"bucket=(\d+)", 1).cast("bigint"),
        )
        .groupBy("bucket")
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.min("min_value").cast("bigint").alias("min_key"),
            F.max("max_value").cast("bigint").alias("max_key"),
        )
        .withColumn("files_before", F.lit(files_before).cast("bigint"))
        .withColumn("files_after", F.lit(files_after).cast("bigint"))
    )
    shutil.rmtree(work, ignore_errors=True)
    return out

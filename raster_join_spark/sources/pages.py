"""Common-Crawl-style web-pages source (BASELINE.json input_hint shape).

The engine's input table is ``(url string, warc_ts timestamp, html binary,
text string, lang string)``. Test/bench instances are synthesized
DETERMINISTICALLY from the driver-provided ``events`` table with pure
integer arithmetic, so the identical SQL text produces the identical rows
in both Spark and DuckDB — that single-source CTE is what makes the
driver's oracle comparison exact.

Geolocations are embedded in ``text`` as integer microdegrees
(``geo:<latmic>,<lonmic>``) and RE-EXTRACTED by the engine — synthesis
writes the tag, extraction parses it, so extraction is testable and
lossless, and the per-url ``text`` bytes are never modified downstream
(input_hint invariant).

Point distribution mirrors the reference workloads (FIXTURES.md §1):
30% of pages cluster in a dense NYC-like hot box (exercises skew /
salting), 70% spread over the continental-US box
(UsefulFuncs.cpp:579-583). Coordinates stay integer microdegrees: every
derived quantity (cell ids, squared distances) is exactly representable
in float64, eliminating engine-vs-oracle float drift by construction.

Design notes for 100 TB scale: synthesis is a stand-in for
``spark.read`` of the real crawl table. The extraction path
(regexp_extract -> cast) is pure JVM column expressions — no Python —
and Catalyst prunes ``html`` out of any plan that doesn't select it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Integer-microdegree geotag synthesis. Identical text runs on Spark SQL
# and DuckDB: no backslashes in regexes (escape rules differ), no
# transcendental functions, positive modulo only.
PAGES_CTE = """
pages AS (
  SELECT
    concat('https://crawl.example.com/', CAST(event_id AS STRING)) AS url,
    ts AS warc_ts,
    concat(
      'snippet lang=', event_type, ' geo:',
      CAST(CASE WHEN event_id % 10 < 3
           THEN 40500000 + (event_id * 12345) % 400000
           ELSE 24500000 + (event_id * 48271) % 24000000 END AS STRING),
      ',',
      CAST(CASE WHEN event_id % 10 < 3
           THEN -74200000 + (event_id * 54321) % 400000
           ELSE -124500000 + (event_id * 16807) % 57000000 END AS STRING),
      ' value=', CAST(CAST(floor(value * 100) AS BIGINT) AS STRING)
    ) AS text,
    event_type AS lang,
    event_id,
    CAST(floor(value * 100) AS BIGINT) AS value_c
  FROM events
)
"""

# Extraction: the engine re-parses lat/lon from `text` — never trusts the
# synthesis columns. x = lonmic, y = latmic as exact doubles.
POINTS_CTE = (
    PAGES_CTE
    + """,
points AS (
  SELECT
    url, warc_ts, lang, event_id, value_c,
    CAST(CAST(regexp_extract(text, 'geo:(-?[0-9]+),(-?[0-9]+)', 1) AS BIGINT) AS DOUBLE) AS y,
    CAST(CAST(regexp_extract(text, 'geo:(-?[0-9]+),(-?[0-9]+)', 2) AS BIGINT) AS DOUBLE) AS x,
    text
  FROM pages
)
"""
)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver's parquet tables as temp views (lazy scans)."""
    for t in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def pages_df(spark: SparkSession, sf_dir: str, with_html: bool = True) -> DataFrame:
    """The input-shaped table (url, warc_ts, html, text, lang).

    ``html`` is an opaque binary payload (here: the text bytes wrapped in
    tags); the engine carries it but never parses it in the hot path —
    Catalyst column pruning drops it from every plan that doesn't
    select it (checked in tests via ReadSchema).
    """
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    html = (
        "CAST(concat('<html><body>', text, '</body></html>') AS BINARY) AS html,"
        if with_html
        else ""
    )
    return spark.sql(
        f"WITH {PAGES_CTE} SELECT url, warc_ts, {html} text, lang FROM pages"
    )


def points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages with extracted planar point coords (x=lonmic, y=latmic doubles).

    This is the engine's ingest projection (reference S2,
    Dataset.cpp:26-31) expressed as native column expressions: the regexp
    extraction + casts run JVM-side inside whole-stage codegen.

    (r8 note: a repartition of the raw events scan was tried here to
    spread the single-row-group file across cores and REVERTED — it
    regressed every consumer that is not python-CPU-bound (measured
    spatial_split_count 1.8s -> 15.7s at sf1.0: the exchange below the
    chained broadcast probes breaks their single codegen'd pipeline).
    Operators that re-scan this expensive projection fix parallelism
    at their own persist boundary instead — see knn.py and
    plans/query.py.)"""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    # `text` rides along for the byte-identity invariant; Catalyst prunes
    # it out of every plan that doesn't select it (tests/test_plans.py)
    return spark.sql(
        f"WITH {POINTS_CTE} SELECT url, warc_ts, lang, event_id, value_c, x, y, text FROM points"
    )


def synth_points(spark: SparkSession, n: int, num_partitions: int = 256) -> DataFrame:
    """Deterministic scalable point table for benchmarks (no external data).

    Same distribution as PAGES_CTE (30% NYC-style hot cluster, 70% US-wide)
    driven by ``spark.range`` — pure codegen'd column arithmetic, so
    generation itself parallelizes and never bottlenecks the measurement.
    ``num_partitions`` is fixed so different parallelism levels see the
    IDENTICAL input split (the north_rule's same-input requirement)."""
    df = spark.range(0, n, 1, num_partitions).withColumnRenamed("id", "event_id")
    hot = (df.event_id % 10) < 3
    from pyspark.sql import functions as F

    y = F.when(hot, 40_500_000 + (df.event_id * 12345) % 400_000).otherwise(
        24_500_000 + (df.event_id * 48271) % 24_000_000
    )
    x = F.when(hot, -74_200_000 + (df.event_id * 54321) % 400_000).otherwise(
        -124_500_000 + (df.event_id * 16807) % 57_000_000
    )
    return df.select(
        "event_id",
        x.cast("double").alias("x"),
        y.cast("double").alias("y"),
        ((df.event_id * 7919) % 10_000).alias("value_c"),
    )

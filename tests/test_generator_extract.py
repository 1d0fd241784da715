"""Generator determinism + extract stage per-row invariant."""

import re

import pytest
from pyspark.sql import functions as F

from timeseries_harmonizer_spark.functions.extract import extract_text
from timeseries_harmonizer_spark.sources.webpages import web_pages


def test_generator_deterministic(spark, pages):
    again = web_pages(spark, n_urls=30, points_per_url=120, n_domains=8, seed=42)
    a = pages.orderBy("url", "warc_ts", "ingest_pos").toPandas()
    b = again.orderBy("url", "warc_ts", "ingest_pos").toPandas()
    assert a.equals(b)


def test_generator_hazards_present(pages):
    n = pages.count()
    n_urls = pages.select("url").distinct().count()
    assert n_urls == 30
    # duplicates injected
    dups = pages.groupBy("url", "warc_ts").count().where("count > 1").count()
    assert dups > 0
    # malformed html -> null expected text
    assert pages.where(F.col("text").isNull()).count() > 0
    assert pages.where(F.col("text").isNotNull()).count() > 0.8 * n


def test_extract_matches_ground_truth(pages):
    """Per-row invariant: extracted text is byte-identical to the expected
    extraction for every row (BASELINE.json.input_hint)."""
    ext = pages.withColumn("ext", extract_text(F.col("html")))
    mismatches = ext.where(
        ~(
            (F.col("ext").isNull() & F.col("text").isNull())
            | (F.col("ext") == F.col("text"))
        )
    ).count()
    assert mismatches == 0


def test_extract_is_pure_function_of_bytes(pages):
    ext1 = pages.withColumn("ext", extract_text(F.col("html"))).select("url", "warc_ts", "ingest_pos", "ext")
    ext2 = pages.withColumn("ext", extract_text(F.col("html"))).select("url", "warc_ts", "ingest_pos", "ext")
    assert ext1.exceptAll(ext2).count() == 0


@pytest.mark.parametrize("body", ["a\rb", "a\nb", "a\u2028b", "ab"])
def test_extract_line_terminators_match_python_re(spark, body):
    """Only '\n' ends a line for the body match, as in Python ``re``:
    '\r' and U+2028 stay inside <p>...</p>."""
    html = f"<html><body><p>{body}</p></body></html>"
    m = re.search(r"<p>(.*?)</p>", html)
    expected = m.group(1) if m else None
    df = spark.createDataFrame([(bytearray(html.encode("utf-8")),)], "html binary")
    got = df.select(extract_text(F.col("html")).alias("t")).first()["t"]
    assert got == expected

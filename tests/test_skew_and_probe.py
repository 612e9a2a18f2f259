"""Skew-handling evidence + the render-free page-count probe (S4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tesseract_ocr_service_spark.operators import extract as X
from tesseract_ocr_service_spark.sources import gen

from . import golden


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("skew") / "pages")
    gen.write_pages(spark, path, 2000, seed=13, partitions=8)
    return path


def test_corpus_is_domain_skewed(spark, pages_path):
    """Sanity: the synthetic corpus reproduces web Zipf — the hottest
    domain owns a large share of bytes (the situation salting fixes)."""
    pages = X.read_pages(spark, pages_path)
    by_domain = (
        pages.select(
            F.regexp_extract("url", r"https://([^/]+)/", 1).alias("domain"),
            F.length("html").alias("sz"),
        )
        .groupBy("domain")
        .agg(F.sum("sz").alias("bytes"))
        .orderBy(F.desc("bytes"))
        .collect()
    )
    total = sum(r["bytes"] for r in by_domain)
    assert by_domain[0]["bytes"] / total > 0.15  # hot-domain concentration


def test_salting_evens_partition_byte_load(spark, pages_path):
    """xxhash64(url) salting must spread bytes near-uniformly across
    partitions no matter how skewed the domains are."""
    pages = X.read_pages(spark, pages_path).select("url", "html")
    n_parts = 16
    salted = pages.repartition(n_parts, F.xxhash64("url"))
    sizes = (
        salted.select(
            F.spark_partition_id().alias("pid"), F.length("html").alias("sz")
        )
        .groupBy("pid")
        .agg(F.sum("sz").alias("bytes"))
        .collect()
    )
    loads = [r["bytes"] for r in sizes]
    assert len(loads) == n_parts
    mean = sum(loads) / len(loads)
    assert max(loads) < 1.6 * mean  # no partition is a straggler


def test_page_count_probe_matches_extraction(spark, pages_path):
    """The render-free probe must agree with the kernel's total_pages
    for every non-rejected, non-error document (no page selection)."""
    pages = X.read_pages(spark, pages_path)
    probe = {r["url"]: r["page_count"] for r in X.probe_page_count(pages).collect()}
    wide = X.extract(pages).select("url", "status", "total_pages").collect()
    checked = 0
    for r in wide:
        if r["status"] in ("ok", "empty"):
            assert probe[r["url"]] == r["total_pages"], r["url"]
            checked += 1
    assert checked > 1500


def test_probe_plan_is_scan_only(spark, pages_path):
    plan = (
        X.probe_page_count(X.read_pages(spark, pages_path))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" not in plan and "Exchange" not in plan
    assert "MapInArrow" not in plan  # the extraction kernel never runs

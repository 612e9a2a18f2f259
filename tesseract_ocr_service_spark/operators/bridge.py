"""Bridge: drive the extraction kernel from the driver's `documents` table.

The driver harness provides TPC-H-ish parquet plus a
``documents(doc_id, text, lang, source, n_chars)`` table. The flagship
oracle-checked query wraps each document's text into a minimal HTML page
(entity-escaped so extraction round-trips byte-exact), runs the REAL
fused kernel over it, and returns the canonical text — which DuckDB can
independently reproduce in pure SQL (tokenize -> 12-word lines -> joins),
proving the kernel end-to-end against an external oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ExtractConfig
from . import extract as X


def documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def pages_from_documents(docs: DataFrame) -> DataFrame:
    """documents -> pages-shaped input for the kernel.

    html = <html><body><p>{escaped text}</p></body></html>; the kernel
    unescapes back, so extracted tokens == original tokens. url carries
    doc_id so results join back losslessly.
    """
    # The driver's documents table is ONE parquet file -> one scan
    # partition -> the kernel's mapInArrow ran in a SINGLE task
    # (measured: the whole extraction pipeline serialized on one core
    # at sf1.0). Spread the rows across the cluster with a
    # deterministic hash repartition (guide §2.5: never rand/round-
    # robin — task retries must reproduce the same assignment) sized
    # from the session's parallelism, BEFORE the payload bytes are
    # built, so the shuffle moves only the small source rows. ONE
    # wave (1x parallelism, r6): the kernel's Arrow tasks carry fixed
    # per-task setup, and 2x-spread measured ~0.5 s slower per kernel
    # query at the 50k tier (2.23 -> 1.74 s pdf_kernel_pages).
    par = docs.sparkSession.sparkContext.defaultParallelism
    docs = docs.repartition(par, F.xxhash64("doc_id"))
    escaped = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("url"),
        (
            F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id").cast("double"))
        ).alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><body><p>"), escaped, F.lit("</p></body></html>")
            ),
            "utf-8",
        ).alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )


def extract_documents(
    spark: SparkSession,
    sf_dir: str,
    cfg: ExtractConfig = ExtractConfig(emit_spans=False),
) -> DataFrame:
    """Full kernel over HTML-wrapped documents -> (doc_id, canonical_text,
    n_words, status). Spans are off by default — this projection never
    reads them (kernel-side column pruning); pass a cfg with
    emit_spans=True to exercise the hierarchy branch."""
    pages = pages_from_documents(documents(spark, sf_dir))
    wide = X.extract(pages, cfg)
    return wide.select(
        F.col("url").cast("bigint").alias("doc_id"),
        F.col("canonical_text"),
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("status"),
    )

"""The extraction kernel's Arrow boundary changes no output value.

Every ``EXTRACTED_SCHEMA`` column out of ``operators.extract.extract`` —
nested ``pages``/``spans``, ``warc_ts``, NULL ``error``s and the counters
— must hash equal to in-process ``kernel.extract_batch`` over the same
``sources.gen`` rows; and in a non-UTC session ``warc_ts`` must survive
the crossing while lineage's per-day ``kernel_ms`` keys stay the
``warc_day`` values the writer derives.
"""

from __future__ import annotations

import hashlib
import json
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tesseract_ocr_service_spark.config import ExtractConfig
from tesseract_ocr_service_spark.functions import kernel
from tesseract_ocr_service_spark.operators import extract as X
from tesseract_ocr_service_spark.plans import commit as C
from tesseract_ocr_service_spark.schema import EXTRACTED_SCHEMA, PAGES_SCHEMA
from tesseract_ocr_service_spark.sources import gen

N_DOCS = 400
SEED = 7  # covers every status: ok / rejected / error / empty
BATCH_ROWS = 256

PER_ROW_SCHEMA = StructType(
    list(PAGES_SCHEMA.fields)
    + [
        StructField("pages", ArrayType(IntegerType()), True),
        StructField("page_start", IntegerType(), True),
        StructField("page_end", IntegerType(), True),
        StructField("content_type", StringType(), True),
    ]
)


def _canon(value, dtype):
    """A JSON-able value of ``dtype`` from whatever either side holds:
    dicts, tuples, Rows and numpy arrays for nested values; datetimes or
    epoch microseconds for timestamps."""
    if value is None:
        return None
    if isinstance(dtype, StructType):
        return [
            _canon(value[f.name] if isinstance(value, dict) else value[i],
                   f.dataType)
            for i, f in enumerate(dtype.fields)
        ]
    if isinstance(dtype, ArrayType):
        return [_canon(v, dtype.elementType) for v in value]
    if isinstance(dtype, TimestampType):
        if isinstance(value, (int, np.integer)):
            return int(value)
        return pd.Timestamp(value).value // 1000  # naive = UTC wall time
    if isinstance(value, (float, np.floating)):
        return float(value)
    if isinstance(value, (int, np.integer)):
        return int(value)
    return str(value)


def _digests(rows) -> dict[str, str]:
    """url -> sha256 over every EXTRACTED_SCHEMA column of its row."""
    out = {}
    for row in rows:
        canon = _canon(row, EXTRACTED_SCHEMA)
        out[canon[0]] = hashlib.sha256(
            json.dumps(canon, ensure_ascii=False).encode()
        ).hexdigest()
    return out


def _corpus_digest(digests: dict[str, str]) -> str:
    h = hashlib.sha256()
    for url in sorted(digests):
        h.update(f"{url}\x00{digests[url]}\x01".encode())
    return h.hexdigest()


def _spark_digests(wide) -> dict[str, str]:
    rows = wide.withColumn("warc_ts", F.unix_micros("warc_ts")).collect()
    return _digests(rows)


def _local_digests(kernel_input: pd.DataFrame) -> dict[str, str]:
    cfg = ExtractConfig()
    rows = []
    for lo in range(0, len(kernel_input), BATCH_ROWS):
        batch = kernel_input.iloc[lo:lo + BATCH_ROWS].reset_index(drop=True)
        out = kernel.extract_batch(batch, cfg)
        rows.extend(out.to_dict("records"))
    return _digests(rows)


def _assert_same(spark_d: dict[str, str], local_d: dict[str, str]) -> None:
    assert spark_d.keys() == local_d.keys()
    diff = sorted(u for u in local_d if spark_d[u] != local_d[u])
    assert not diff, f"{len(diff)} rows differ, first {diff[:3]}"
    assert _corpus_digest(spark_d) == _corpus_digest(local_d)


@pytest.fixture(scope="module")
def corpus() -> pd.DataFrame:
    return gen.gen_batch(list(range(N_DOCS)), SEED)


def test_full_rows_match_in_process_kernel(spark, tmp_path, corpus):
    path = str(tmp_path / "pages")
    gen.write_pages(spark, path, N_DOCS, seed=SEED, partitions=4)
    wide = X.extract(X.read_pages(spark, path), salt_partitions=4)
    statuses = {r["status"] for r in wide.select("status").distinct().collect()}
    assert statuses == {"ok", "rejected", "error", "empty"}
    _assert_same(
        _spark_digests(wide),
        _local_digests(corpus[list(X.KERNEL_INPUT)]),
    )


def test_per_row_config_columns_match_in_process_kernel(spark, corpus):
    """The optional per-row columns cross as Arrow too: list<int> pages,
    nullable page_start/page_end and the Content-Type verdict."""
    ids = range(len(corpus))
    pages_sel = [[1, 3] if i % 7 == 0 else None for i in ids]
    start = [2.0 if i % 5 == 0 else np.nan for i in ids]
    end = [1.0 if i % 9 == 0 else np.nan for i in ids]
    ctype = [
        "application/zip" if i % 11 == 0 else
        None if i % 13 == 0 else "Text/HTML; charset=UTF-8"
        for i in ids
    ]
    staged = corpus.assign(
        pages=pages_sel, page_start=start, page_end=end, content_type=ctype
    )
    df = spark.createDataFrame(staged, PER_ROW_SCHEMA)
    wide = X.extract(df, salt_partitions=4)
    # the kernel input as the boundary hands it over: nullable ints as
    # float NaN, the gate verdict as one boolean per row
    local = staged.drop(columns=["text", "content_type"]).assign(
        _ct_reject=[c == "application/zip" for c in ctype]
    )
    _assert_same(_spark_digests(wide), _local_digests(local))


def test_non_utc_session_keeps_warc_ts_and_day_keys(spark, tmp_path, corpus):
    """All rows sit on 2026-01-05/06 in UTC (two input partitions) and
    on 2026-01-06 in Asia/Tokyo: the kernel must attribute its
    milliseconds to the Tokyo day the writer derives, and every
    warc_ts must come back as the same instant."""
    base = datetime(2026, 1, 5, 20, 0)
    rows = corpus.iloc[:40].assign(
        warc_ts=[base + timedelta(minutes=15 * i) for i in range(40)]
    )
    pages = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    (
        spark.createDataFrame(rows, PAGES_SCHEMA)
        .withColumn("warc_day", F.to_date("warc_ts"))
        .write.partitionBy("warc_day")
        .parquet(pages)
    )
    before = {
        r["url"]: r["us"]
        for r in spark.read.parquet(pages)
        .select("url", F.unix_micros("warc_ts").alias("us"))
        .collect()
    }
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "Asia/Tokyo")
    try:
        summary = C.run_checkpointed(spark, pages, out)
    finally:
        spark.conf.set(key, prev)
    assert summary.pending_days == ["2026-01-05", "2026-01-06"]

    written = C.read_extracted(spark, out).select(
        "url", F.unix_micros("warc_ts").alias("us"),
        F.col("warc_day").cast("string").alias("warc_day"),
    ).collect()
    assert {r["url"]: r["us"] for r in written} == before
    written_days = {r["warc_day"] for r in written}
    assert written_days == {"2026-01-06"}

    lineage = C.read_lineage(spark, out).collect()
    assert {r["warc_day"] for r in lineage if r["kernel_ms"] > 0} == (
        written_days
    )

"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark AND its ``oracle_sql()`` on DuckDB over the
same parquet, compare row count, column names/shape, and exact values
(order-insensitive)."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
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
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by all values — order-insensitive
    exact comparison (the driver hashes; we diff for debuggability)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
        else:
            df[c] = df[c].astype("int64", errors="ignore")
    return df.sort_values(list(df.columns), ignore_index=True)


QUERY_NAMES = sorted(entrymod.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_duckdb_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    got = q(spark, SF_DIR).toPandas()
    if sql is None:
        assert len(got) >= 0  # rows-only check (non-SQL-expressible op)
        return
    _assert_matches(ddb, name, got, sql)


def _assert_matches(ddb, name: str, got: pd.DataFrame, sql: str) -> None:
    exp = ddb.execute(sql).df()
    assert len(got) == len(exp), f"{name}: row count {len(got)} != {len(exp)}"
    assert sorted(got.columns) == sorted(exp.columns), name
    g, e = _canon(got), _canon(exp)
    pd.testing.assert_frame_equal(g, e, check_dtype=False, obj=name)


@pytest.mark.parametrize(
    "name", ["dsir_select", "gopher_filter", "dedup_ngram_jaccard"]
)
def test_large_regime_matches_duckdb_oracle(spark, ddb, monkeypatch, name):
    """The size gates' large side at sf0.001: with
    ``sizing.SMALL_INPUT_BYTES`` at 0 every gate takes its large side
    (sources spread, dsir grams counted by the Arrow builder), and the
    answer must still equal the oracle's."""
    from tesseract_ocr_service_spark.operators import sizing

    monkeypatch.setattr(sizing, "SMALL_INPUT_BYTES", 0)
    got = entrymod.queries()[name](spark, SF_DIR).toPandas()
    _assert_matches(ddb, name, got, entrymod.oracle_sql()[name])


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"doc_id", "canonical_text", "n_words", "status"} <= set(
        df.columns
    )

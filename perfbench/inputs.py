"""Seeded benchmark inputs, built on demand and cached per seed.

Every table is a pure function of ``(seed, size)``:

- ``pages``: the extraction corpus — the rows ``sources.gen`` defines
  (``gen.gen_batch``: ~89 % HTML, ~9 % ``%PDF``, ~2 % edge rows, 30
  ``warc_day`` partitions), written hive-partitioned by ``warc_day`` like
  ``gen.write_pages`` does. The generator's payload sizes are so heavy-
  tailed that a fixed doc count varies ~27 % in bytes between seeds
  (single docs reach 340 KB), so the corpus is cut by BYTES instead:
  doc ids are taken in order, payloads above ``PAGE_CAP`` are skipped,
  until the next doc would pass the byte budget. Every seed then carries
  the same payload bytes to within one doc, with the doc count varying
  ~3 %.
- ``documents`` / ``embeddings``: curation tables from ``sources.scale``
  (``gen_documents_pdf`` / ``gen_embeddings_pdf``) in the schema the
  ``__spark_entry__`` queries read, each ONE parquet file with one row
  group, like the sf test tables.
- ``events``: a click stream in the sf ``events`` schema (5 event types, 150 users,
  30 days from 2024-01-01) for the as-of and window queries.

The tables are written by pyarrow in the benchmark process, never by
Spark: a Spark-side generator would warm the measured JVM on cache
misses only, so set-up and first-pass times would depend on whether the
seed was cached.

Each table gets a content digest (sha256 over its rows in key order, so
independent of file layout) and its byte size on disk; the manifest
lands beside the tables and in every result artifact.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: sizes per scale: extraction corpus payload bytes (~2,050 docs at
#: full), curation docs, vectors, events. semantic_dedup's oracle SQL
#: builds its codebook from the first 16 ids with id % 7 == 0 and does
#: not model ivf_centroids' fallback for fewer, so both scales keep
#: >= 112 vectors.
SIZES = {
    "full": {"pages": 3_000_000, "documents": 1000, "embeddings": 400,
             "events": 10000},
    "tiny": {"pages": 300_000, "documents": 120, "embeddings": 120,
             "events": 600},
}
#: largest payload admitted to the pages corpus (bytes)
PAGE_CAP = 64 * 1024

_EMB_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)
_EVENT_TYPES = np.array(["view", "click", "purchase", "error", "signup"])


def digest(df: pd.DataFrame, key: str) -> str:
    """sha256 over the rows of ``df`` in ``key`` order: column names,
    then each row's values as repr() — stable across file layouts and
    row-group splits, sensitive to every byte of content."""
    h = hashlib.sha256(repr(list(df.columns)).encode())
    for row in df.sort_values(key, kind="stable").itertuples(index=False):
        h.update(repr(tuple(v.tolist() if hasattr(v, "tolist") else v
                            for v in row)).encode())
    return h.hexdigest()


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
    )


def _pages(seed: int, budget: int) -> pd.DataFrame:
    """gen rows in doc-id order, payloads <= PAGE_CAP, until the next
    row would pass ``budget`` payload bytes."""
    from tesseract_ocr_service_spark.sources import gen

    parts, total, start, chunk = [], 0, 0, 512
    while True:
        df = gen.gen_batch(list(range(start, start + chunk)), seed)
        size = df["html"].map(len)
        df, size = df[size <= PAGE_CAP], size[size <= PAGE_CAP]
        cum = total + size.cumsum()
        parts.append(df[cum <= budget])
        if (cum > budget).any():
            break
        total, start = total + int(size.sum()), start + chunk
    df = pd.concat(parts, ignore_index=True)
    df["warc_ts"] = pd.to_datetime(df["warc_ts"]).astype("datetime64[us]")
    return df


def _write_pages(df: pd.DataFrame, path: str) -> None:
    """One file per warc_day=YYYY-MM-DD directory (the layout
    ``gen.write_pages`` produces; Spark infers warc_day as a date)."""
    day = df["warc_ts"].dt.strftime("%Y-%m-%d")
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    for d, part in df.groupby(day, sort=True):
        part = part.sort_values("url")
        t = pa.Table.from_pandas(
            part.assign(warc_ts=part["warc_ts"].dt.tz_localize("UTC")),
            schema=schema,
            preserve_index=False,
        )
        os.makedirs(f"{path}/warc_day={d}", exist_ok=True)
        pq.write_table(t, f"{path}/warc_day={d}/part-0.parquet")


def _events(seed: int, n: int) -> pd.DataFrame:
    rs = np.random.RandomState(seed % (2**31))
    step_us = (30 * 86400 * 10**6) // n
    ts = (
        np.datetime64("2024-01-01T00:00:00", "us")
        + (np.arange(n) * step_us + rs.randint(0, step_us, n)).astype(
            "timedelta64[us]"
        )
    )
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": ts,
            "user_id": rs.randint(0, 150, n).astype("int64"),
            "event_type": _EVENT_TYPES[rs.randint(0, 5, n)],
            "value": np.round(rs.lognormal(3.5, 1.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rs.randint(0, 100, n)],
        }
    )


def build(work: str, seed: int, scale: str) -> dict:
    """Tables for ``(seed, scale)`` under ``work``/inputs -> manifest
    {"dir", "tables": {name: {path, rows, bytes, digest}}}. Reuses a
    complete earlier build (the manifest is written last)."""
    from tesseract_ocr_service_spark.sources import scale as S

    root = os.path.join(work, "inputs", f"{scale}_seed{seed}")
    mf = os.path.join(root, "manifest.json")
    if os.path.exists(mf):
        with open(mf) as f:
            return json.load(f)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    n = SIZES[scale]
    tables = {}

    pages = _pages(seed, n["pages"])
    _write_pages(pages, f"{root}/pages")
    tables["pages"] = ("pages", pages, "url")

    ids = pd.Series(range(n["documents"]))
    docs = S.gen_documents_pdf(ids, seed, n["documents"], 0.05, 50)
    pq.write_table(
        pa.Table.from_pandas(docs, preserve_index=False),
        f"{root}/documents.parquet",
    )
    tables["documents"] = ("documents.parquet", docs, "doc_id")

    emb = S.gen_embeddings_pdf(pd.Series(range(n["embeddings"])), seed, 0.05, 25)
    pq.write_table(
        pa.Table.from_pandas(emb, schema=_EMB_SCHEMA, preserve_index=False),
        f"{root}/embeddings.parquet",
    )
    tables["embeddings"] = ("embeddings.parquet", emb, "vec_id")

    ev = _events(seed, n["events"])
    pq.write_table(
        pa.Table.from_pandas(ev, preserve_index=False),
        f"{root}/events.parquet",
    )
    tables["events"] = ("events.parquet", ev, "event_id")

    manifest = {
        "dir": root,
        "tables": {
            name: {
                "path": f"{root}/{rel}",
                "rows": len(df),
                "bytes": _dir_bytes(f"{root}/{rel}"),
                "digest": digest(df, key),
            }
            for name, (rel, df, key) in tables.items()
        },
    }
    with open(mf + ".tmp", "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(mf + ".tmp", mf)
    return manifest

"""PDF-path driver bridge: run the REAL extraction kernel over
deterministic ``%PDF`` layout-stream payloads derived from the driver's
``documents`` table, so DuckDB can independently reproduce every
PDF-path semantic from the same table:

- rotation bookkeeping + axis swap   (osd_worker.py:86-122, D2/D3)
- deskew threshold + canvas expand   (skew_worker.py:74-96, F4/D4/D5)
- page confidence over conf >= 0     (ocr_processor.py:87-93, A2/F2)
- empty-word records counted in conf but absent from text (F1)
- multi-page sort + per-page assembly(ocr_processor.py:507,116-168, O1/A1)
- 5-level spans hierarchy + envelope bboxes (ocr/schemas.py:181-294, A6)
- per-row page-selection config      (ocr/main.py:104-131, S6/F5)

Deterministic recipe (all arithmetic is engine-portable integer/double
math — the DuckDB oracle recomputes it from ``documents`` directly):

For document ``d`` with raw whitespace tokens ``tok_1..tok_T`` (1-based
global index ``rn``, ``i = rn-1``):

- page count            P  = 1 + (d % 3)
- token page            pg = (i % P) + 1, page-local slot k = i // P
- hierarchy             block = k//8+1, par = (k%8)//4+1,
                        line = (k%4)//2+1, word = k%2+1
                        (blocks of 8 words: 2 paragraphs x 2 lines x 2)
- geometry              left = 10 + (k%7)*50, top = 20 + (k//7)*30,
                        width = 40 + (rn%13), height = 10 + (rn%5)
- confidence            conf = (rn*37) % 101 - 1   (range -1..99)
- one structural record per page: text='', conf=(d+pg)%50 — counted by
  the confidence mean, invisible to text/spans (the Tesseract
  separator-row analog).
- page pre-correction size   w0 = 600 + (d%5)*40, h0 = 800 + (pg%4)*25
- rotation              ((d+pg) % 4) * 90
- skew angle            ((d*3+pg) % 11 - 5) * 0.2   (applied iff > 0.3)

Rounding parity note: ``corrected_size`` uses Python ``int(round(x))``
(half-even); the oracle uses ``floor(x+0.5)`` (half-up). The parameter
grid repeats with period lcm(3,4,5,11)=660 doc_ids; an exhaustive scan
shows every corrected dimension lands >= 0.0055 from a .5 boundary, so
the two rules agree on all reachable values.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ExtractConfig
from ..functions import pdfstream
from ..schema import PAGES_SCHEMA
from . import extract as X

#: Java-regex \s parity ([ \t\n\x0B\f\r]); Python's \s would also match
#: unicode whitespace and diverge from Spark's split(text, '\\s+').
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def build_payload(doc_id: int, text: str | None) -> bytes:
    """One deterministic layout-stream payload (the recipe above)."""
    toks = [t for t in _WS.split(text or "") if t]
    n_pages = 1 + (doc_id % 3)
    pages = []
    for p in range(1, n_pages + 1):
        m = (doc_id * 3 + p) % 11 - 5
        pages.append(
            {
                "page_number": p,
                "width": 600 + (doc_id % 5) * 40,
                "height": 800 + (p % 4) * 25,
                "rotate": ((doc_id + p) % 4) * 90,
                "skew_angle": m * 0.2,
                "words": [
                    (1, 1, 1, 0, "", 0, 0, 0, 0, (doc_id + p) % 50)
                ],
            }
        )
    for i, tok in enumerate(toks):
        rn = i + 1
        k = i // n_pages
        pages[i % n_pages]["words"].append(
            (
                k // 8 + 1,
                (k % 8) // 4 + 1,
                (k % 4) // 2 + 1,
                k % 2 + 1,
                tok,
                10 + (k % 7) * 50,
                20 + (k // 7) * 30,
                40 + (rn % 13),
                10 + (rn % 5),
                (rn * 37) % 101 - 1,
            )
        )
    return pdfstream.encode(pages)


def _builder(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for b in batches:
        if not len(b):
            continue
        yield pd.DataFrame(
            {
                "url": b["doc_id"].astype(str),
                "warc_ts": pd.Timestamp("2026-01-01")
                + pd.to_timedelta(b["doc_id"], unit="s"),
                "html": [
                    build_payload(int(d), t)
                    for d, t in zip(b["doc_id"], b["text"])
                ],
                "text": None,
                "lang": "eng",
            }
        )


def pdf_pages_from_documents(docs: DataFrame) -> DataFrame:
    """documents -> pages-shaped kernel input carrying %PDF payloads
    (Arrow-batched fixture synthesis — a test bridge, not a claimed
    operator; the operator under test is the kernel downstream).

    The deterministic hash repartition mirrors bridge.pages_from_
    documents: the single-file documents table otherwise funnels the
    builder AND the downstream kernel into ONE task (the builder's
    mapInPandas and the kernel's mapInArrow chain inside the same
    stage), serializing the whole pdf path on one core — measured 6.5 s
    builder / 33 s spans pipeline at sf1.0 before, against ~0.6 s of
    actual parallel python work."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.select("doc_id", "text")
        .repartition(par, F.xxhash64("doc_id"))
        .mapInPandas(_builder, schema=PAGES_SCHEMA)
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def pdf_kernel_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page PDF-path output of the real kernel: rotation, deskew,
    corrected size, confidence mean, assembled page text.

    emit_spans=False: this query never projects the hierarchy, so the
    kernel skips building it (the kernel-side analog of column
    pruning; pdf_spans_flat covers the spans branch)."""
    wide = X.extract(
        pdf_pages_from_documents(_docs(spark, sf_dir)),
        ExtractConfig(emit_spans=False),
    )
    pg = wide.select(
        F.col("url").cast("bigint").alias("doc_id"),
        F.explode("pages").alias("pg"),
    )
    return pg.select(
        "doc_id",
        F.col("pg.page_number").alias("page_number"),
        F.col("pg.rotation_applied").alias("rotation_applied"),
        F.round("pg.deskew_angle", 4).alias("deskew_angle"),
        F.col("pg.width").alias("width"),
        F.col("pg.height").alias("height"),
        F.round("pg.confidence", 4).alias("confidence"),
        F.col("pg.text").alias("page_text"),
    )


def pdf_page_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row page-selection config through the kernel: doc_id % 4
    picks the rule — 0: pages=[1] AND page_start=2 (explicit list wins),
    1: page_start=2, 2: page_end=2, 3: job default (all)."""
    base = pdf_pages_from_documents(_docs(spark, sf_dir))
    r = F.col("url").cast("bigint") % 4
    with_cfg = (
        base.withColumn(
            "pages",
            F.when(r == 0, F.array(F.lit(1))).otherwise(
                F.lit(None).cast("array<int>")
            ),
        )
        .withColumn(
            "page_start",
            F.when(r <= 1, F.lit(2)).otherwise(F.lit(None).cast("int")),
        )
        .withColumn(
            "page_end",
            F.when(r == 2, F.lit(2)).otherwise(F.lit(None).cast("int")),
        )
    )
    wide = X.extract(with_cfg, ExtractConfig(emit_spans=False))
    out = wide.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "status",
        F.explode_outer("pages").alias("pg"),
    )
    return out.select(
        "doc_id",
        "status",
        F.col("pg.page_number").alias("page_number"),
        F.col("pg.text").alias("page_text"),
    )


def pdf_spans_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 5-level spans hierarchy flattened to one row per LINE —
    cross-engine check of hierarchy construction (A6) + envelope bboxes:
    (doc, page, block, par, line, line text, word count, line bbox)."""
    wide = X.extract(pdf_pages_from_documents(_docs(spark, sf_dir)))
    return (
        wide.select(
            F.col("url").cast("bigint").alias("doc_id"),
            F.explode("spans").alias("sp"),
        )
        .select(
            "doc_id",
            F.col("sp.page_number").alias("page_number"),
            F.explode("sp.blocks").alias("b"),
        )
        .select(
            "doc_id",
            "page_number",
            F.col("b.block_id").alias("block_id"),
            F.explode("b.paragraphs").alias("p"),
        )
        .select(
            "doc_id",
            "page_number",
            "block_id",
            F.col("p.par_id").alias("par_id"),
            F.explode("p.lines").alias("l"),
        )
        .select(
            "doc_id",
            "page_number",
            "block_id",
            "par_id",
            F.col("l.line_id").alias("line_id"),
            F.col("l.text").alias("line_text"),
            F.size("l.words").cast("bigint").alias("n_words"),
            F.col("l.bbox.left").alias("bb_left"),
            F.col("l.bbox.top").alias("bb_top"),
            F.col("l.bbox.right").alias("bb_right"),
            F.col("l.bbox.bottom").alias("bb_bottom"),
        )
    )


# ----------------------------------------------------------- oracle SQL

#: shared CTE chain reproducing the deterministic recipe in DuckDB.
_PDF_CTES = r"""
toks AS (
    SELECT doc_id, tok,
           row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS i
    FROM (
        SELECT doc_id,
               unnest(string_split_regex(coalesce(text, ''), '\s+')) AS tok,
               generate_subscripts(
                   string_split_regex(coalesce(text, ''), '\s+'), 1) AS pos
        FROM documents
    )
    WHERE tok <> ''
),
np AS (SELECT doc_id, 1 + (doc_id % 3) AS p FROM documents),
assigned AS (
    SELECT t.doc_id, t.tok, t.i + 1 AS rn,
           (t.i % np.p) + 1 AS page_number,
           t.i // np.p AS k
    FROM toks t JOIN np USING (doc_id)
),
lines AS (
    SELECT doc_id, page_number,
           k // 8 AS blk, (k % 8) // 4 AS par, (k % 4) // 2 AS ln,
           string_agg(tok, ' ' ORDER BY k) AS line_text,
           count(*) AS n_words,
           min(10 + (k % 7) * 50) AS bb_left,
           min(20 + (k // 7) * 30) AS bb_top,
           max(10 + (k % 7) * 50 + 40 + (rn % 13)) AS bb_right,
           max(20 + (k // 7) * 30 + 10 + (rn % 5)) AS bb_bottom
    FROM assigned GROUP BY 1, 2, 3, 4, 5
),
blocks AS (
    SELECT doc_id, page_number, blk,
           string_agg(line_text, chr(10) ORDER BY par, ln) AS block_text
    FROM lines GROUP BY 1, 2, 3
),
ptext AS (
    SELECT doc_id, page_number,
           string_agg(block_text, chr(10) || chr(10) ORDER BY blk)
               AS page_text
    FROM blocks GROUP BY 1, 2
),
all_pages AS (
    SELECT doc_id,
           unnest(generate_series(1, 1 + (doc_id % 3))) AS page_number
    FROM documents
),
confs AS (
    SELECT doc_id, page_number, (rn * 37) % 101 - 1 AS conf
    FROM assigned WHERE (rn * 37) % 101 - 1 >= 0
    UNION ALL
    SELECT doc_id, page_number, (doc_id + page_number) % 50 FROM all_pages
),
pconf AS (
    SELECT doc_id, page_number, round(avg(conf), 4) AS confidence
    FROM confs GROUP BY 1, 2
),
meta AS (
    SELECT doc_id, page_number,
           ((doc_id + page_number) % 4) * 90 AS rot,
           ((doc_id * 3 + page_number) % 11 - 5) * 0.2 AS angle,
           600 + (doc_id % 5) * 40 AS w0,
           800 + (page_number % 4) * 25 AS h0
    FROM all_pages
),
corrected AS (
    SELECT doc_id, page_number, rot, angle,
           CASE WHEN abs(angle) > 0.3
                THEN CAST(floor(w1 * cos(a) + h1 * sin(a) + 0.5) AS INT)
                ELSE CAST(w1 AS INT) END AS width,
           CASE WHEN abs(angle) > 0.3
                THEN CAST(floor(w1 * sin(a) + h1 * cos(a) + 0.5) AS INT)
                ELSE CAST(h1 AS INT) END AS height
    FROM (
        SELECT *,
               CASE WHEN rot IN (90, 270) THEN h0 ELSE w0 END AS w1,
               CASE WHEN rot IN (90, 270) THEN w0 ELSE h0 END AS h1,
               radians(abs(angle)) AS a
        FROM meta
    )
)
"""


def sql_pdf_kernel_pages() -> str:
    return f"""
        WITH {_PDF_CTES}
        SELECT c.doc_id,
               CAST(c.page_number AS INT) AS page_number,
               CAST(c.rot AS INT) AS rotation_applied,
               round(c.angle, 4) AS deskew_angle,
               c.width, c.height,
               coalesce(p.confidence, 0.0) AS confidence,
               coalesce(x.page_text, '') AS page_text
        FROM corrected c
        LEFT JOIN pconf p USING (doc_id, page_number)
        LEFT JOIN ptext x USING (doc_id, page_number)
    """


def sql_pdf_page_slice() -> str:
    return f"""
        WITH {_PDF_CTES},
        sel AS (
            SELECT doc_id, page_number FROM all_pages
            WHERE CASE doc_id % 4
                      WHEN 0 THEN page_number = 1
                      WHEN 1 THEN page_number >= 2
                      WHEN 2 THEN page_number <= 2
                      ELSE true END
        )
        SELECT d.doc_id,
               CASE WHEN s.page_number IS NULL THEN 'empty'
                    ELSE 'ok' END AS status,
               CAST(s.page_number AS INT) AS page_number,
               CASE WHEN s.page_number IS NULL THEN NULL
                    ELSE coalesce(x.page_text, '') END AS page_text
        FROM documents d
        LEFT JOIN sel s USING (doc_id)
        LEFT JOIN ptext x
               ON x.doc_id = d.doc_id AND x.page_number = s.page_number
    """


def sql_pdf_spans_flat() -> str:
    return f"""
        WITH {_PDF_CTES}
        SELECT doc_id,
               CAST(page_number AS INT) AS page_number,
               CAST(blk + 1 AS INT) AS block_id,
               CAST(par + 1 AS INT) AS par_id,
               CAST(ln + 1 AS INT) AS line_id,
               line_text,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(bb_left AS INT) AS bb_left,
               CAST(bb_top AS INT) AS bb_top,
               CAST(bb_right AS INT) AS bb_right,
               CAST(bb_bottom AS INT) AS bb_bottom
        FROM lines
    """

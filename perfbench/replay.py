"""In-process replay of the extraction kernel over the benchmark corpus.

The same rows the Spark job extracts are read here with pyarrow, cut
into ``arrow.maxRecordsPerBatch``-row batches and fed to
``functions.kernel.extract_batch`` in one Python thread — the kernel
outside the engine, so its time splits into its own layers without the
Arrow crossing, scheduling or parallelism around it.

With a tracer enabled the kernel's callees are wrapped, in this process
only, by spans: ``htmlx.extract_words_columnar``, ``pdfstream.decode``,
``pdfstream.page_word_records`` and the three ``assembly`` array passes.
Each output batch is then converted to Arrow against
``schema.EXTRACTED_SCHEMA`` (``arrow.emit``), the conversion the
engine's Python worker performs on the way back to the JVM.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib

import pyarrow as pa
import pyarrow.dataset as ds

WRAPPED = (
    ("htmlx", "extract_words_columnar"),
    ("pdfstream", "decode"),
    ("pdfstream", "page_word_records"),
    ("assembly", "assemble_pages_arrays"),
    ("assembly", "page_confidence_arrays"),
    ("assembly", "word_counts_arrays"),
)


def text_digest(pairs) -> str:
    """sha256 over sorted (url, canonical_text) pairs."""
    h = hashlib.sha256()
    for url, text in sorted(pairs):
        h.update(url.encode())
        h.update(b"\x00")
        h.update((text or "").encode())
        h.update(b"\x01")
    return h.hexdigest()


@contextlib.contextmanager
def _wrapped(tracer):
    """Swap each WRAPPED module attribute for a span-recording wrapper;
    the kernel looks them up through the module at call time."""
    from tesseract_ocr_service_spark.functions import assembly, htmlx, pdfstream

    mods = {"htmlx": htmlx, "pdfstream": pdfstream, "assembly": assembly}
    saved = []
    for mod_name, fn_name in WRAPPED:
        mod = mods[mod_name]
        orig = getattr(mod, fn_name)
        saved.append((mod, fn_name, orig))

        def wrapper(*a, __orig=orig, __name=f"{mod_name}.{fn_name}", **kw):
            with tracer.span(__name):
                return __orig(*a, **kw)

        setattr(mod, fn_name, functools.wraps(orig)(wrapper))
    try:
        yield
    finally:
        for mod, fn_name, orig in saved:
            setattr(mod, fn_name, orig)


def replay(pages_path: str, batch_rows: int, tracer) -> dict:
    """Extract every pages row in-process -> {"digest", "docs", "counts"}
    (counts only when tracing)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from tesseract_ocr_service_spark.config import ExtractConfig
    from tesseract_ocr_service_spark.functions import kernel
    from tesseract_ocr_service_spark.schema import EXTRACTED_SCHEMA

    cfg = ExtractConfig()
    table = ds.dataset(pages_path, format="parquet", partitioning="hive").to_table(
        columns=["url", "warc_ts", "html", "lang"]
    )
    out_schema = to_arrow_schema(EXTRACTED_SCHEMA)
    pairs = []
    counts = {"status": {}, "pages": 0, "words": 0, "emit_bytes": 0}
    guard = _wrapped(tracer) if tracer.enabled else contextlib.nullcontext()
    with guard, tracer.span("kernel.replay"):
        for rb in table.to_batches(max_chunksize=batch_rows):
            batch = rb.to_pandas()
            with tracer.span("kernel.extract_batch"):
                out = kernel.extract_batch(batch, cfg)
            pairs.extend(zip(out["url"], out["canonical_text"]))
            if not tracer.enabled:
                continue
            with tracer.span("arrow.emit"):
                emitted = pa.RecordBatch.from_pandas(
                    out, schema=out_schema, preserve_index=False
                )
            counts["emit_bytes"] += emitted.nbytes
            for s, c in out["status"].value_counts().items():
                counts["status"][s] = counts["status"].get(s, 0) + int(c)
            counts["pages"] += int(out["total_pages"].sum())
            counts["words"] += int(out["n_words"].sum())
    return {"digest": text_digest(pairs), "docs": len(pairs), "counts": counts}

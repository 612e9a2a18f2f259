#!/usr/bin/env python
"""Cluster job entrypoint: the COMPOSED training-corpus build.

Chains the full web-text curation pipeline over a canonical documents
table (the output of ``jobs/extract.py``) into one spark-submit run:

    quality filter (C4/Gopher rules)
      -> exact + minhash-LSH near dedup        (dedup.dedup_corpus)
      -> bigram-LM perplexity cut              (dsir.perplexity_filter)
      -> optional DSIR selection toward a
         target language's distribution        (dsir.dsir_importance)
      -> optional temperature rebalance        (alpha = 0.5)
      -> sequence packing                      (relational-style
                                                next-fit per shard)
      -> sharded parquet write + manifest

    spark-submit --master <cluster> --py-files dist/engine.zip \\
        jobs/build_corpus.py --docs s3://.../documents \\
        --out s3://.../corpus --target-lang en --seq-len 512 --shards 64

Every stage boundary is lineage-truncated (reliable ``.checkpoint()``
when a checkpoint dir is configured, else localCheckpoint — same rule
as dedup.connected_components), so the per-stage funnel counts each
run ONCE and later stages never re-execute earlier ones. The output
write is mode=overwrite and every stage is deterministic (md5-bucket
membership, min-id dedup keepers, integer-score thresholds), so a
retry reproduces byte-identical output — idempotent by construction.

The manifest (``<out>/_manifest``, parquet) records per-shard doc /
token / pack counts; the funnel JSON (stage-by-stage survivor counts)
prints as the job's last stdout line — the lineage/counters
discipline of plans/commit applied to the curation pipeline.

Local smoke:

    python jobs/build_corpus.py --docs /root/testdata/sf0.001 \\
        --out /tmp/corpus --master "local[8]"
"""

from __future__ import annotations

import argparse
import json
import sys

# plain `python jobs/<name>.py` local smoke: the script dir (jobs/) is
# on sys.path but the repo root is not; under spark-submit --py-files
# the zip already provides the package and this is a no-op
import os as _os

_REPO = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument(
        "--docs",
        required=True,
        help="documents parquet (a directory containing "
        "documents.parquet, or the parquet path itself)",
    )
    p.add_argument("--out", required=True, help="corpus output root")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--lang-col", default="lang")
    p.add_argument(
        "--target-lang",
        default=None,
        help="enable DSIR selection toward this language's distribution",
    )
    p.add_argument(
        "--dsir-keep", type=float, default=0.5, help="DSIR keep fraction"
    )
    p.add_argument(
        "--ppl-keep",
        type=float,
        default=0.5,
        help="perplexity-filter keep fraction",
    )
    p.add_argument(
        "--no-quality", action="store_true", help="skip the C4/Gopher gate"
    )
    p.add_argument(
        "--quality-gate",
        choices=("c4", "gopher"),
        default="c4",
        help="quality rule set: c4 (textstats.quality_keep, the"
        " compact default) or gopher (textstats.gopher_keep, the"
        " complete Rae et al. 2021 rule set)",
    )
    p.add_argument(
        "--no-dedup", action="store_true", help="skip exact+near dedup"
    )
    p.add_argument(
        "--retention",
        choices=("min_id", "longest"),
        default="min_id",
        help="near-dup survivor rule: min_id (dedup_corpus's anti-join"
        " keeper) or longest (FineWeb-style keep-best-member via"
        " dedup.keep_best_per_component)",
    )
    p.add_argument(
        "--no-perplexity", action="store_true", help="skip the LM cut"
    )
    p.add_argument(
        "--temperature-sample",
        action="store_true",
        help="alpha=0.5 language rebalance before packing",
    )
    p.add_argument("--seq-len", type=int, default=512)
    p.add_argument("--shards", type=int, default=8)
    p.add_argument("--master", default=None, help="override (local runs)")
    return p.parse_args(argv)


def build(spark, args) -> dict:
    """Run the pipeline; returns the funnel dict (stage -> rows)."""
    import os

    from pyspark.sql import functions as F

    from tesseract_ocr_service_spark.functions import textstats as T
    from tesseract_ocr_service_spark.operators import dedup as D
    from tesseract_ocr_service_spark.operators import dsir as DS
    from tesseract_ocr_service_spark.operators.sizing import truncate_lineage

    path = args.docs
    if os.path.isdir(path) and os.path.exists(
        os.path.join(path, "documents.parquet")
    ):
        path = os.path.join(path, "documents.parquet")
    docs = spark.read.parquet(path)
    id_c, text_c = args.id_col, args.text_col
    funnel = {"input": docs.count()}

    if not args.no_quality:
        gate = (
            T.gopher_keep
            if args.quality_gate == "gopher"
            else T.quality_keep
        )
        docs = truncate_lineage(
            docs.where(gate(F.col(text_c)).cast("boolean"))
        )
        funnel["quality_kept"] = docs.count()

    if not args.no_dedup:
        if args.retention == "longest":
            # exact dups are textually identical (any keeper is fine);
            # near-dup clusters keep their LONGEST member instead of
            # the min id — the quality-aware retention rule.
            ex = truncate_lineage(D.dedup_exact(docs, id_c, text_c))
            kept = D.keep_best_per_component(ex, id_c, text_c)
            docs = truncate_lineage(
                docs.join(
                    kept.select(F.col("doc_id").alias(id_c)), id_c
                )
            )
        else:
            docs = truncate_lineage(D.dedup_corpus(docs, id_c, text_c))
        funnel["dedup_kept"] = docs.count()

    if not args.no_perplexity:
        verdict = DS.perplexity_filter(
            docs, id_c, text_c, keep_frac=args.ppl_keep
        ).where("keep = 1").select(id_c)
        docs = truncate_lineage(docs.join(verdict, id_c))
        funnel["perplexity_kept"] = docs.count()

    if args.target_lang is not None:
        verdict = DS.dsir_importance(
            docs,
            target=F.col(args.lang_col) == args.target_lang,
            id_col=id_c,
            text_col=text_c,
            keep_frac=args.dsir_keep,
        ).where("keep = 1").select(id_c)
        docs = truncate_lineage(docs.join(verdict, id_c))
        funnel["dsir_kept"] = docs.count()

    if args.temperature_sample:
        counts = docs.groupBy(args.lang_col).agg(F.count("*").alias("_n"))
        n_min = counts.agg(F.min("_n").alias("_n_min"))
        bucket = (
            F.conv(
                F.substring(F.md5(F.col(id_c).cast("string")), 1, 4), 16, 10
            ).cast("int")
            % 65536
        )
        thresh = F.floor(
            F.lit(65536.0)
            * F.sqrt(
                F.col("_n_min").cast("double") / F.col("_n").cast("double")
            )
        )
        docs = truncate_lineage(
            docs.join(F.broadcast(counts), args.lang_col)
            .crossJoin(F.broadcast(n_min))
            .where(bucket < thresh)
            .drop("_n", "_n_min")
        )
        funnel["sampled"] = docs.count()

    # the funnel's last recorded count IS the current row count (each
    # stage counts right after producing docs) — no extra action needed
    if list(funnel.values())[-1] == 0:
        # an all-dropped funnel is a config error (wrong gate for the
        # corpus, over-aggressive keep fractions) — fail loudly with
        # the funnel instead of writing an unreadable empty dataset
        raise ValueError(
            f"no documents survived the curation funnel: {funnel}"
        )

    # pack: next-fit token bins per md5 shard (same rule as
    # relational.pack_sequences, applied to the SURVIVING docs)
    from pyspark.sql import Window

    n_tok = T.token_count(F.coalesce(F.col(text_c), F.lit(""))).cast(
        "bigint"
    )
    shard = F.pmod(
        F.conv(
            F.substring(F.md5(F.col(id_c).cast("string")), 1, 4), 16, 10
        ).cast("int"),
        F.lit(args.shards),
    ).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_c)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = (
        docs.withColumn("n_tok", n_tok)
        .withColumn("shard", shard)
        .withColumn("_cum", F.sum("n_tok").over(w))
        .withColumn(
            "pack_id",
            F.floor((F.col("_cum") - F.col("n_tok")) / args.seq_len).cast(
                "int"
            ),
        )
        .drop("_cum")
    )
    # shard is both the file layout AND the packing key: one write,
    # readers prune by shard directory
    packed.write.mode("overwrite").partitionBy("shard").parquet(
        f"{args.out}/data"
    )
    out = spark.read.parquet(f"{args.out}/data")
    funnel["packed_docs"] = out.count()

    manifest = out.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.countDistinct("pack_id").alias("n_packs"),
        # order-insensitive digest that never buffers the shard's ids:
        # XOR of per-id hashes (map-side combinable, can't overflow
        # under ANSI mode the way a wrapping sum would)
        F.expr(f"bit_xor(xxhash64(cast({id_c} as string)))").alias(
            "id_digest"
        ),
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(
        f"{args.out}/_manifest"
    )
    return funnel


def main(argv=None) -> int:
    args = parse_args(argv)
    from pyspark.sql import SparkSession

    from tesseract_ocr_service_spark.operators.extract import session_builder

    owns_session = SparkSession.getActiveSession() is None
    spark = session_builder(
        app="build-corpus", master=args.master
    ).getOrCreate()
    funnel = build(spark, args)
    print(json.dumps({"funnel": funnel, "out": args.out}))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

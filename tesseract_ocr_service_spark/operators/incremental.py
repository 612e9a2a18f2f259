"""Incremental dedup against a persisted signature store.

The operator a real 100-TB pipeline runs daily: dedup the NEW ingest
partition (day N+1) against the historical corpus WITHOUT re-reading or
re-shingling history. History is represented by a committed signature
store — (id, fingerprint, sig) per historical *exact-survivor* — so the
daily job's expensive stage (tokenize + shingle + K minhash aggregates)
runs over the new day's text only; probing history costs 4 md5 calls
per stored row (band keys recomputed from the stored signature,
:func:`dedup.sig_band_rows`).

Semantics: with monotone ids across increments (new ids > all stored
ids — e.g. ids prefixed by ingest day), the kept set of

    kept_1 = dedup_incremental(day1, store=None)
    kept_2 = dedup_incremental(day2, store_after_day1)
    ...

equals ``dedup_corpus(day1 UNION day2 ...)`` exactly (tested equal,
and the driver oracle reuses the full-corpus SQL):

- exact phase: a new doc whose normalized-md5 fingerprint matches any
  STORED fingerprint (or a smaller-id new doc) is dropped — same as
  "min id per fingerprint group" when stored ids are smaller.
- near phase: pairs are (stored exact-survivor) x (new exact-survivor)
  via shared LSH band buckets plus new x new pairs, verified by the
  same signature-agreement expression; the NEW side of every verified
  cross pair is dropped — same as "drop the larger id" under monotone
  ids. The store must hold ALL historical exact-survivors (near-dup
  losers included): in the one-shot pipeline a new doc is dropped by a
  pair with any exact-survivor, kept or not (dedup.dedup_corpus
  enumerates pairs among exact-survivors).

Scale shape: the store is never re-shingled, only scanned once for its
fingerprint column (exact anti-join) and once for band rows; with a
day increment << history, both probes broadcast the NEW side, so the
historical store is never shuffled. The signature increment returned
for appending is exactly the new exact-survivors' rows, keeping the
store linear in corpus size.

No reference analog (the service is stateless per request,
ocr/main.py:151-175) — this extends the training-data suite the same
way plans/commit.py extends its retry model to partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import textstats as T
from . import dedup as D
from . import sizing

#: store columns (parquet, appended per increment)
STORE_COLUMNS = ("id", "fingerprint", "sig")


def signature_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    n: int = 3,
) -> DataFrame:
    """(id, fingerprint, sig) per document — the store row shape.
    fingerprint is the exact-dedup normalized md5; sig the K-component
    md5 minhash (both identical to the one-shot pipeline's). The
    fingerprint rides the signature pass as a carry column (r6): it is
    evaluated in the same projection as the Arrow signature stage and
    passed through — no second consumer of ``df`` and no (id ⋈ id)
    join."""
    return D.minhash_signatures_agg(
        df,
        id_col,
        text_col,
        k,
        n,
        carry={"fingerprint": T.fingerprint_md5(F.col(text_col))},
    )


def dedup_incremental(
    new_docs: DataFrame,
    store_sigs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.7,
    max_bucket: int | None = 5000,
    broadcast_new: bool = True,
    persist: bool | str = True,
    check_monotone: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Dedup ``new_docs`` against the historical ``store_sigs``
    ((id, fingerprint, sig); None/empty = first increment, equivalent
    to :func:`dedup.dedup_corpus`). Returns

        (kept, sig_increment)

    where ``kept`` is the surviving rows of ``new_docs`` and
    ``sig_increment`` the signature rows of the new EXACT-survivors —
    append these to the store before the next increment
    (:func:`append_signatures`).

    ``persist`` controls how the exact-survivor signature frame (the
    plan every downstream stage consumes) is kept: True = cached
    (MEMORY_AND_DISK; unpersist the returned sig_increment when done),
    'checkpoint' = eager lineage truncation (no cache bookkeeping —
    the one-shot/bench shape), False = fully lazy (tiny corpora only:
    every consumer re-runs the signature pipeline).

    ``broadcast_new`` hints the day-increment side of the two store
    probes as broadcast (True is the daily-job shape: increment <<
    history, so history is never shuffled); set False when the
    increment rivals the store and a shuffled join wins.

    PRECONDITION: ids in ``new_docs`` must sort AFTER every stored id
    (monotone ingest keys). The cross-pair drop rule always drops the
    new side; with non-monotone ids that diverges from the one-shot
    pipeline (which drops the larger id). ``check_monotone`` ENFORCES
    this (default): a violated precondition raises instead of silently
    diverging. The guard is ONE store-side aggregate (max stored id —
    parquet column stats make it metadata-cheap) plus a LAZY per-row
    assertion riding the increment's id column: any new id that does
    not sort after the stored max raises at execution time, before any
    output materializes. Deliberately NOT an eager ``min(new id)``
    action — ``new_docs`` is typically the day's full extraction
    pipeline, and an extra eager consumer would replay that whole
    pipeline once per increment (no ReusedExchange under AQE).
    ``check_monotone=False`` skips the guard when the caller guarantees
    monotone keys structurally (e.g. day-prefixed ids minted by the
    ingest job itself).

    ``max_bucket`` caps BOTH near-phase candidate paths (intra-new via
    minhash_dedup_pairs, store-x-new via a hot-key drop); in over-cap
    regimes incremental and one-shot keep/drop can diverge (different
    bucket populations) — both document the same remedy: exact-dedup
    degenerate corpora first, which this function's exact phase does.
    """
    from pyspark.storagelevel import StorageLevel

    if check_monotone and store_sigs is not None:
        # store side only: parquet column stats answer max(id) from
        # metadata. The increment side is asserted LAZILY per row so
        # new_docs gains no extra eager consumer (see docstring).
        hi = store_sigs.agg(F.max("id")).first()[0]
        if hi is not None:
            msg = F.format_string(
                "non-monotone increment ids: new id %s does not sort "
                "after max stored id %s. The cross-pair rule drops the "
                "NEW side, which only matches the one-shot pipeline "
                "(drop the larger id) under monotone ingest keys — "
                "mint ids that sort after history (e.g. day-prefixed),"
                " or pass check_monotone=False only if divergence is "
                "acceptable.",
                F.col(id_col).cast("string"),
                F.lit(str(hi)),
            )
            new_docs = new_docs.withColumn(
                id_col,
                F.when(
                    F.col(id_col) <= F.lit(hi), F.raise_error(msg)
                ).otherwise(F.col(id_col)),
            )

    sigtab = signature_table(new_docs, id_col, text_col, k, n)

    # ---- exact phase -------------------------------------------------
    # intra-increment: keep min id per fingerprint; cross: drop any
    # fingerprint already stored (its keeper has a smaller, stored id).
    rn = F.row_number().over(
        Window.partitionBy("fingerprint").orderBy("id")
    )
    ex = sigtab.withColumn("_rn", rn).where(F.col("_rn") == 1).drop("_rn")
    if store_sigs is not None:
        ex = ex.join(
            store_sigs.select("fingerprint"),
            "fingerprint",
            "left_anti",
        )
    # the exact-survivor signatures feed the banding, the verify join
    # AND the returned increment — persist once (no ReusedExchange
    # under AQE; same discipline as dedup_corpus). Project to
    # STORE_COLUMNS BEFORE persisting so the returned sig_increment IS
    # the cached plan: CacheManager only uncaches exact sameResult
    # plans, so unpersisting a projection OVER the cache would be a
    # silent no-op and the MEMORY_AND_DISK blocks would outlive the
    # daily job. The cache lives until the caller is done with BOTH
    # returned frames — unpersist the returned sig_increment after
    # appending it to the store. persist=False skips the cache for
    # tiny/oracle corpora where recomputation is cheaper than
    # cache-block bookkeeping.
    ex = ex.select(*STORE_COLUMNS)
    if persist == "checkpoint":
        # eager lineage truncation instead of a cache: the survivor
        # signatures are materialized ONCE at construction and every
        # consumer (banding, both verify sides, the kept semi-join, the
        # next increment's store probes, the monotone-guard max) reads
        # the checkpoint — no unpersist bookkeeping, nothing leaks
        # across repeated daily runs. persist=False re-evaluated the
        # whole shingle+minhash pipeline per consumer (~6x at sf1.0:
        # measured 10.9 s -> 8.1 s for the driver's two-increment
        # query).
        ex = sizing.truncate_lineage(ex)
    elif persist:
        ex = ex.persist(StorageLevel.MEMORY_AND_DISK)

    # ---- near phase: new x new ---------------------------------------
    intra_losers = (
        D.minhash_dedup_pairs(
            new_docs, id_col, text_col, k, bands, n, threshold,
            sigs=ex.select("id", "sig"), max_bucket=max_bucket,
        )
        .select(F.col("id_b").alias("_loser"))
    )

    # ---- near phase: store x new -------------------------------------
    if store_sigs is not None:
        bn = D.sig_band_rows(ex.select("id", "sig"), k, bands, carry=("sig",))
        bo = D.sig_band_rows(store_sigs.select("id", "sig"), k, bands, carry=("sig",))
        if max_bucket is not None:
            # degenerate-bucket guard for the CROSS probe, same rule as
            # cap_buckets (drop every candidate of an over-cap bucket),
            # but shaped so history still never shuffles as ROWS: one
            # count aggregate over both sides' band keys (map-side
            # combine reduces the shuffle to distinct keys + partial
            # counts), then a broadcast anti-join of the rare hot keys.
            # Without this, m_store x m_new rows per hot key — each
            # carrying two K-element sig arrays — revive the quadratic
            # cap_buckets exists to prevent.
            hot = (
                bo.select("band", "band_key")
                .unionByName(bn.select("band", "band_key"))
                .groupBy("band", "band_key")
                .agg(F.count("*").alias("_m"))
                .where(F.col("_m") > max_bucket)
                .select("band", "band_key")
            )
            bo = bo.join(F.broadcast(hot), ["band", "band_key"], "left_anti")
            bn = bn.join(F.broadcast(hot), ["band", "band_key"], "left_anti")
        if broadcast_new:
            bn = F.broadcast(bn)
        cross = (
            bo.alias("o")
            .join(
                bn.alias("nw"),
                (F.col("o.band") == F.col("nw.band"))
                & (F.col("o.band_key") == F.col("nw.band_key")),
            )
            .select(
                F.col("nw.id").alias("id_b"),
                F.col("o.sig").alias("sig_a"),
                F.col("nw.sig").alias("sig_b"),
                F.col("o.id").alias("id_a"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        cross_losers = (
            cross.where(
                D.minhash_est_jaccard(F.col("sig_a"), F.col("sig_b"), k)
                >= threshold
            )
            .select(F.col("id_b").alias("_loser"))
        )
        losers = intra_losers.unionByName(cross_losers)
    else:
        losers = intra_losers
    losers = losers.distinct()
    # deliberately LAZY (r6, measured): the loser set is consumed
    # exactly once by the anti-join below, so an eager
    # truncate+count+broadcast only serializes the pipeline into two
    # actions and loses stage overlap (+0.5 s on the two-increment
    # driver query); the anti-join's shuffle of the increment side is
    # the cheaper evil at every measured size

    kept = new_docs.join(
        ex.select(F.col("id").alias("_keep")),
        new_docs[id_col] == F.col("_keep"),
        "left_semi",
    ).join(
        losers, new_docs[id_col] == losers["_loser"], "left_anti"
    )
    return kept, ex


def append_signatures(sig_increment: DataFrame, store_path: str) -> None:
    """Append an increment's exact-survivor signatures to the parquet
    store. Appends are partition-file-granular (new files only); pair
    with plans/commit-style markers when the caller needs atomic
    day-level commit.

    CAUTION (lazy-read-after-write): writing to ``store_path``
    invalidates any cached plan that READS that path — a caller that
    re-evaluates ``sig_increment`` (or ``kept``) AFTER this append
    sees the store including its own fresh rows and anti-joins itself
    empty. Take counts/actions you need BEFORE appending
    (jobs/dedup_daily.py shows the order)."""
    sig_increment.select(*STORE_COLUMNS).write.mode("append").parquet(
        store_path
    )


def read_signature_store(spark: SparkSession, store_path: str) -> DataFrame:
    return spark.read.parquet(store_path).select(*STORE_COLUMNS)

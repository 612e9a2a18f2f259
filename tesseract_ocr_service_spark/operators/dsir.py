"""DSIR-style data selection: hashed n-gram importance resampling.

Implements the scoring/selection core of DSIR (Xie et al. 2023, "Data
Selection for Language Models via Importance Resampling",
arXiv:2302.03169): represent every document as a bag of HASHED
(uni+bi)gram features, fit two multinomial bucket distributions — one
over a TARGET subset (the high-quality corpus you want more of), one
over the RAW corpus — and score each document by the log-likelihood
ratio of its features under target vs raw. Keeping the top ``keep_frac``
by score is the deterministic selection step (the paper Gumbel-samples
with the same weights; a fixed quantile threshold is the reproducible,
engine-stable form of the same ranking).

This op also demonstrates the general "apply a hashed linear model at
corpus scale" shape (:func:`hashed_linear_score`): a fastText/CCNet-
style quality classifier apply is the identical plan with the weight
vector supplied instead of learned — hashed features, a broadcast
weight join, one per-doc sum.

Scale shape (the part that must survive 100 TB):

- Feature extraction is ONE codegen'd pass: normalized tokens are
  posexploded, the bigram partner arrives via a window ``lead`` over
  the per-doc partition (no interpreted higher-order array
  functions), and each position emits its unigram plus optional bigram
  through a 2-element array explode.
- Bucket hashing bounds the model: the distributions have exactly
  ``n_buckets`` rows however large the corpus vocabulary is, so the
  "model" is a broadcast-sized table end to end.
- The per-doc-per-bucket count table is persisted (MEMORY_AND_DISK):
  it feeds BOTH the bucket-distribution aggregate and the scoring
  join, and Catalyst will not reuse the exchange across two consumers
  (CLAUDE.md rule) — without the persist the tokenize pass runs twice.
  On a real cluster this table is what you'd checkpoint/commit to
  storage: DSIR's raw-corpus statistics pass is run once and amortized
  across every downstream selection.
- All per-bucket log-ratios are fixed to MICRO-INTEGER weights
  (round(1e6 * logratio) as bigint), so document scores are exact
  integer sums — identical on any engine, no float-summation-order
  drift; only the B-row weight table ever touches floating point.
- The keep threshold is an exact ``percentile`` aggregate collected as
  ONE driver scalar (bounded action, same precedent as
  ``tfidf_top_terms``'s count) — never a global rank window over the
  corpus. ``keep_frac`` should be a small-denominator fraction (the
  default 0.5 pins the interpolation fraction to {0, .5}, so the
  threshold sits exactly on or exactly between integer scores and the
  >= comparison cannot flip between engines). At 10^12 rows swap the
  exact percentile for ``approx_percentile`` (documented error bound,
  same trade as ``value_percentiles_approx``).

Reference parity note: the reference service has no data-selection
surface — this operator belongs to the training-data suite built on
top of the extraction contract (SURVEY.md SS2 training-data ops), like
dedup_corpus and lang_temperature_sample.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import textstats as T
from . import sizing


def _bucket(gram: Column, n_buckets: int, hash_mode: str) -> Column:
    """Hash a gram string to [0, n_buckets) — 'xxhash64' is the
    production path (8-byte JVM hash, no hex detour); 'md5' is the
    oracle-replayable path (DuckDB: ('0x' || substr(md5(g),1,8))::BIGINT
    % B — first 8 hex chars fit 32 bits, always non-negative, so plain
    % agrees with pmod)."""
    if hash_mode == "xxhash64":
        return F.pmod(F.xxhash64(gram), F.lit(n_buckets)).cast("bigint")
    if hash_mode == "md5":
        return (
            F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("bigint")
            % n_buckets
        )
    raise ValueError(f"unknown hash_mode {hash_mode!r}")


def hashed_gram_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    hash_mode: str = "xxhash64",
    carry: list[str] | None = None,
) -> DataFrame:
    """Bag-of-hashed-grams per document: (id, [carry...], bucket, cnt)
    where grams are every unigram AND every adjacent bigram of the
    normalized token stream (multiplicity kept — this is the
    multinomial feature bag, not a shingle set). Documents with no
    tokens (empty/NULL text) contribute no rows; selection ops
    re-attach them with score 0 via a left join.

    One scan: posexplode + window lead (codegen'd), each position
    emitting [unigram, bigram?] through a tiny array explode. The
    groupBy reuses the window's per-id hash partitioning (id is a
    prefix of the grouping key), so tokenize -> counts is a single
    shuffle.

    r6 fast path (md5 mode, source >= ``sizing.SMALL_INPUT_BYTES``):
    the gram build, bucket hash and per-doc count all fold into ONE
    Arrow stage — tokenization stays a JVM expression; each task
    hashes every distinct gram it sees once (size-capped memo;
    hashlib.md5 hex == Spark md5 over the same UTF-8 bytes, and the
    first-8-hex-chars conv/% arithmetic is replicated exactly) and
    emits the finished (id, bucket, cnt) rows. Removes the token-stream
    window exchange+sort, the per-INSTANCE md5 calls and the count
    shuffle.
    xxhash64 mode has no Python twin, so the production path keeps the
    pure-plan shape."""
    carry = carry or []
    norm = T.normalized(F.coalesce(F.col(text_col), F.lit("")))
    toks = T.tokens(norm)
    if (
        hash_mode == "md5"
        and sizing.input_bytes(df) >= sizing.SMALL_INPUT_BYTES
    ):
        id_ddl = df.schema[id_col].dataType.simpleString()
        carry_ddl = "".join(
            f", {c} {df.schema[c].dataType.simpleString()}"
            for c in carry
        )
        base = df.select(
            F.col(id_col).alias("id"),
            *[F.col(c) for c in carry],
            toks.alias("_tk"),
        )
        nb = n_buckets

        def _counts(batches):
            import hashlib

            memo: dict = {}

            def _b(g: str) -> int:
                v = memo.get(g)
                if v is None:
                    v = (
                        int(
                            hashlib.md5(
                                g.encode("utf-8")
                            ).hexdigest()[:8],
                            16,
                        )
                        % nb
                    )
                    if len(memo) >= 200_000:
                        memo.clear()
                    memo[g] = v
                return v

            for batch in batches:
                out = {
                    "id": [],
                    **{c: [] for c in carry},
                    "bucket": [],
                    "cnt": [],
                }
                for row in zip(
                    batch["id"], *[batch[c] for c in carry], batch["_tk"]
                ):
                    i, cvals, tk = row[0], row[1:-1], list(row[-1])
                    if not tk:
                        continue
                    cnts: dict = {}
                    prev = tk[0]
                    b = _b(prev)
                    cnts[b] = cnts.get(b, 0) + 1
                    for t in tk[1:]:
                        b = _b(t)
                        cnts[b] = cnts.get(b, 0) + 1
                        b = _b(prev + " " + t)
                        cnts[b] = cnts.get(b, 0) + 1
                        prev = t
                    m = len(cnts)
                    out["id"].extend([i] * m)
                    for c, v in zip(carry, cvals):
                        out[c].extend([v] * m)
                    out["bucket"].extend(cnts.keys())
                    out["cnt"].extend(cnts.values())
                import pandas as pd

                yield pd.DataFrame(out)

        return sizing.one_wave(base).mapInPandas(
            _counts,
            schema=(
                f"id {id_ddl}{carry_ddl}, bucket bigint, cnt bigint"
            ),
        )
    pos_toks = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in carry],
        F.posexplode(toks).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    with_next = pos_toks.select(
        "id", *carry, "tok", F.lead("tok", 1).over(w).alias("_t1")
    )
    gram = F.explode(
        F.when(
            F.col("_t1").isNotNull(),
            F.array(F.col("tok"), F.concat_ws(" ", "tok", "_t1")),
        ).otherwise(F.array(F.col("tok")))
    ).alias("gram")
    grams = with_next.select("id", *carry, gram)
    return grams.groupBy(
        "id", *carry, _bucket(F.col("gram"), n_buckets, hash_mode).alias("bucket")
    ).agg(F.count("*").alias("cnt"))


def dsir_importance(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    keep_frac: float = 0.5,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Score every document by the DSIR importance log-ratio and mark
    the top ``keep_frac`` -> (id, is_target, score_micro, keep).

    ``target`` is a boolean Column over ``df``'s rows selecting the
    target distribution's documents (e.g. ``F.col('lang') == 'en'`` or
    a quality-classifier verdict). Laplace(+1) smoothing on both
    distributions so unseen buckets stay finite; weights are
    micro-integers (see module docstring) so scores are exact bigint
    sums on every engine.
    """
    from pyspark import StorageLevel

    B = n_buckets
    # attach the target flag before tokenizing so it rides the one scan
    flagged = df.withColumn("is_target", target.cast("int"))
    tfb = hashed_gram_counts(
        flagged, id_col, text_col, n_buckets, hash_mode, carry=["is_target"]
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # bucket distributions: B rows, truncated so the totals probe and
    # the weight projection don't re-aggregate
    bt = sizing.truncate_lineage(
        tfb.groupBy("bucket").agg(
            F.sum("cnt").alias("raw_cnt"),
            F.sum(F.col("cnt") * F.col("is_target")).alias("tgt_cnt"),
        )
    )
    tot = bt.agg(
        F.sum("raw_cnt").alias("r"), F.sum("tgt_cnt").alias("t")
    ).first()
    r_tot, t_tot = int(tot["r"] or 0), int(tot["t"] or 0)
    w_micro = F.round(
        F.lit(1e6)
        * (
            F.log((F.col("tgt_cnt") + F.lit(1.0)) / F.lit(float(t_tot + B)))
            - F.log((F.col("raw_cnt") + F.lit(1.0)) / F.lit(float(r_tot + B)))
        )
    ).cast("bigint")
    ratio = bt.select("bucket", w_micro.alias("w_micro"))

    scored = tfb.join(F.broadcast(ratio), "bucket").groupBy("id").agg(
        F.sum(F.col("cnt") * F.col("w_micro")).alias("score_micro")
    )
    flags = flagged.select(F.col(id_col).alias("id"), "is_target")
    scores = sizing.truncate_lineage(
        flags.join(scored, "id", "left").select(
            "id",
            "is_target",
            F.coalesce(F.col("score_micro"), F.lit(0)).alias("score_micro"),
        )
    )
    tfb.unpersist()
    thr = scores.agg(
        F.expr(f"percentile(score_micro, {1.0 - keep_frac})").alias("t")
    ).first()["t"]
    # percentile is NULL only for an EMPTY corpus (score_micro is
    # coalesced); any threshold selects nothing from nothing — return
    # the empty frame with the right schema instead of float(None).
    return scores.select(
        F.col("id").alias(id_col),
        "is_target",
        "score_micro",
        (F.col("score_micro") >= F.lit(float(thr or 0.0)))
        .cast("int").alias("keep"),
    )


def hashed_bigram_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Adjacent-token bigram rows, both sides hashed: (id, b1, b2) —
    one row per bigram occurrence (multiplicity kept). Docs with < 2
    tokens contribute no rows. Same explode + window-lead single-pass
    shape as :func:`hashed_gram_counts`."""
    norm = T.normalized(F.coalesce(F.col(text_col), F.lit("")))
    toks = T.tokens(norm)
    pos_toks = df.select(
        F.col(id_col).alias("id"), F.posexplode(toks).alias("pos", "tok")
    )
    w = Window.partitionBy("id").orderBy("pos")
    return (
        pos_toks.select(
            "id", "tok", F.lead("tok", 1).over(w).alias("_t1")
        )
        .where(F.col("_t1").isNotNull())
        .select(
            "id",
            _bucket(F.col("tok"), n_buckets, hash_mode).alias("b1"),
            _bucket(F.col("_t1"), n_buckets, hash_mode).alias("b2"),
        )
    )


def perplexity_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    keep_frac: float = 0.5,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """CCNet-style LM perplexity filtering (Wenzek et al. 2020, "CCNet:
    Extracting high quality monolingual datasets from web crawl data",
    arXiv:1911.00359) with a HASHED bigram LM standing in for KenLM
    (no model artifacts ship in this environment; hashing also bounds
    the model at n_buckets^2 rows, which is what makes the scoring
    join broadcast-able at any corpus size).

    The LM is fit on the corpus itself: p(b2 | b1) = (c(b1,b2) + 1) /
    (c(b1,*) + B), scored as exact micro-integer log-probs. Output:
    (id, logprob_micro, n_bigrams, mean_micro, keep) where mean_micro
    is the per-bigram mean log-prob (higher = more fluent under the
    corpus LM = lower perplexity) and keep marks the top ``keep_frac``
    by mean_micro — the CCNet head/middle cut. Docs with < 2 tokens
    have mean_micro = 0 and ride the threshold like everyone else.

    Scale shape: the bigram-pair table is persisted — it feeds the
    model aggregate AND the scoring join (two consumers; CLAUDE.md
    rule), and the model tables (<= B + B^2 rows) are lineage-truncated
    and broadcast. The threshold is one exact-percentile driver scalar
    (keep_frac = 0.5 pins the interpolation fraction; use
    approx_percentile at 10^12 rows). Scoring a DIFFERENT corpus than
    the one the LM was fit on needs a left join with the unseen-pair
    smoothing weight round(1e6 * ln(1/(c1+B))) per b1 — self-scoring
    (this op) only ever sees observed pairs, so the inner join is
    exact."""
    from pyspark import StorageLevel

    B = n_buckets
    # raw (id, b1, b2) pair rows, NOT per-doc pre-counts: measured at
    # the 50k-doc tier the bigram-bucket multiplicities are ~1, so a
    # (id, b1, b2) count shrinks nothing and its aggregate only added
    # wall (2.34 s -> 2.6-2.8 s — reverted r6 experiment).
    pairs = hashed_bigram_pairs(
        df, id_col, text_col, n_buckets, hash_mode
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cb = sizing.truncate_lineage(
        pairs.groupBy("b1", "b2").agg(F.count("*").alias("c12"))
    )
    c1 = cb.groupBy("b1").agg(F.sum("c12").alias("c1"))
    model = cb.join(c1, "b1").select(
        "b1",
        "b2",
        F.round(
            F.lit(1e6)
            * F.log((F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.lit(B)))
        )
        .cast("bigint")
        .alias("w_micro"),
    )
    scored = (
        pairs.join(F.broadcast(model), ["b1", "b2"])
        .groupBy("id")
        .agg(
            F.sum("w_micro").alias("lp"), F.count("*").alias("nb")
        )
    )
    ids = df.select(F.col(id_col).alias("id"))
    scores = sizing.truncate_lineage(
        ids.join(scored, "id", "left").select(
            "id",
            F.coalesce(F.col("lp"), F.lit(0)).alias("logprob_micro"),
            F.coalesce(F.col("nb"), F.lit(0)).alias("n_bigrams"),
            F.when(
                F.coalesce(F.col("nb"), F.lit(0)) > 0,
                F.round(F.col("lp") / F.col("nb")),
            )
            .otherwise(0)
            .cast("bigint")
            .alias("mean_micro"),
        )
    )
    pairs.unpersist()
    thr = scores.agg(
        F.expr(f"percentile(mean_micro, {1.0 - keep_frac})").alias("t")
    ).first()["t"]
    # NULL percentile == empty corpus (mean_micro is coalesced): keep
    # the empty-frame contract rather than crashing on float(None).
    return scores.select(
        F.col("id").alias(id_col),
        "logprob_micro",
        "n_bigrams",
        "mean_micro",
        (F.col("mean_micro") >= F.lit(float(thr or 0.0)))
        .cast("int").alias("keep"),
    )


def hashed_linear_score(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Apply a pre-trained hashed linear model (fastText/CCNet-style
    quality classifier) -> (id, score_micro, label).

    ``weights`` is a (bucket bigint, w_micro bigint) table — the
    classifier's weight vector over the same hashed feature space as
    :func:`hashed_gram_counts` (micro-integer weights: exact integer
    doc scores, engine-stable). The weight table is codebook-sized, so
    the join is a broadcast and the whole apply is one tokenize pass +
    one per-doc aggregate; label = sign(score) (bias folded into the
    weights)."""
    tfb = hashed_gram_counts(df, id_col, text_col, n_buckets, hash_mode)
    scored = tfb.join(F.broadcast(weights), "bucket").groupBy("id").agg(
        F.sum(F.col("cnt") * F.col("w_micro")).alias("score_micro")
    )
    ids = df.select(F.col(id_col).alias("id"))
    return ids.join(scored, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce(F.col("score_micro"), F.lit(0)).alias("score_micro"),
        (F.coalesce(F.col("score_micro"), F.lit(0)) >= 0)
        .cast("int")
        .alias("label"),
    )

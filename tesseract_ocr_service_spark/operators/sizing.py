"""Plan-size decisions: the one place that turns what a frame's plan
already knows about its size into a plan shape.

Every decision here reads metadata the driver holds — file listings,
checkpoint sizes, counts a caller already materialized — and never
runs a Spark job to find out (Global Range Encoding, EDBT 2018: decide
from metadata, never from a scan). Build sides are bounded by bytes,
not rows (CAMEL Hash Table, EDBT 2026), so a wide key cannot slip a
large table under a row cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: below this many source bytes the fixed cost of an exchange (~0.3 s)
#: exceeds what spreading per-row work saves, and the Arrow stages'
#: per-task setup exceeds what they save over the pure plan: measured
#: at sf0.1 (0.6 MB documents), where a blanket repartition cost
#: tfidf/dsir/repetition +0.3-0.8 s each, while the sf1.0 (5.9 MB)
#: wins were 1.3-3x.
SMALL_INPUT_BYTES = 4 << 20  # 4 MiB

#: largest build side :func:`broadcast_if_small` hints: one million
#: rows of the (long, long) label and min tables the component loops
#: broadcast — comfortably inside any executor.
BROADCAST_MAX_BYTES = 16_000_000

#: Spark's "no statistics" size (Long.MaxValue for an RDD-backed frame
#: such as pyspark's createDataFrame); anything this large is unknown.
_NO_STATS = 1 << 60


def input_bytes(df: DataFrame) -> int:
    """Bytes at the leaves of ``df``'s optimized plan: the sum of each
    leaf relation's ``stats().sizeInBytes``. A file relation reports
    the listed length of its files on any filesystem (a partition
    filter on a path read does not shrink it); an eagerly checkpointed frame reports
    its materialized size; a leaf with no statistics counts 0, so
    stat-less in-memory test frames are never spread. Reading the
    stats is a driver-side lookup, no Spark job."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        size = int(leaves.apply(i).stats().sizeInBytes())
        total += size if size < _NO_STATS else 0
    return total


def spread(df: DataFrame, key: str, mult: int = 2) -> DataFrame:
    """Spread a SINGLE-row-group driver table across the cluster. The
    driver's parquet tables are one file with one row group, so every
    scan is ONE split and all per-row work before the first exchange
    (tokenize/explode/regex/vector math) ran on ONE core — measured
    9.1 s for gopher_filter's single-task signal stage at sf1.0 vs
    0.9 s spread. A deterministic hash repartition (guide §2.5: never
    rand/round-robin — retried tasks must reproduce the assignment)
    costs one exchange of the few-MB source rows. Only the queries with
    substantial per-row work use this; trivial projections keep the
    exchange-free single-task plan.

    SIZE-ADAPTIVE (guide §2: derive partitioning from input size, not
    a constant): a source under :data:`SMALL_INPUT_BYTES` is returned
    unchanged.

    ``mult``: partitions = defaultParallelism * mult. 2 (default)
    smooths per-row-work stragglers across waves; 1 for stages whose
    per-task cost has a substantial FIXED component (the minhash
    Arrow stage re-hashes the distinct shingles each task sees — a
    per-task memo rebuild), where extra waves pay that fixed cost
    again (sig stage measured 1.68 s at 2x vs 1.20 s at 1x on the
    50k-doc tier)."""
    if input_bytes(df) < SMALL_INPUT_BYTES:
        return df
    p = df.sparkSession.sparkContext.defaultParallelism * mult
    return df.repartition(p, F.xxhash64(key))


def one_wave(df: DataFrame) -> DataFrame:
    """One wave of maximal tasks ahead of an Arrow stage. Arrow stages
    carry a fixed per-task setup (and the hashing stages a per-task
    memo rebuild: every task re-hashes the distinct grams IT sees), so
    a 2x-parallelism spread input pays that cost twice plus a second
    wave — measured 1.68 s -> 1.20 s for the minhash signature stage
    and 0.2-0.35 s per shingle stage at the 50k-doc tier. ``coalesce``
    is shuffle-free (merges the spread partitions) and a no-op when
    the input already has that many partitions or fewer (NEVER probe
    ``.rdd.getNumPartitions()`` here — materializing the RDD of an AQE
    plan executes its upstream stages eagerly)."""
    return df.coalesce(df.sparkSession.sparkContext.defaultParallelism)


def fits_broadcast(df: DataFrame, rows: int | None) -> bool:
    """True when ``rows`` rows of ``df``'s schema (Spark's per-type
    default sizes) fit :data:`BROADCAST_MAX_BYTES`; False when the row
    count is unknown."""
    return (
        rows is not None
        and rows * df._jdf.schema().defaultSize() <= BROADCAST_MAX_BYTES
    )


def broadcast_if_small(df: DataFrame, rows: int | None) -> DataFrame:
    """Broadcast hint for a checkpointed (LogicalRDD) frame with a
    KNOWN small row count. Checkpointed frames carry no stats (the
    Long.MaxValue default), so neither the static planner nor AQE ever
    broadcasts them — a 1k-row labels/losers table then forces a full
    shuffle + sort of the corpus-sized side of its join (observed:
    SortMergeJoin of 50k vertices against 1.1k checkpointed labels).
    ``rows`` must be an ALREADY-KNOWN count (the caller materialized
    the frame — counting here would add an eager consumer); None keeps
    the shuffled join (the scale-safe default)."""
    return F.broadcast(df) if fits_broadcast(df, rows) else df


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Cut a plan's lineage with an eager checkpoint. If the session
    has a RELIABLE checkpoint dir configured
    (``spark.sparkContext.setCheckpointDir``) use ``.checkpoint()`` —
    blocks live in fault-tolerant storage, so a lost executor
    mid-iteration recovers instead of killing the job. Otherwise fall
    back to ``localCheckpoint`` (executor-local blocks: fine on
    local[n]/tests, NOT for thousand-executor clusters — set a
    checkpoint dir there)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()

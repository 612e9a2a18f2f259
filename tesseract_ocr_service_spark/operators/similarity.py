"""Similarity search over an embedding column (array<float/double>).

Two tiers (north-star training-data ops):

- brute-force cosine top-k — the exactness baseline: one narrow pass,
  dot products via zip_with/aggregate (JVM-side, codegen), global top-k
  via a single ordered limit (Spark's TakeOrderedAndProject — no full
  sort materialization).
- sign-LSH bucketed ANN — the 10^12-scale path: H deterministic
  hyperplanes (seeded ±1 component patterns, broadcast as literals)
  hash every vector into a 2^H bucket space; queries probe only their
  bucket (equi-join on bucket id), turning an O(N) scan per query into
  an O(N/2^H) bucket read. Buckets are just a column -> the table can
  be written partitioned/bucketed by it for physical pruning.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import sizing


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# --- SQL-text expression builders -------------------------------------
# Constructing K x dim literal trees through the Python API costs one
# py4j round trip PER CALL (~10,700 round trips / 2.7-10 s of pure
# driver chatter for a 24-plane banding, profiled; `F.lit(list)` is
# sugar for per-element lit() so it saves nothing). Rendering the same
# expression as ONE SQL string -> ONE `F.expr` parse drops construction
# to ~0.3 s. The SQL parser builds the IDENTICAL Catalyst operators
# (aggregate/zip_with/CASE WHEN with the same left-fold order), so
# results are bit-identical — verified by equal output hashes and the
# unchanged DuckDB oracles. Doubles are rendered with repr(): Python's
# shortest round-trip decimal, which Spark's correctly-rounded parser
# maps back to the same binary64.


def _dbl(x) -> str:
    if x is None:
        return "CAST(NULL AS DOUBLE)"
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _arr_sql(xs) -> str:
    return "array(" + ",".join(_dbl(x) for x in xs) + ")"


def _dot_sql(a: str, b: str) -> str:
    return f"aggregate(zip_with({a},{b},(x,y)->x*y),0.0D,(acc,v)->acc+v)"


def _norm_sql(a: str) -> str:
    return f"sqrt(aggregate(transform({a},x->x*x),0.0D,(acc,v)->acc+v))"


def norm(a) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


# --- exact-fold-order numpy verify ------------------------------------
# The interpreted aggregate/zip_with fold costs ~100 us of interpreter
# overhead PER PAIR (ArrayAggregate/ZipWith are CodegenFallback; an
# unrolled a[0]*b[0]+... Add chain was tried and is WORSE — ~2x the
# fold — because the generated method blows past the JVM's
# 8000-bytecode JIT limit and the whole stage runs in the bytecode
# interpreter; measured in OPTIMIZATION_r06.md). The pair/cluster
# verify stages evaluate candidate-pairs >> N dot products, which made
# semantic_dedup (26 s) and embedding_neardups (13 s) the two most
# expensive vector queries at sf1.0.
#
# The fix follows guide §4.2/§8: ship each VECTOR once into an Arrow
# batch per cluster/bucket (tiny — ids + vectors, never per-pair), and
# compute the pairwise cosines in numpy with the EXACT summation order
# of the interpreted fold: acc starts at 0.0 and adds index-ascending
# products, one strict IEEE multiply + add pass per dimension — no
# BLAS blocking, no FMA, no pairwise summation. numpy's elementwise
# multiply/add/divide/sqrt are the same correctly-rounded binary64
# operations the JVM executes, so every cosine is BIT-IDENTICAL to the
# old expression plan (verified by full-output hash equality at
# sf0.001/0.01/0.1/1.0) and the frozen DuckDB oracles are untouched.


def _round4_spark(x: float) -> float:
    """Spark's round(double, 4) replicated exactly: NaN/±Inf pass
    through (Spark's Round guards them); otherwise the value's SHORTEST
    round-trip decimal (Java BigDecimal.valueOf == Double.toString ==
    Python repr) is quantized HALF_UP at 4 decimals and converted back
    to double (both conversions correctly rounded)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    if math.isnan(x) or math.isinf(x):
        return x
    return float(
        Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    )


def _round4_ge_boundary(t: float) -> float:
    """Smallest double x with _round4_spark(x) >= t (requires t > 0):
    lets the vectorized verify replace `round(cos, 4) >= t` with ONE
    float compare (cos >= boundary) — exactly, because _round4_spark
    is monotone non-decreasing over doubles (shortest-repr preserves
    order; HALF_UP quantization is monotone)."""
    import struct

    if not t > 0:
        raise ValueError("round-boundary derivation assumes t > 0")

    def f2i(v: float) -> int:
        return struct.unpack("<q", struct.pack("<d", v))[0]

    def i2f(i: int) -> float:
        return struct.unpack("<d", struct.pack("<q", i))[0]

    lo, hi = f2i(max(t - 0.001, 0.0)), f2i(t + 0.001)
    assert _round4_spark(i2f(lo)) < t <= _round4_spark(i2f(hi))
    while lo < hi:
        mid = (lo + hi) // 2
        if _round4_spark(i2f(mid)) >= t:
            hi = mid
        else:
            lo = mid + 1
    return i2f(lo)


def _fold_order_dots(A, B):
    """Pairwise dot products between the rows of A (m x d) and B (n x d)
    with the exact per-pair summation order of :func:`dot` (see the
    note above) -> (m x n) float64."""
    import numpy as np

    G = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
    tmp = np.empty_like(G)
    for i in range(A.shape[1]):
        np.multiply(A[:, i][:, None], B[:, i][None, :], out=tmp)
        np.add(G, tmp, out=G)
    return G


def _fold_order_norms(V):
    """Row L2 norms of V (m x d) with the exact op sequence of
    :func:`norm` (left fold of x*x from 0.0, then sqrt)."""
    import numpy as np

    acc = np.zeros(V.shape[0], dtype=np.float64)
    for i in range(V.shape[1]):
        x = V[:, i]
        acc += x * x
    return np.sqrt(acc)


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k by cosine vs a literal query vector.
    -> (vec_id, sim) — sim rounded 4; ties broken by id (deterministic)."""
    q = F.lit([float(x) for x in query_vec])
    sims = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), 4).alias("sim"),
    )
    return sims.orderBy(F.desc("sim"), F.asc(id_col)).limit(k)


def hyperplane_signs(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 hyperplane components (seeded, engine contract)."""
    r = random.Random(seed)
    return [
        [1.0 if r.random() < 0.5 else -1.0 for _ in range(dim)]
        for _ in range(n_planes)
    ]


def lsh_bucket(vec, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit j = sign(<v, h_j>).

    ``vec`` is the vector column NAME (str) — the whole bucket
    expression is rendered as one SQL string and parsed in a single
    ``F.expr`` round trip (see the SQL-text builders above). A Column
    input falls back to the per-plane Python-API build (bit-identical,
    just ~30x slower to construct)."""
    if isinstance(vec, str):
        v = f"CAST(`{vec}` AS ARRAY<DOUBLE>)"
        terms = ["CAST(0 AS BIGINT)"]
        for j, p in enumerate(planes):
            bit = (
                f"(CASE WHEN ({_dot_sql(v, _arr_sql(p))} >= 0) "
                "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            )
            terms.append(f"shiftleft({bit},{j})")
        return F.expr(" + ".join(terms))
    out = F.lit(0).cast("bigint")
    v = vec.cast("array<double>")
    for j, plane in enumerate(planes):
        h = F.lit([float(c) for c in plane])
        bit = F.when(dot(v, h) >= 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        out = out + F.shiftleft(bit, j)
    return out


def with_lsh_buckets(
    df: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    return df.withColumn(
        "bucket", lsh_bucket(vec_col, hyperplane_signs(n_planes, dim, seed))
    )


def ann_topk_lsh(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.
    At scale the bucket column is a partition key -> physical pruning."""
    planes = hyperplane_signs(n_planes, len(query_vec), seed)
    qb = 0
    for j, plane in enumerate(planes):
        if sum(x * c for x, c in zip(query_vec, plane)) >= 0:
            qb |= 1 << j
    q = F.lit([float(x) for x in query_vec])
    bucketed = with_lsh_buckets(df, n_planes, len(query_vec), seed, vec_col)
    return (
        bucketed.where(F.col("bucket") == F.lit(qb))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col).cast("array<double>"), q), 4).alias(
                "sim"
            ),
        )
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


# ------------------------------------------------------------------ IVF


def ivf_centroids(
    df: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 1,
) -> list[list[float]]:
    """Deterministic IVF codebook: seed centroids are a reproducible
    sample of the corpus (rows with id % 7 == 0, first n_lists by id —
    partitioning-independent AND replayable in plain SQL, so the DuckDB
    oracle can rebuild the identical codebook), refined by
    ``iterations`` Lloyd steps computed as DataFrame aggregations
    (assign via argmax cosine, re-center via per-list mean);
    ``iterations=0`` keeps the raw seed codebook. Driver only ever
    holds n_lists * dim floats.

    The %7 sample requires a NUMERIC id: a non-castable id yields NULL
    under cast('bigint'), the NULL%7 predicate filters every row, and
    the sample under-fills — such corpora fall through to the
    first-rows-by-id fallback below, which is still deterministic for
    ANY id type (ordering on the original column).

    The Lloyd re-center runs as posexplode -> groupBy(list_id, pos)
    avg: hash aggregation with map-side partial combine, so the
    shuffle carries at most n_lists * dim * n_partitions partial rows
    regardless of corpus size, and the aggregate expression count does
    not grow with the dimension (the previous one-avg()-per-dimension
    unroll built 1024 aggregate exprs at dim=1024). The driver still
    only ever holds n_lists * dim floats per iteration.
    """
    seeds = (
        df.select(id_col, vec_col)
        .where(F.col(id_col).cast("bigint") % 7 == 0)
        .orderBy(id_col)
        .limit(n_lists)
        .collect()
    )
    if len(seeds) < n_lists:
        # tiny corpus OR non-numeric ids: the %7 sample under-fills —
        # fall back to the first rows by id (still deterministic); a
        # corpus smaller than n_lists yields one list per row.
        seeds = df.select(id_col, vec_col).orderBy(id_col).limit(n_lists).collect()
    if not seeds:
        raise ValueError("ivf_centroids: empty corpus")
    cents = [list(r[vec_col]) for r in seeds]
    for _ in range(iterations):
        assigned = df.select(
            F.col(vec_col).alias("v"), ivf_assign(vec_col, cents).alias("list_id")
        )
        dim = len(cents[0])
        means = (
            assigned.select(
                "list_id",
                F.posexplode(F.col("v").cast("array<double>")).alias(
                    "pos", "x"
                ),
            )
            .groupBy("list_id", "pos")
            .agg(F.avg("x").alias("c"))
            .collect()
        )
        by_list: dict[int, list] = {}
        for r in means:
            # seed with the PREVIOUS centroid, not zeros: a dimension
            # unobserved in a list's assigned vectors (ragged/short
            # arrays) keeps its prior value instead of silently
            # collapsing to 0.0
            by_list.setdefault(
                r["list_id"], list(cents[r["list_id"]])
            )[r["pos"]] = r["c"]
        cents = [by_list.get(j, cents[j]) for j in range(len(cents))]
    return cents


def ivf_assign(vec, centroids: list[list[float]]) -> Column:
    """list_id = argmax over centroids of cosine(v, c), as an array of
    K cosine exprs + array_max/array_position (first-wins tie-break,
    JVM-side). NOT a when()-chain carrying a running best: that form
    nests the previous best into both branches of every step, so the
    expression tree doubles per centroid — K=16 OOMed the driver at
    ANALYSIS time before a single row moved.

    ``vec`` is the vector column NAME (str): the K*dim literal tree is
    rendered as one SQL string -> one ``F.expr`` parse (the Python-API
    build cost seconds of py4j chatter at K=16; see the SQL-text
    builders above). Column inputs use the legacy per-centroid build.
    """
    # nanvl(-2): a zero-norm (degenerate) centroid yields cosine NaN,
    # and Spark orders NaN ABOVE every double (array_max picks it,
    # array_position matches it under NaN=NaN semantics) — without the
    # guard every vector would assign to the degenerate centroid,
    # collapsing the codebook into one mega-cluster and making the
    # within-cluster self-join quadratic. -2 < any real cosine, so a
    # degenerate centroid simply never wins.
    if isinstance(vec, str):
        v = f"CAST(`{vec}` AS ARRAY<DOUBLE>)"
        sims = "array(" + ",".join(
            f"nanvl({_dot_sql(v, _arr_sql(c))}/"
            f"({_norm_sql(v)}*{_norm_sql(_arr_sql(c))}),-2.0D)"
            for c in centroids
        ) + ")"
        return F.expr(
            f"CAST(array_position({sims},array_max({sims})) - 1 AS INT)"
        )
    v = vec.cast("array<double>")
    sims = F.array(
        *[
            F.nanvl(
                cosine(v, F.lit([float(x) for x in c])),
                F.lit(-2.0),
            )
            for c in centroids
        ]
    )
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")


def assign_codebook_batched(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Codebook assignment for LARGE K: one numpy matmul per Arrow
    batch (``mapInPandas``) against the broadcast codebook, instead of
    K unrolled cosine expressions. The expression form is the oracle
    path and wins for small K (pure codegen, zero Python), but its
    plan grows with K*dim literals — planning alone was ~5 s at K=16
    and a 100-TB SemDeDup wants K ~ 10^4-10^5 (cluster size is the
    pair cap), where only a batched BLAS argmax is viable. Centroids
    are L2-normalized ONCE on the driver, so per-row work is one
    (batch x dim)@(dim x K) product + argmax — same argmax as
    cosine since |v| is constant within a row; numpy argmax is
    first-max, matching array_position's first-wins tie-break (exact
    ties at different float-summation order can still differ in the
    last ulp; the expr path stays the oracle for that reason).
    -> (id, v array<double>, list_id int, nrm double) — the same
    internal shape semantic_dedup's self-join consumes.
    """
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)
    cn = np.linalg.norm(C, axis=1, keepdims=True)
    # degenerate (zero-norm) centroids must never win the argmax —
    # same -2 guard as ivf_assign's nanvl (0/0 would make the whole
    # column NaN and np.argmax returns the first NaN)
    degenerate = (cn == 0.0).ravel()
    Cn = (C / np.where(cn == 0.0, 1.0, cn)).T  # dim x K

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            nrm = np.sqrt((V * V).sum(axis=1))
            sims = V @ Cn
            if degenerate.any():
                sims[:, degenerate] = -2.0
            lid = sims.argmax(axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(),
                    "v": list(V),
                    "list_id": lid.astype("int32"),
                    "nrm": nrm,
                }
            )

    # id type comes from the input schema: the expr path this function
    # is interchangeable with preserves any id type, so a hardcoded
    # bigint would silently change the contract when 'auto' switches
    # implementations at K>32 (and crash Arrow for string ids).
    id_ddl = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, vec_col).mapInPandas(
        batches,
        schema=f"id {id_ddl}, v array<double>, list_id int, nrm double",
    )


def _resolve_assign(assign: str, k: int) -> str:
    """ONE auto/expr/batched dispatch shared by :func:`semantic_dedup`
    and :func:`semantic_dedup_cap_stats` — the two must resolve
    IDENTICALLY (and validate identically) or the reported cap
    telemetry describes a different assignment than the dedup ran."""
    if assign not in ("auto", "expr", "batched"):
        raise ValueError(f"unknown assign mode {assign!r}")
    return ("batched" if k > 32 else "expr") if assign == "auto" else assign


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "auto",
    max_cluster: int | None = 10_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication", arXiv:2303.09540):
    cluster the embedding space with a k-means codebook, then WITHIN
    each cluster drop every vector whose cosine to a lower-id member
    is >= ``threshold`` (the paper keeps one representative per
    semantic-duplicate group; lowest id is the deterministic stand-in
    for its low-centroid-similarity pick).
    -> (vec_id, list_id, keep) with keep in {0, 1}.

    Scale shape: assignment is the argmax-cosine over K centroid
    literals (JVM-side, same expr as the IVF index build) and its
    lineage is CUT after one materialization — the within-cluster
    self-join and the final drop-mark each consume it, and leaving the
    K*dim-literal expr in the DAG three times put ~25 of 33 s into
    driver-side planning alone at K=16 (measured; data compute was
    8 s). Pair enumeration is a self-join keyed on list_id — the
    paper's own control knob is K: clusters are sized (N/K ~
    thousands) so within-cluster pairs stay tractable, which is
    exactly the hot-shingle-cap story with the codebook as the cap.
    Norms are precomputed once per row, pairs carry ids only. On a
    cluster, set a reliable checkpoint dir (``sizing.truncate_lineage``
    uses it).

    ``assign``: 'expr' = unrolled JVM cosine argmax (the oracle path,
    plan size grows with K*dim); 'batched' = Arrow-batch numpy matmul
    (assign_codebook_batched — the large-K path); 'auto' switches to
    batched above K=32, where expression-plan growth starts to beat
    the Python-stage overhead.

    ``max_cluster`` is the degenerate-codebook guard, uniform with
    every other pair enumerator here (``dedup.cap_buckets``): K sizing
    is the paper's control knob, but one collapsed/degenerate centroid
    (e.g. a near-constant embedding column) re-creates the m^2 blowup
    the cap discipline exists to prevent. Clusters over the cap are
    excluded from PAIR ENUMERATION only — their members still appear
    in the output with keep=1 (visible via
    ``semantic_dedup_cap_stats``; no silent row loss). None disables.
    """
    from .dedup import cap_buckets

    assign = _resolve_assign(assign, len(centroids))
    v = F.col(vec_col).cast("array<double>")
    if assign == "batched":
        raw = assign_codebook_batched(df, centroids, id_col, vec_col)
    else:
        raw = df.select(
            F.col(id_col).alias("id"),
            v.alias("v"),
            ivf_assign(vec_col, centroids).alias("list_id"),
            norm(v).alias("nrm"),
        )
    assigned = sizing.truncate_lineage(raw)
    if max_cluster is not None:
        # Capped clusters (the default / declared-query path): the
        # within-cluster pair verify runs as ONE Arrow group per
        # cluster with exact-fold-order numpy cosines (see the note at
        # _fold_order_dots) — each vector ships once per cluster
        # instead of once per candidate pair, and the m^2 cosines run
        # at vectorized speed instead of ~100 us of fold-interpreter
        # overhead per pair (26.1 s -> 3.5 s at sf1.0, hash-identical
        # output). cap_buckets' window shuffles on list_id, which is
        # exactly the grouping key — one exchange total.
        cand = cap_buckets(assigned, ["list_id"], max_cluster, "semantic_dedup")
        bound = _round4_ge_boundary(threshold)
        id_ddl = df.schema[id_col].dataType.simpleString()

        def _cluster_dropped(pdf):
            import numpy as np
            import pandas as pd

            if len(pdf) < 2:
                return pd.DataFrame({"id": pdf["id"].iloc[:0]})
            pdf = pdf.sort_values("id", kind="stable")
            V = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            nrm = pdf["nrm"].to_numpy(dtype=np.float64)
            m = len(pdf)
            dropped = np.zeros(m, dtype=bool)
            blk = 1024  # bound peak memory at m x blk doubles
            with np.errstate(divide="ignore", invalid="ignore"):
                for j0 in range(1, m, blk):
                    j1 = min(j0 + blk, m)
                    G = _fold_order_dots(V[:j1], V[j0:j1])
                    C = G / np.multiply.outer(nrm[:j1], nrm[j0:j1])
                    tri = (
                        np.arange(j1)[:, None]
                        < np.arange(j0, j1)[None, :]
                    )
                    dropped[j0:j1] |= ((C >= bound) & tri).any(axis=0)
            return pd.DataFrame({"id": pdf["id"].to_numpy()[dropped]})

        # ids are unique per cluster and clusters partition ids, so the
        # emitted drop list is duplicate-free by construction (the old
        # self-join needed a distinct here).
        dropped = (
            cand.groupBy("list_id")
            .applyInPandas(_cluster_dropped, schema=f"id {id_ddl}")
            .withColumn("_drop", F.lit(1))
        )
    else:
        # Uncapped: cluster size is unbounded, so keep the distributed
        # self-join shape (a single giant cluster must spread across
        # tasks, not land in one Arrow group).
        a, b = assigned.alias("a"), assigned.alias("b")
        dropped = (
            a.join(
                b,
                (F.col("a.list_id") == F.col("b.list_id"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .where(
                F.round(
                    dot(F.col("a.v"), F.col("b.v"))
                    / (F.col("a.nrm") * F.col("b.nrm")),
                    4,
                )
                >= threshold
            )
            .select(F.col("b.id").alias("id"))
            .distinct()
            .withColumn("_drop", F.lit(1))
        )
    # project BEFORE the join: `dropped` can exceed the broadcast
    # threshold on dup-heavy corpora, and a sort-merge join would then
    # shuffle every row's full embedding payload by id just to discard
    # it in the select (12 bytes/row vs ~500)
    return (
        assigned.select("id", "list_id")
        .join(dropped, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "list_id",
            F.when(F.col("_drop").isNull(), 1).otherwise(0).alias("keep"),
        )
    )


def semantic_dedup_cap_stats(
    df: DataFrame,
    centroids: list[list[float]],
    max_cluster: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "auto",
) -> dict[str, int]:
    """Cluster-cap telemetry for ``semantic_dedup``: the standard
    {n_buckets, n_capped_buckets, n_dropped_rows, max_bucket} dict over
    the codebook assignment (``dedup.bucket_cap_stats`` shape — bench
    and operators report caps, never apply them silently)."""
    from .dedup import bucket_cap_stats

    assign = _resolve_assign(assign, len(centroids))
    if assign == "batched":
        assigned = assign_codebook_batched(df, centroids, id_col, vec_col)
    else:
        assigned = df.select(ivf_assign(vec_col, centroids).alias("list_id"))
    return bucket_cap_stats(
        assigned.select("list_id"), ["list_id"], max_cluster
    )


def _cos_py(a, b) -> float:
    num = sum(x * y for x, y in zip(a, b))
    na = sum(x * x for x in a) ** 0.5
    nb = sum(y * y for y in b) ** 0.5
    return num / (na * nb) if na and nb else 0.0


def probe_lists(
    query_vec: list[float], centroids: list[list[float]], n_probe: int
) -> list[int]:
    """The ``n_probe`` list ids whose centroids are closest to the query
    (driver-side over the tiny codebook; deterministic id tie-break)."""
    ranked = sorted(
        range(len(centroids)),
        key=lambda j: (-_cos_py(query_vec, centroids[j]), j),
    )
    return ranked[:n_probe]


def build_ivf_index(
    df: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the inverted file: list assignment computed ONCE over
    the corpus, persisted partitioned by list_id. This is what makes IVF
    an index — queries read only the probed list partitions (parquet
    PartitionFilters prune the rest physically), instead of recomputing
    the argmax-over-centroids for every vector per query (which costs
    more than brute-force scoring itself)."""
    (
        df.select(id_col, vec_col)
        .withColumn("list_id", ivf_assign(vec_col, centroids))
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(path)
    )


def ann_topk_ivf_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search over a materialized index: a partition-pruned read of
    the ``n_probe`` closest lists, then exact scoring + ordered limit."""
    probe = probe_lists(query_vec, centroids, n_probe)
    q = F.lit([float(x) for x in query_vec])
    return (
        spark.read.parquet(index_path)
        .where(F.col("list_id").isin(probe))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col).cast("array<double>"), q), 4).alias(
                "sim"
            ),
        )
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def ann_topk_ivf(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Index-free IVF search (assignment recomputed inline): ONLY for
    one-shot queries where building the index wouldn't amortize — for
    any repeated-query workload use build_ivf_index +
    ann_topk_ivf_indexed, which prunes physically."""
    probe = probe_lists(query_vec, centroids, n_probe)
    q = F.lit([float(x) for x in query_vec])
    return (
        df.withColumn("list_id", ivf_assign(vec_col, centroids))
        .where(F.col("list_id").isin(probe))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col).cast("array<double>"), q), 4).alias(
                "sim"
            ),
        )
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def auto_n_planes(n_vectors: int, target_occupancy: float = 8.0) -> int:
    """Plane count sizing the per-band bucket space to the corpus:
    n_planes = ceil(log2(N / target_occupancy)), min 8. Measured in
    BENCH/BASELINE.md ("Scale evidence"): at 10x vectors a fixed
    n_planes=8 grew candidates 10x per vector (quadratic), while
    +log2(10) planes held occupancy near-flat at identical recall."""
    import math

    if n_vectors <= 0:
        return 8
    return max(8, math.ceil(math.log2(max(2.0, n_vectors / target_occupancy))))


def lsh_buckets_batched(
    df: DataFrame,
    planes: list[list[float]],
    bands: int,
    id_col: str = "id",
    vec_col: str = "v",
) -> DataFrame:
    """Banded sign-LSH bucket ids for LARGE plane counts: ONE numpy
    matmul per Arrow batch (``mapInPandas``) against all bands' planes
    at once, instead of bands*n_planes interpreted aggregate/zip_with
    folds per row (higher-order array functions never enter codegen —
    the CLAUDE.md rule). At 10^12 vectors the auto-sized index wants
    ~38 planes/band x several bands — hundreds of interpreted
    dot-folds per row — where the batched path is one
    (batch x dim) @ (dim x planes) BLAS call plus a bit-pack.
    -> (id, band, bucket), one row per (vector, band).

    PRECONDITION: non-null, full-dim vectors (same contract as
    assign_codebook_batched). Sign bits match the expression path
    everywhere the dot product is not within float-summation noise of
    exactly 0 (different summation order, last-ulp differences) — for
    unit-scale embeddings a flip needs |<v,h>| < ~1e-13, so the two
    paths agree in practice and a test pins equality on the driver
    corpus; the expression path remains the oracle form.
    """
    import numpy as np
    import pandas as pd

    P = np.asarray(planes, dtype=np.float64).T  # dim x (bands*n)
    n = len(planes) // bands
    w = 1 << np.arange(n, dtype=np.int64)
    band_ids = np.arange(bands, dtype=np.int32)

    def run(it):
        for pdf in it:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            bits = (V @ P >= 0).astype(np.int64)
            buckets = bits.reshape(len(V), bands, n) @ w
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf[id_col].to_numpy(), bands),
                    "band": np.tile(band_ids, len(V)),
                    "bucket": buckets.ravel(),
                }
            )

    # same id-type passthrough as assign_codebook_batched: this path is
    # documented bit-identical to the expr banding, which accepts any
    # id type.
    id_ddl = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, vec_col).mapInPandas(
        run, schema=f"id {id_ddl}, band int, bucket long"
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int | str = 8,
    bands: int = 4,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = 500,
    log_drops: bool = False,
    banding: str = "expr",
) -> DataFrame:
    """Embedding-cosine near-duplicates via MULTI-BAND sign-LSH:
    ``bands`` independent sets of ``n_planes`` hyperplanes (mirroring
    minhash banding, dedup.py); candidate pairs share a bucket in ANY
    band, then ONE exact-cosine verification pass.
    -> (id_a, id_b, sim).

    Scale shape: a single band of H planes caps the bucket space at 2^H
    — at 10^12 docs each bucket holds ~N/2^H vectors and the
    within-bucket self-join is quadratic in that. Multi-band keeps each
    band's bucket count while multiplying recall; the candidate set
    stays slim (id pairs only — vectors are joined back by id, never
    carried through the explode). SIZE THE BUCKET SPACE TO THE CORPUS:
    n_planes must grow ~log2(N) to keep per-bucket occupancy (and the
    quadratic within-bucket join) constant — measured sf0.1 -> sf1 in
    BENCH/BASELINE.md. ``max_bucket`` additionally hard-caps
    per-(band, bucket) membership (dedup.cap_buckets — a corpus of
    near-identical vectors otherwise makes one bucket quadratic
    regardless of H); None disables, ``log_drops`` reports the drop.
    NOTE the cap drops EVERY candidate of an over-cap (band, bucket)
    group, not the excess — and the default tightened 5000 -> 500 in
    round 4 (the collect_list pair fan-out is only safe for buckets of
    a few hundred): callers whose corpora form 500-5000-member buckets
    must either raise ``max_bucket`` (> 1024 switches to the streaming
    self-join shape automatically) or re-size ``n_planes`` so buckets
    shrink; watch ``log_drops`` telemetry for silent recall loss.
    ``n_planes='auto'`` sizes the bucket space from one corpus count
    via :func:`auto_n_planes` (costs a driver count() action).
    ``banding``: 'expr' = JVM expression banding (the oracle path);
    'batched' = one numpy matmul per Arrow batch
    (:func:`lsh_buckets_batched` — the large-plane-count scale path,
    requires clean full-dim vectors)."""
    from . import dedup as _dedup

    if banding not in ("expr", "batched"):
        raise ValueError(f"unknown banding mode {banding!r}")
    if n_planes == "auto":
        n_planes = auto_n_planes(df.count())
    planes = hyperplane_signs(bands * n_planes, dim, seed)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # Grouped verify pays one Arrow-group overhead PER (band, bucket):
    # a win when buckets are fat (few big gram matrices), a loss when
    # the bucket space is large and buckets hold a handful of vectors
    # (measured: 6 planes/20k vecs 13.4 s -> 3.3 s, but auto-sized 12
    # planes/20k vecs 6.5 s -> 7.6 s). n_planes <= 8 (bucket space
    # <= 256 per band) keeps it to the fat-bucket regime; auto-sized
    # indexes target ~8 vectors/bucket and keep the explode shape.
    grouped_verify = (
        banding == "expr"
        and max_bucket is not None
        and max_bucket <= 1024
        and n_planes <= 8
    )
    if banding == "batched":
        banded = lsh_buckets_batched(base, planes, bands)
    else:
        band_buckets = F.array(
            *[
                lsh_bucket("v", planes[b * n_planes : (b + 1) * n_planes])
                for b in range(bands)
            ]
        )
        # the grouped verify needs the vector INSIDE each (band, bucket)
        # group — carry v through the fan-out (each vector ships `bands`
        # times: tiny vs joining full vectors onto every candidate pair)
        carry = ["id", "v"] if grouped_verify else ["id"]
        banded = base.select(
            *carry, F.posexplode(band_buckets).alias("band", "bucket")
        ).where(F.col("bucket").isNotNull())
    if max_bucket is not None:
        banded = _dedup.cap_buckets(
            banded, ["band", "bucket"], max_bucket,
            "embedding_neardup_pairs", log_drops,
        )
    if grouped_verify:
        # Exact-fold-order numpy verify, one Arrow group per
        # (band, bucket) (see _fold_order_dots): candidate enumeration
        # AND cosine verification fuse into one pass at vectorized
        # speed — no bucket collect_list, no id-pair explode, no
        # vector join-backs, no ~100 us/pair fold interpretation
        # (13.4 s -> 2.9 s at sf1.0, hash-identical output). A pair
        # sharing several buckets is verified once per bucket with an
        # identical sim; the trailing distinct collapses the copies
        # (the old shape deduped candidates before its single verify).
        bound = _round4_ge_boundary(threshold)
        id_ddl = df.schema[id_col].dataType.simpleString()

        def _bucket_pairs(pdf):
            import numpy as np
            import pandas as pd

            if len(pdf) < 2:
                empty = pdf["id"].iloc[:0]
                return pd.DataFrame(
                    {
                        "id_a": empty,
                        "id_b": empty,
                        "sim": pd.Series([], dtype="float64"),
                    }
                )
            pdf = pdf.sort_values("id", kind="stable")
            V = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            nrm = _fold_order_norms(V)
            G = _fold_order_dots(V, V)
            with np.errstate(divide="ignore", invalid="ignore"):
                C = G / np.multiply.outer(nrm, nrm)
            iu = np.triu_indices(len(pdf), k=1)
            cvals = C[iu]
            keep = cvals >= bound
            ids = pdf["id"].to_numpy()
            sims = np.fromiter(
                (_round4_spark(x) for x in cvals[keep]),
                dtype=np.float64,
                count=int(keep.sum()),
            )
            return pd.DataFrame(
                {
                    "id_a": ids[iu[0][keep]],
                    "id_b": ids[iu[1][keep]],
                    "sim": sims,
                }
            )

        return (
            banded.groupBy("band", "bucket")
            .applyInPandas(
                _bucket_pairs, schema=f"id_a {id_ddl}, id_b {id_ddl}, sim double"
            )
            .distinct()
        )
    # Pair enumeration shape depends on the bucket bound (CLAUDE.md
    # rule): the ONE-aggregation collect_list + id-pair fan-out scans
    # the banding (dim dot products per vector per plane) once, but
    # exploding a bucket of m members copies the member array m times
    # — m^2 struct copies in ONE task, safe only when m is capped to a
    # few hundred. With the cap disabled (or set large) fall back to
    # the streaming sort-merge self-join: two banding scans, but work
    # distributed across tasks instead of concentrated.
    if max_bucket is not None and max_bucket <= 1024:
        cands = _dedup.bucket_id_pairs(
            banded.groupBy("band", "bucket")
            .agg(F.collect_list("id").alias("member_ids"))
            .where(F.size("member_ids") >= 2)
        )
    else:
        ba, bb = banded.alias("ba"), banded.alias("bb")
        cands = (
            ba.join(
                bb,
                (F.col("ba.band") == F.col("bb.band"))
                & (F.col("ba.bucket") == F.col("bb.bucket"))
                & (F.col("ba.id") < F.col("bb.id")),
            )
            .select(
                F.col("ba.id").alias("id_a"), F.col("bb.id").alias("id_b")
            )
            .distinct()
        )
    # Precompute each vector's norm ONCE (N rows) instead of inside the
    # per-pair cosine (candidate pairs >> N): the pair stage then costs
    # one dot product + a division. norm(v) here is the identical
    # sqrt-of-fold expression, so sim values are bit-identical to the
    # fused form (oracle-stable).
    normed = base.select(
        "id", "v", norm(F.col("v").cast("array<double>")).alias("nrm")
    )
    va = normed.select(
        F.col("id").alias("id_a"),
        F.col("v").alias("v_a"),
        F.col("nrm").alias("n_a"),
    )
    vb = normed.select(
        F.col("id").alias("id_b"),
        F.col("v").alias("v_b"),
        F.col("nrm").alias("n_b"),
    )
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(
                    F.col("v_a").cast("array<double>"),
                    F.col("v_b").cast("array<double>"),
                )
                / (F.col("n_a") * F.col("n_b")),
                4,
            ).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )

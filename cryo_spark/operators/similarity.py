"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: one narrow pass (JVM zip_with dot
  product), orderBy-limit — Spark's TakeOrdered keeps only k rows per
  partition, so the shuffle carries k×partitions rows, not the table.
- hyperplane-LSH bucketed variant: deterministic random-hyperplane
  signatures narrow the scan to matching buckets first (probe with
  hamming-adjacent buckets for recall).
- IVF (inverted-file) variant: spherical k-means centroids trained on
  a deterministic sample; vectors assigned to their nearest-centroid
  list once (a persisted index at scale); queries probe only the
  nearest few lists — the 10⁸+-vector path where even the LSH scan's
  signature pass over every row is too wide.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cryo_spark.operators.util import bt, spread


def _dot_with_literal(vec_col: Column | str, query: list[float]) -> Column:
    """Sequential-fold dot product of a vector column with a literal
    query vector (the engines' shared left-to-right arithmetic).

    Pass the column NAME (str) on hot construction paths: the whole
    expression is then built as ONE ``F.expr`` SQL string — a single
    py4j round trip — instead of ~len(query) ``F.lit`` py4j calls plus
    per-node Column operators (measured ~5x faster plan construction
    for 64-dim queries; the analyzed expression and every runtime
    value are identical, ops and order unchanged)."""
    if isinstance(vec_col, str):
        return F.expr(_dot_sql(vec_col, query))
    return F.aggregate(
        F.zip_with(
            vec_col,
            F.array(*[F.lit(float(x)) for x in query]),
            lambda x, y: x.cast("double") * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _d_lit(x: float) -> str:
    """Exact Spark-SQL DOUBLE literal for ``x``: repr() is the
    shortest round-trip decimal, so the parsed literal is the SAME
    double bit pattern ``F.lit(float(x))`` would carry."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _dot_sql(vec_col: str, query: list[float]) -> str:
    """SQL text of :func:`_dot_with_literal`'s string path — exposed
    so composite expressions (cosine) can fold into ONE ``F.expr``."""
    arr = "array(" + ",".join(_d_lit(x) for x in query) + ")"
    return (
        f"aggregate(zip_with({bt(vec_col)}, {arr}, "
        "(x, y) -> CAST(x AS DOUBLE) * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _norm_sql(vec_col: str) -> str:
    """SQL text of :func:`_norm` over a named column — same
    sequential left-to-right aggregate fold, same ops and order."""
    return (
        f"sqrt(aggregate(transform({bt(vec_col)}, "
        "x -> CAST(x AS DOUBLE) * x), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    )


def _cos_sql(vec_col: str, query: list[float]) -> str:
    """SQL text of the shared cosine spelling
    ``dot(vec, query) / (norm(vec) * qnorm)`` as ONE string.

    The Column spelling paid ~125 py4j round trips per construction
    (measured round 17: the top two chatter sites of llm_ann_topk);
    this is a single ``F.expr``. Arithmetic ops and order are
    identical — values bit-equal (pinned in tests/test_r17_optim.py).
    """
    return (
        f"{_dot_sql(vec_col, query)} / "
        f"(({_norm_sql(vec_col)}) * {_d_lit(_seq_norm(query))})"
    )


def _seq_norm(query: list[float]) -> float:
    """Euclidean norm via a plain sequential left-to-right Python
    fold — NOT ``np.dot``, whose pairwise/SIMD summation order can
    differ by 1 ULP from the engines' sequential ``list_sum`` /
    ``aggregate`` folds; at a round-8 half-way boundary that 1 ULP
    would flip the contract value-hash (ADVICE r12)."""
    import math

    return float(math.sqrt(sum(float(x) * float(x) for x in query)))


def _norm(vec_col: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(vec_col, lambda x: x.cast("double") * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query``. Deterministic
    tie-break on id."""
    emb = spread(emb)
    cos = F.expr(_cos_sql(vec_col, query))
    return (
        emb.select(F.col(id_col), F.round(cos, 8).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk_sql(
    table: str, query: list[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    qlist = "[" + ", ".join(repr(float(x)) for x in query) + "]"
    # mirror the Spark float->double arithmetic: cast elements to double
    return f"""
SELECT {id_col},
  round(list_sum(list_transform(list_zip({vec_col}, {qlist}),
        x -> x[1]::DOUBLE * x[2]::DOUBLE))
    / (sqrt(list_sum(list_transform({vec_col}, x -> x::DOUBLE * x::DOUBLE)))
       * sqrt(list_sum(list_transform({qlist}::DOUBLE[], x -> x * x)))), 8) AS cosine
FROM {table}
ORDER BY cosine DESC, {id_col}
LIMIT {k}
"""


def bucketed_ann(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: random-hyperplane bucket of the query
    (plus all 1-bit-flip probe buckets) filtered first, then exact
    cosine within. Deterministic given ``seed``."""
    dim = len(query)
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_planes, dim))
    qsig = sum((1 << p) for p in range(n_planes) if float(planes[p] @ np.asarray(query)) >= 0)
    # multiprobe: query bucket plus every bucket within hamming
    # distance 2 — trades a wider (still tiny) probe set for recall
    probes = [qsig] + [qsig ^ (1 << p) for p in range(n_planes)] + [
        qsig ^ (1 << p) ^ (1 << q)
        for p in range(n_planes)
        for q in range(p + 1, n_planes)
    ]
    emb = spread(emb)
    sig: Column | None = None
    for p in range(n_planes):
        dot = _dot_with_literal(vec_col, [float(x) for x in planes[p]])
        bit = F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    cos = F.expr(_cos_sql(vec_col, query))
    return (
        emb.withColumn("_bucket", sig)
        .filter(F.col("_bucket").isin(probes))
        .select(F.col(id_col), F.round(cos, 8).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def int_planes(n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """Integer random hyperplanes (entries uniform in [-31, 31]) from
    ``seed`` alone — the ENGINE-NEUTRAL variant of the hyperplane
    family: with integer plane entries and integer-quantized vectors
    the signature dot products are exact BIGINT sums, so the bucket of
    every row is bit-identical on Spark, DuckDB, numpy, anything —
    no float-summation-order sign flips at the decision boundary
    (the same trick that made the simhash oracle hash-exact:
    ``dedup.simhash_near_dups_sql``)."""
    rng = np.random.default_rng(seed)
    return rng.integers(-31, 32, size=(n_planes, dim))


#: quantization scale for engine-neutral signatures. A power of two:
#: float32 -> double widening is exact and multiplying a double by
#: 1024 only shifts the exponent, so floor(x * 1024) is the SAME
#: integer in Python, the JVM and DuckDB — no rounding-mode or
#: summation-order hazard anywhere in the signature arithmetic.
LSH_QUANT = 1024


def _quantized(vec_col: Column, quant: int = LSH_QUANT) -> Column:
    return F.transform(
        vec_col, lambda x: F.floor(x.cast("double") * quant).cast("long")
    )


def default_n_planes(n_rows: int, target_bucket: int = 1000) -> int:
    """Auto-sized hyperplane count: ~log2(corpus / target_bucket)
    planes keeps the EXPECTED bucket population near ``target_bucket``
    rows. The default (1000) is sized for bucket-local PAIRING
    (``hard_negatives``: ~B^2 = 10^6 products per bucket) and probe
    scans (``lsh_topk``: ~0.1% of the corpus). Floor 6 (the historical
    default: 64 buckets, right for the test tables), cap 24 (16.7M
    buckets — past that the per-bucket constant costs dominate). A
    misconfigured call on a 10^8-row corpus therefore gets ~17 planes
    instead of 6's B^2-quadratic blowup (ADVICE r12 task 4).

    SERVING indexes want much smaller buckets (round 14, measured):
    batch-ANN cost is the bucket join's candidate dots —
    ~n_probes x E[bucket] per query — so an index meant for
    :func:`lsh_topk_batch_from_index` / :func:`knn_graph` should pass
    ``target_bucket`` ~ 24-64: the same 1,000-query batch measured
    2.5 s on a 13-plane (E[bucket] ~ 24) 200k index vs 28 s on the
    pairing-sized default (~780/bucket) — 11x, identical result rows
    (cost-ball probing is exact rescoring either way; only recall of
    TRUE neighbors outside the probed buckets is affected, and the
    planted-family stress holds recall 1.00 at 13 planes)."""
    import math

    if n_rows <= target_bucket:
        return 6
    return max(6, min(24, math.ceil(math.log2(n_rows / target_bucket))))


def _emb_stats(
    emb: DataFrame, vec_col: str, *, need_n: bool, need_dim: bool
) -> tuple[int | None, int | None]:
    """Fetch whichever of (row count, vector dim) the caller did not
    supply with AT MOST ONE job — fused into a single aggregate when
    both are missing (the old per-call ``.first()`` dim probe was its
    own driver job even when an auto-planes count was about to run
    anyway; r12 verdict task 8). Zero jobs when neither is needed."""
    if not (need_n or need_dim):
        return None, None
    if need_dim and not need_n:
        row = emb.select(F.size(F.col(vec_col)).alias("_d")).filter(
            F.col("_d").isNotNull()
        ).first()
        if row is None:
            raise ValueError(
                "cannot infer the vector dimension from an empty frame "
                "or all-null vectors — pass dim= explicitly"
            )
        return None, int(row["_d"])
    aggs = [F.count(F.lit(1)).alias("_n")]
    if need_dim:
        aggs.append(
            F.first(F.size(F.col(vec_col)), ignorenulls=True).alias("_d")
        )
    row = emb.agg(*aggs).first()
    n = int(row["_n"])
    if need_dim:
        if row["_d"] is None:
            raise ValueError(
                "cannot infer the vector dimension from an empty frame "
                "or all-null vectors — pass dim= explicitly"
            )
        return n, int(row["_d"])
    return n, None


def lsh_probe_masks(
    query: list[float],
    n_planes: int = 6,
    seed: int = 42,
    n_probes: int = 16,
    max_flips: int | None = None,
) -> tuple[int, list[int]]:
    """Query-directed multi-probe flip masks (Lv et al., "Multi-Probe
    LSH", VLDB'07 — public algorithm): the query's home signature plus
    the ``n_probes - 1`` cheapest sign-flip sets, where a flip set's
    cost is the sum of the flipped planes' |margin| — the EXACT BIGINT
    dot products of the quantized query with each integer plane, so
    the mask list is bit-identical on any engine and the DuckDB twin
    inherits it as literals. Returns (home_signature, xor_masks) with
    masks[0] == 0 and costs non-decreasing; ``max_flips`` bounds the
    flips per probe (default: unbounded). Driver cost: a heap
    expansion over at most ``n_probes`` subsets — microseconds."""
    import heapq

    planes = int_planes(n_planes, len(query), seed)
    qq = [int(np.floor(float(x) * LSH_QUANT)) for x in query]
    qsig = 0
    margins: list[int] = []
    for p, row in enumerate(planes):
        d = sum(int(v) * q for v, q in zip(row, qq))
        if d >= 0:
            qsig |= 1 << p
        margins.append(abs(d))
    if max_flips is None:
        max_flips = n_planes
    masks = [0]
    if n_planes == 0 or n_probes <= 1 or max_flips <= 0:
        return qsig, masks
    # planes ordered by flip cost; perturbation sets expand in
    # ascending total cost via the standard extend/shift successors
    order = sorted(range(n_planes), key=lambda p: (margins[p], p))
    costs = [margins[p] for p in order]
    heap: list[tuple[int, tuple[int, ...]]] = [(costs[0], (0,))]
    while heap and len(masks) < n_probes:
        c, s = heapq.heappop(heap)
        if len(s) <= max_flips:
            masks.append(sum(1 << order[i] for i in s))
        j = s[-1]
        if j + 1 < n_planes:
            if len(s) < max_flips:
                heapq.heappush(heap, (c + costs[j + 1], s + (j + 1,)))
            heapq.heappush(
                heap, (c - costs[j] + costs[j + 1], s[:-1] + (j + 1,))
            )
    return qsig, masks


def costball_threshold(margins: list[int], n_probes: int) -> int:
    """The ``n_probes``-th smallest TOTAL FLIP COST over all flip
    sets of the given per-plane |margins| (the empty set, cost 0, is
    the first). Pure-cost order — ties share a cost, so the value is
    order-independent and identical however either engine enumerates.
    Uses the same extend/shift heap as :func:`lsh_probe_masks`
    (O(n_probes log) — never enumerates 2^n), so it works at any
    plane count."""
    import heapq

    n = len(margins)
    if n_probes <= 1 or n == 0:
        return 0
    order = sorted(range(n), key=lambda p: (margins[p], p))
    costs = [margins[p] for p in order]
    heap: list[tuple[int, tuple[int, ...]]] = [(costs[0], (0,))]
    seen = 1  # the empty set
    last = 0
    while heap and seen < n_probes:
        c, s = heapq.heappop(heap)
        seen += 1
        last = c
        j = s[-1]
        if j + 1 < n:
            heapq.heappush(heap, (c + costs[j + 1], s + (j + 1,)))
            heapq.heappush(
                heap, (c - costs[j] + costs[j + 1], s[:-1] + (j + 1,))
            )
    return last


def lsh_topk_costball(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    seed: int = 42,
    n_probes: int = 16,
) -> DataFrame:
    """COST-BALL multi-probe LSH top-k — the CONTRACT-ORACLE-ABLE
    formulation of query-directed probing: probe every bucket whose
    total flip cost (sum of the flipped planes' exact-BIGINT
    |margins|) is <= T, where T is the ``n_probes``-th smallest flip
    cost over all flip sets (:func:`costball_threshold`). Unlike the
    mask-list form (:func:`lsh_topk_multiprobe`, whose masks need the
    query VALUES at SQL-generation time), every ingredient here —
    margins, home signature, T — is integer arithmetic a
    SELF-CONTAINED oracle can recompute from the stored query row, so
    :func:`lsh_topk_costball_sql` needs no data at generation time
    and the driver hash-check is exact. Semantics: a superset of the
    top-``n_probes`` mask probe only when several flip sets tie at
    exactly T (both engines include the ties identically). Plan: one
    narrow scan, signature + per-row flip cost (pure codegen),
    TakeOrdered."""
    planes = int_planes(n_planes, len(query), seed)
    qq = [int(np.floor(float(x) * LSH_QUANT)) for x in query]
    qsig = 0
    margins: list[int] = []
    for p, row in enumerate(planes):
        d = sum(int(v) * q for v, q in zip(row, qq))
        if d >= 0:
            qsig |= 1 << p
        margins.append(abs(d))
    t = costball_threshold(margins, n_probes)
    emb = spread(emb)
    bucket = _sig_col(vec_col, planes)
    flip_cost: Column = F.lit(0).cast("long")
    for p in range(n_planes):
        qbit = (qsig >> p) & 1
        bit = F.shiftright(F.col("_bucket"), p).bitwiseAND(F.lit(1))
        flip_cost = flip_cost + F.when(
            bit != F.lit(qbit), F.lit(int(margins[p]))
        ).otherwise(F.lit(0))
    cos = F.expr(_cos_sql(vec_col, query))
    return (
        emb.withColumn("_bucket", bucket)
        .filter(flip_cost <= F.lit(int(t)))
        .select(F.col(id_col), F.round(cos, 8).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def lsh_topk_costball_sql(
    table: str,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    seed: int = 42,
    n_probes: int = 16,
    dim: int = 64,
    query_pred: str = "vec_id = 0",
) -> str:
    """DuckDB twin of :func:`lsh_topk_costball`, SELF-CONTAINED: the
    query row's margins/signature come from the stored vector via the
    same integer planes, and the threshold T enumerates all
    2^``n_planes`` flip sets with ``generate_series`` (64 rows at the
    contract's 6 planes; keep ``n_planes`` <= 16 on this side) and
    takes the ``n_probes``-th smallest cost — the same value the
    Python heap computes, because pure cost order is tie-stable. The
    OFFSET is clamped to the 2^``n_planes`` flip-set population
    (ADVICE r13): when ``n_probes`` exceeds it, the Python side's heap
    exhausts and falls back to the maximum flip cost (probe every
    bucket) — the clamped OFFSET lands on that same maximum, where the
    unclamped spelling returned an EMPTY thr CTE and the cross join
    silently produced zero rows."""
    planes = int_planes(n_planes, dim, seed)
    quant = (
        f"list_transform({vec_col}, "
        f"x -> CAST(floor(x::DOUBLE * {LSH_QUANT}) AS BIGINT))"
    )

    def dot(row) -> str:
        lit = "[" + ",".join(str(int(v)) for v in row) + "]"
        return (
            f"list_sum(list_transform(list_zip(iq, {lit}::BIGINT[]), "
            "x -> x[1] * x[2]))"
        )

    margin_cols = ", ".join(
        f"abs({dot(planes[p])}) AS m{p}" for p in range(n_planes)
    )
    mask_cost = " + ".join(
        f"(CASE WHEN (t.m >> {p}) & 1 = 1 THEN q.m{p} ELSE 0 END)"
        for p in range(n_planes)
    )
    row_cost = " + ".join(
        f"(CASE WHEN ((s.bucket >> {p}) & 1) <> ((q.qbucket >> {p}) & 1)"
        f" THEN q.m{p} ELSE 0 END)"
        for p in range(n_planes)
    )
    bucket = _sql_bucket(planes, "iq")
    return f"""
WITH rows_q AS (
  SELECT {id_col}, {vec_col}, {quant} AS iq FROM {table}
),
sigs AS (
  SELECT {id_col}, {vec_col}, ({bucket}) AS bucket FROM rows_q
),
qrow AS (
  SELECT {vec_col} AS qe, {quant} AS iq FROM {table} WHERE {query_pred}
),
qm AS (
  SELECT qe, ({bucket}) AS qbucket, {margin_cols} FROM qrow
),
thr AS (
  SELECT ({mask_cost}) AS cost
  FROM generate_series(0, {(1 << n_planes) - 1}) AS t(m), qm q
  ORDER BY cost LIMIT 1 OFFSET {min(n_probes, 1 << n_planes) - 1}
)
SELECT s.{id_col} AS {id_col},
  round(list_sum(list_transform(list_zip(s.{vec_col}, q.qe),
        x -> x[1]::DOUBLE * x[2]::DOUBLE))
    / (sqrt(list_sum(list_transform(s.{vec_col}, x -> x::DOUBLE * x::DOUBLE)))
       * sqrt(list_sum(list_transform(q.qe, x -> x::DOUBLE * x::DOUBLE)))), 8)
    AS cosine
FROM sigs s, qm q, thr
WHERE ({row_cost}) <= thr.cost
ORDER BY cosine DESC, {id_col}
LIMIT {k}
"""


def lsh_topk_multiprobe(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    seed: int = 42,
    n_probes: int = 16,
    max_flips: int | None = None,
) -> DataFrame:
    """Multi-probe LSH top-k: probe the home bucket plus the
    lowest-|margin| flip buckets (:func:`lsh_probe_masks`) instead of
    every hamming<=2 neighbor — recall concentrates in the buckets the
    query ALMOST hashed to, so the same probe budget buys more recall
    than blind hamming enumeration (the r12 stress point read
    recall@10 0.60; this tier targets >=0.8 at <=2x the query time —
    SCALE.md records the numbers). ``n_planes=None``
    auto-sizes from a corpus count (:func:`default_n_planes`). Same
    engine-neutral integer signatures as :func:`lsh_topk`; the DuckDB
    twin :func:`lsh_topk_multiprobe_sql` reproduces the row set
    bit-for-bit. Plan shape: one narrow scan, integer signature, an
    IN-list bucket filter, exact round-8 rescoring, TakeOrdered —
    no shuffle beyond the k-row ordering."""
    if n_planes is None:
        n, _ = _emb_stats(emb, vec_col, need_n=True, need_dim=False)
        n_planes = default_n_planes(n)
    planes = int_planes(n_planes, len(query), seed)
    qsig, masks = lsh_probe_masks(query, n_planes, seed, n_probes, max_flips)
    emb = spread(emb)
    cos = F.expr(_cos_sql(vec_col, query))
    return (
        emb.withColumn("_bucket", _sig_col(vec_col, planes))
        .filter(F.col("_bucket").isin([qsig ^ m for m in masks]))
        .select(F.col(id_col), F.round(cos, 8).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def lsh_topk_multiprobe_sql(
    table: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    seed: int = 42,
    n_probes: int = 16,
    max_flips: int | None = None,
) -> str:
    """DuckDB twin of :func:`lsh_topk_multiprobe`: the same probe
    masks (computed once here, shared as literals — they are exact
    integers, so there is nothing engine-specific to re-derive), the
    same integer signatures, the same round-8 cosine and (cosine desc,
    id) tie-break — the value-hash comparison is exact."""
    planes = int_planes(n_planes, len(query), seed)
    qsig, masks = lsh_probe_masks(query, n_planes, seed, n_probes, max_flips)
    buckets = ", ".join(str(qsig ^ m) for m in masks)
    quant = (
        f"list_transform({vec_col}, "
        f"x -> CAST(floor(x::DOUBLE * {LSH_QUANT}) AS BIGINT))"
    )
    qlist = "[" + ", ".join(repr(float(x)) for x in query) + "]"
    return f"""
WITH sigs AS (
  SELECT {id_col}, {vec_col}, ({_sql_bucket(planes, "iq")}) AS bucket
  FROM (SELECT *, {quant} AS iq FROM {table})
)
SELECT {id_col},
  round(list_sum(list_transform(list_zip({vec_col}, {qlist}),
        x -> x[1]::DOUBLE * x[2]::DOUBLE))
    / (sqrt(list_sum(list_transform({vec_col}, x -> x::DOUBLE * x::DOUBLE)))
       * sqrt(list_sum(list_transform({qlist}::DOUBLE[], x -> x * x)))), 8)
    AS cosine
FROM sigs
WHERE bucket IN ({buckets})
ORDER BY cosine DESC, {id_col}
LIMIT {k}
"""


def _int_sig(qvec: Column, planes: np.ndarray) -> Column:
    """Signature of an integer-quantized vector column: bit p set when
    the exact integer dot with plane p is >= 0."""
    sig: Column | None = None
    for p, row in enumerate(planes):
        arr = F.array(*[F.lit(int(v)) for v in row])
        dot = F.aggregate(
            F.zip_with(qvec, arr, lambda x, y: x * y.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bit = F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return sig


def _sig_col(vec_col: str, planes: np.ndarray) -> Column:
    """``_int_sig(_quantized(F.col(vec_col)), planes)`` built as ONE
    ``F.expr`` SQL string — one py4j round trip instead of
    ~n_planes x dim ``F.lit`` calls (measured ~5x faster construction
    at 6x64; r17 optimization round). Bit-identical: the same exact
    BIGINT quantize/dot/threshold arithmetic, per plane, in the same
    order (equality with the Column spelling is test-pinned)."""
    quant = (
        f"transform({bt(vec_col)}, "
        f"x -> CAST(floor(CAST(x AS DOUBLE) * {LSH_QUANT}) AS BIGINT))"
    )
    parts = []
    for p, row in enumerate(planes):
        arr = "array(" + ",".join(f"{int(v)}L" for v in row) + ")"
        dot = (
            f"aggregate(zip_with({quant}, {arr}, (x, y) -> x * y), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
        parts.append(f"(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)")
    return F.expr(" + ".join(parts))


def lsh_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = 6,
    seed: int = 42,
    max_hamming: int = 2,
) -> DataFrame:
    """Hyperplane-LSH approximate top-k with ENGINE-NEUTRAL buckets:
    rows whose integer signature is within ``max_hamming`` bit flips
    of the query's are rescored by exact cosine (round 8), top ``k``
    with an id tie-break. Semantically :func:`bucketed_ann` (the
    hamming<=2 filter IS the query-bucket + 1-flip + 2-flip multiprobe
    set), but the signature arithmetic is exact integers end to end,
    so :func:`lsh_topk_sql` reproduces the row set bit-for-bit — the
    contract twin the driver hash-checks. One narrow scan: quantize
    once, 6 integer dots, bit_count filter, TakeOrdered — all JVM, no
    shuffle beyond the k-row ordering. ``n_planes=None`` auto-sizes
    from a corpus count (:func:`default_n_planes`; one extra job) —
    twin-checked callers pass it explicitly so both engines agree."""
    if n_planes is None:
        n, _ = _emb_stats(emb, vec_col, need_n=True, need_dim=False)
        n_planes = default_n_planes(n)
    planes = int_planes(n_planes, len(query), seed)
    qq = [int(np.floor(float(x) * LSH_QUANT)) for x in query]
    qsig = 0
    for p, row in enumerate(planes):
        if sum(int(v) * q for v, q in zip(row, qq)) >= 0:
            qsig |= 1 << p
    emb = spread(emb)
    cos = F.expr(_cos_sql(vec_col, query))
    return (
        emb.withColumn("_bucket", _sig_col(vec_col, planes))
        .filter(
            F.bit_count(F.lit(qsig).bitwiseXOR(F.col("_bucket")))
            <= max_hamming
        )
        .select(F.col(id_col), F.round(cos, 8).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def lsh_topk_sql(
    table: str,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    seed: int = 42,
    max_hamming: int = 2,
    dim: int = 64,
    query_pred: str = "vec_id = 0",
) -> str:
    """DuckDB twin of :func:`lsh_topk` for a query vector selected by
    ``query_pred`` — same seeded integer planes (``dim`` must match
    the table's vector width), same exact-integer signatures, same
    hamming filter and round-8 cosine rescoring, so the driver's
    value-hash comparison is exact, not recall-approximate."""
    planes = int_planes(n_planes, dim, seed)
    bucket = _sql_bucket(planes, "iq")
    quant = (
        f"list_transform({vec_col}, "
        f"x -> CAST(floor(x::DOUBLE * {LSH_QUANT}) AS BIGINT))"
    )
    return f"""
WITH rows_q AS (
  SELECT {id_col}, {vec_col}, {quant} AS iq FROM {table}
),
sigs AS (
  SELECT {id_col}, {vec_col}, ({bucket}) AS bucket FROM rows_q
),
qrow AS (
  SELECT {vec_col} AS qe, {quant} AS iq FROM {table} WHERE {query_pred}
),
qsig AS (
  SELECT qe, ({bucket}) AS qbucket FROM qrow
)
SELECT s.{id_col} AS {id_col},
  round(list_sum(list_transform(list_zip(s.{vec_col}, qe),
        x -> x[1]::DOUBLE * x[2]::DOUBLE))
    / (sqrt(list_sum(list_transform(s.{vec_col}, x -> x::DOUBLE * x::DOUBLE)))
       * sqrt(list_sum(list_transform(qe, x -> x::DOUBLE * x::DOUBLE)))), 8)
    AS cosine
FROM sigs s, qsig
WHERE bit_count(xor(s.bucket, qbucket)) <= {max_hamming}
ORDER BY cosine DESC, {id_col}
LIMIT {k}
"""


def _sql_bucket(planes: np.ndarray, iq: str = "iq") -> str:
    """DuckDB expression for the integer-plane signature of a
    quantized BIGINT list column ``iq`` — shared by the LSH twin and
    the hard-negative twin."""

    def dot(row: np.ndarray) -> str:
        lit = "[" + ",".join(str(int(v)) for v in row) + "]"
        return (
            f"list_sum(list_transform(list_zip({iq}, {lit}::BIGINT[]), "
            "x -> x[1] * x[2]))"
        )

    return " + ".join(
        f"(CASE WHEN {dot(planes[p])} >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(len(planes))
    )


def hard_negatives(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str | None = None,
    n_planes: int | None = None,
    seed: int = 42,
    dim: int | None = None,
    method: str = "fold",
) -> DataFrame:
    """Per-row HARD NEGATIVES for contrastive training data: for every
    vector, the ``k`` most-cosine-similar OTHER rows — optionally
    excluding rows sharing ``group_col`` (the positive class/source,
    which would be false negatives). Returns (id_col, neg_id, cosine)
    with ``k`` rows per anchor (fewer when its bucket runs dry).

    Candidates are BUCKET-LOCAL: rows pair only within their integer
    hyperplane-LSH signature bucket (:func:`int_planes` — the same
    engine-neutral exact-integer arithmetic as :func:`lsh_topk`, so
    the DuckDB twin :func:`hard_negatives_sql` reproduces the output
    bit-for-bit), never all-pairs. The per-anchor top-k is one
    row_number window over the candidate pairs.

    Scale: bucket population drives cost — a bucket of B rows
    generates B^2 candidate pairs, so ``n_planes`` must track the
    corpus. The default (``None``, round 13) AUTO-SIZES via
    :func:`default_n_planes` (≈ log2(n / 1000): 6 planes = 64 buckets
    for the test tables, ~17 for a 10^8-row corpus — a misconfigured
    call can no longer go B^2-quadratic); pass it explicitly when a
    DuckDB twin must agree on the buckets. The count and the
    ``dim`` probe share ONE fused job (:func:`_emb_stats`) — with
    both supplied, construction runs zero jobs. The window and the
    self-join share the one bucket-key shuffle; misses (true neighbors
    hashed to another bucket) soften recall, which is the standard
    LSH-kNN-graph trade.

    ``method``: 'fold' (default) scores pairs with the JVM zip_with
    fold — the arithmetic the DuckDB twin spells out, the contract
    path. 'gemm' computes each bucket's cosine submatrix with ONE
    numpy GEMM per bucket (Arrow ``applyInPandas``) — the same
    round-8 values in practice (pinned equal to 'fold' by test; the
    `embedding_near_dups_exact` precedent: a per-pair interpreted
    fold measures ~40x slower than the blocked GEMM), at B^2-doubles
    peak task memory per bucket (~1k-row buckets = 8 MB) — the scale
    path."""
    if method not in ("fold", "gemm"):
        raise ValueError(f"unknown method {method!r}: 'fold' or 'gemm'")
    n, d = _emb_stats(
        emb, vec_col, need_n=n_planes is None, need_dim=dim is None
    )
    if dim is None:
        dim = d
    if n_planes is None:
        n_planes = default_n_planes(n)
    if method == "gemm":
        return _hard_negatives_gemm(
            emb, k, id_col, vec_col, group_col, n_planes, seed, dim
        )
    planes = int_planes(n_planes, dim, seed)
    sig = _sig_col(vec_col, planes)
    keep = [id_col, vec_col] + ([group_col] if group_col else [])
    # norm computed ONCE per row, before the join — the naive per-pair
    # norm would redo the 64-element reduction candidate-count times
    # per row (bit-identical values either way: same ops, same order,
    # so the DuckDB twin's per-pair spelling still hash-matches)
    sigs = (
        emb.select(*keep)
        .withColumn("_hn_b", sig)
        .withColumn("_hn_n", F.expr(_norm_sql(vec_col)))
    )
    a = sigs.select(
        F.col(id_col).alias("_a_id"),
        F.col(vec_col).alias("_a_v"),
        F.col("_hn_n").alias("_a_n"),
        *([F.col(group_col).alias("_a_g")] if group_col else []),
        "_hn_b",
    )
    b = sigs.select(
        F.col(id_col).alias("_b_id"),
        F.col(vec_col).alias("_b_v"),
        F.col("_hn_n").alias("_b_n"),
        *([F.col(group_col).alias("_b_g")] if group_col else []),
        "_hn_b",
    )
    cond = a["_hn_b"] == b["_hn_b"]
    pairs = a.join(b, cond).filter(F.col("_a_id") != F.col("_b_id"))
    if group_col:
        # a NULL group matches NOTHING — an unknown positive class
        # excludes no candidates (eqNullSafe would be wrong here: it
        # makes two NULL-group rows exclude each other)
        pairs = pairs.filter(
            F.col("_a_g").isNull()
            | F.col("_b_g").isNull()
            | (F.col("_a_g") != F.col("_b_g"))
        )
    dot = F.aggregate(
        F.zip_with(
            F.col("_a_v"), F.col("_b_v"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = F.round(dot / (F.col("_a_n") * F.col("_b_n")), 8)
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("cosine").desc(), F.col("neg_id")
    )
    return (
        pairs.select(
            F.col("_a_id").alias(id_col),
            F.col("_b_id").alias("neg_id"),
            cos.alias("cosine"),
        )
        .withColumn("_hn_rn", F.row_number().over(w))
        .filter(F.col("_hn_rn") <= k)
        .drop("_hn_rn")
    )


def _hard_negatives_gemm(
    emb: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    group_col: str | None,
    n_planes: int,
    seed: int,
    dim: int | None,
) -> DataFrame:
    """GEMM scoring for :func:`hard_negatives`: one bucket = one
    Arrow group = one numpy cosine submatrix; per-anchor top-k with
    the same (round-8 cosine desc, neg_id) order. Dot-then-divide
    mirrors the fold's structure (sum of products / norm product), so
    round-8 values coincide with the fold path (pinned by test)."""
    n, d = _emb_stats(
        emb, vec_col, need_n=n_planes is None, need_dim=dim is None
    )
    if dim is None:
        dim = d
    if n_planes is None:
        n_planes = default_n_planes(n)
    planes = int_planes(n_planes, dim, seed)
    keep = [id_col, vec_col] + ([group_col] if group_col else [])
    sigs = emb.select(*keep).withColumn(
        "_hn_b", _sig_col(vec_col, planes)
    )
    has_group = group_col is not None
    kk = k
    # derive the output id type from the INPUT schema — hardcoding
    # 'long' made method='gemm' error at runtime for the string/int id
    # columns the fold path supports (ADVICE r12)
    id_type = emb.schema[id_col].dataType.simpleString()

    from decimal import ROUND_HALF_UP, Decimal

    q8 = Decimal("1e-8")

    def _round8(v: float) -> float:
        # Spark's round(d, 8): BigDecimal on the shortest round-trip
        # decimal, HALF_UP — np.round's scaled-rint can disagree at
        # representation-error tie crossings (r17 optimization round:
        # this path is now BIT-IDENTICAL to the fold, so the contract
        # entry can use it)
        return float(
            Decimal(repr(float(v))).quantize(q8, rounding=ROUND_HALF_UP)
        )

    def compute(key, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {id_col: pdf[id_col].iloc[:0],
                 "neg_id": pdf[id_col].iloc[:0],
                 "cosine": pd.Series(dtype="float64")}
            )
        m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        # dots and norms accumulate DIMENSION-MAJOR — vectorized
        # across pairs, sequential across dims: exactly the JVM
        # fold's left-to-right `acc + x_k*y_k` order, so every
        # unrounded double matches the zip_with spelling bit for bit
        # (a plain GEMM's pairwise summation can differ by 1 ULP)
        nrm = np.zeros(len(m))
        dots = np.zeros((len(m), len(m)))
        for _k in range(m.shape[1]):
            nrm = nrm + m[:, _k] * m[:, _k]
            dots = dots + np.outer(m[:, _k], m[:, _k])
        nrm = np.sqrt(nrm)
        cos = dots / np.outer(nrm, nrm)
        ids = pdf[id_col].to_numpy()
        allowed = ~np.eye(len(ids), dtype=bool)
        if has_group:
            g = pdf[group_col].to_numpy()
            both = g[:, None] == g[None, :]
            # NULL groups exclude nothing (match the fold's NULL-safe
            # predicate: a NULL never equals anything)
            isnull = pd.isna(pdf[group_col]).to_numpy()
            both &= ~(isnull[:, None] | isnull[None, :])
            allowed &= ~both
        out_a, out_b, out_c = [], [], []
        for i in range(len(ids)):
            cand = np.nonzero(allowed[i])[0]
            if not len(cand):
                continue
            c = cos[i, cand]
            # top-k must order by the ROUNDED cosine (ties broken by
            # id), and rounding only reorders values within 1e-8 of
            # each other — so exact-round just the candidates at or
            # above (k-th largest unrounded - 2e-8), a k-plus-ties
            # sized set, never the whole bucket (keeps the per-bucket
            # cost O(B) Decimal calls at any scale)
            if len(c) > kk:
                kth = np.partition(c, len(c) - kk)[len(c) - kk]
            else:
                kth = c.min()
            sel = np.flatnonzero(c >= kth - 2e-8)
            ranked = sorted(
                ((_round8(c[j]), ids[cand[j]]) for j in sel),
                key=lambda t: (-t[0], t[1]),
            )[:kk]
            out_a.extend([ids[i]] * len(ranked))
            out_b.extend(r[1] for r in ranked)
            out_c.extend(r[0] for r in ranked)
        return pd.DataFrame({id_col: out_a, "neg_id": out_b, "cosine": out_c})

    return sigs.groupBy("_hn_b").applyInPandas(
        compute, f"{id_col} {id_type}, neg_id {id_type}, cosine double"
    )


def hard_negatives_sql(
    table: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str | None = None,
    n_planes: int = 6,
    seed: int = 42,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`hard_negatives` — same integer planes,
    same bucket-local pairing, same round-8 cosine and (cosine desc,
    id) tie-break, so the driver's value-hash comparison is exact."""
    planes = int_planes(n_planes, dim, seed)
    quant = (
        f"list_transform({vec_col}, "
        f"x -> CAST(floor(x::DOUBLE * {LSH_QUANT}) AS BIGINT))"
    )
    gsel = f", {group_col} AS g" if group_col else ""
    # NULL group excludes nothing (IS NOT DISTINCT FROM would make
    # two NULL-group rows exclude each other)
    gpred = (
        "AND NOT (a.g IS NOT NULL AND b.g IS NOT NULL AND a.g = b.g)"
        if group_col else ""
    )
    return f"""
WITH sigs AS (
  SELECT {id_col}, {vec_col}{gsel}, ({_sql_bucket(planes, "iq")}) AS b
  FROM (SELECT *, {quant} AS iq FROM {table})
),
cand AS (
  SELECT a.{id_col} AS {id_col}, b.{id_col} AS neg_id,
    round(list_sum(list_transform(list_zip(a.{vec_col}, b.{vec_col}),
          x -> x[1]::DOUBLE * x[2]::DOUBLE))
      / (sqrt(list_sum(list_transform(a.{vec_col}, x -> x::DOUBLE * x::DOUBLE)))
         * sqrt(list_sum(list_transform(b.{vec_col}, x -> x::DOUBLE * x::DOUBLE)))),
      8) AS cosine
  FROM sigs a JOIN sigs b ON a.b = b.b AND a.{id_col} != b.{id_col}
    {gpred}
)
SELECT {id_col}, neg_id, cosine FROM (
  SELECT *, row_number() OVER (
    PARTITION BY {id_col} ORDER BY cosine DESC, neg_id) AS rn
  FROM cand
) WHERE rn <= {k}
"""


def sample_matrix(
    emb: DataFrame,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """The bounded deterministic training sample both trainers share:
    the ``sample`` smallest rows by xxhash64(id), as a float64 matrix.
    orderBy+limit compiles to TakeOrdered, so at cluster scale this
    ships k rows per partition to the driver, never the table.
    Collect ONCE and pass to train_centroids + pq_train — the ANN
    entry builds both from the same sample, and re-collecting it was
    a measurable fraction of its driver-side build time."""
    rows = (
        emb.select(F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(sample)
        .collect()
    )
    return np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])


def train_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 4096,
    iters: int = 10,
    seed: int = 42,
    sample_rows: np.ndarray | None = None,
) -> np.ndarray:
    """Spherical k-means centroids (unit-norm, cosine objective)
    trained driver-side on a deterministic pseudo-random sample.

    The sample is the ``sample`` smallest rows by xxhash64(id) —
    orderBy+limit compiles to TakeOrdered, so at cluster scale this
    ships k rows per partition to the driver, never the table.
    Lloyd's iterations on <=``sample`` vectors are microseconds; the
    expensive part (assignment of the full table) stays distributed
    in :func:`ivf_assign`."""
    x = (
        sample_matrix(emb, sample, id_col, vec_col)
        if sample_rows is None
        else np.array(sample_rows, dtype=np.float64, copy=True)
    )
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    rng = np.random.default_rng(seed)
    k = min(n_centroids, len(x))
    cent = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(iters):
        sims = x @ cent.T
        assign = np.argmax(sims, axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members) == 0:
                # reseed empty cluster at the globally worst-served point
                cent[c] = x[np.argmin(np.max(sims, axis=1))]
            else:
                m = members.sum(axis=0)
                cent[c] = m / np.linalg.norm(m)
    return cent


def ivf_assign(
    emb: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid's inverted list.

    One narrow pass: an Arrow-batched pandas UDF does a single GEMM
    per batch against the (tiny, closure-captured) centroid matrix.
    At scale this output is the persisted IVF index — written once,
    e.g. ``write_lake(..., partition by list_id)``, so queries prune
    to the probed lists at the directory level."""
    cent = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf("int")
    def nearest_list(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy()).astype(np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        return pd.Series(np.argmax(m @ cent.T, axis=1).astype(np.int32))

    return emb.withColumn("list_id", nearest_list(F.col(vec_col)))


def save_ivf_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 4096,
    seed: int = 42,
) -> np.ndarray:
    """Build and persist an IVF index: centroids (one small parquet)
    plus the assigned table written ``partitionBy(list_id)`` — each
    inverted list is a directory, so a query probing ``n_probe``
    lists scans only those directories (PartitionFilters, no data
    read for unprobed lists). Train once, serve any number of
    queries; re-assignment is the only full-table pass."""
    cent = train_centroids(
        emb, n_centroids, id_col=id_col, vec_col=vec_col,
        sample=sample, seed=seed,
    )
    spark = emb.sparkSession
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cent)],
        "list_id int, centroid array<double>",
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    ivf_assign(spread(emb), cent, vec_col=vec_col).write.mode(
        "overwrite"
    ).partitionBy("list_id").parquet(f"{path}/lists")
    return cent


def load_ivf_index(spark, path: str) -> tuple[np.ndarray, DataFrame]:
    """(centroids, assigned) from :func:`save_ivf_index` — feed both
    into :func:`ivf_topk` to amortize the index across queries."""
    rows = spark.read.parquet(f"{path}/centroids").orderBy("list_id").collect()
    cent = np.stack([np.asarray(r["centroid"], dtype=np.float64) for r in rows])
    return cent, spark.read.parquet(f"{path}/lists")


def ivf_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    sample: int = 4096,
    seed: int = 42,
    assigned: DataFrame | None = None,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: exact cosine within the ``n_probe``
    inverted lists nearest to the query. Deterministic given ``seed``.

    Pass ``assigned``+``centroids`` (from :func:`train_centroids` /
    :func:`ivf_assign`, persisted) to amortize the index across
    queries — the production shape; otherwise both are built inline."""
    if centroids is None:
        centroids = train_centroids(
            emb, n_centroids, id_col=id_col, vec_col=vec_col,
            sample=sample, seed=seed,
        )
    if assigned is None:
        assigned = ivf_assign(spread(emb), centroids, vec_col=vec_col)
    q = np.asarray(query, dtype=np.float64)
    q /= np.linalg.norm(q)
    cent = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    probes = [int(i) for i in np.argsort(-(cent @ q))[:n_probe]]
    cos = F.expr(_cos_sql(vec_col, query))
    return (
        assigned.filter(F.col("list_id").isin(probes))
        .select(F.col(id_col), F.round(cos, 8).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def pq_train(
    emb: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 4096,
    iters: int = 10,
    seed: int = 7,
    sample_rows: np.ndarray | None = None,
) -> np.ndarray:
    """Product-quantization codebooks: split the vector into ``m``
    subspaces and k-means each to ``n_codes`` centroids. Returns
    (m, n_codes, d/m) float64. PQ is the billion-vector memory tool:
    a 64-dim float32 vector (256 B) compresses to m code bytes, so
    the scan side of ANN fits in RAM at scales where raw vectors
    cannot. Trained driver-side on the same bounded deterministic
    TakeOrdered sample as :func:`train_centroids`."""
    x = (
        sample_matrix(emb, sample, id_col, vec_col)
        if sample_rows is None
        else np.asarray(sample_rows, dtype=np.float64)
    )
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, min(n_codes, len(x)), sub))
    for j in range(m):
        xs = x[:, j * sub: (j + 1) * sub]
        k = min(n_codes, len(xs))
        cent = xs[rng.choice(len(xs), size=k, replace=False)]
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(k):
                members = xs[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j] = cent
    return books


def pq_encode(
    emb: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes): nearest-centroid code per subspace — one narrow
    Arrow-batched pass, a GEMM-free argmin per subspace against the
    (tiny, closure-captured) codebooks."""
    books = codebooks.copy()
    m, _, sub = books.shape

    @F.pandas_udf("array<int>")
    def enc(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy()).astype(np.float64)
        out = np.empty((len(x), m), dtype=np.int32)
        for j in range(m):
            xs = x[:, j * sub: (j + 1) * sub]
            d2 = ((xs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j] = np.argmin(d2, axis=1)
        return pd.Series(list(out))

    keep = [c for c in emb.columns if c not in (id_col, vec_col)]
    return emb.select(
        F.col(id_col), *keep, enc(F.col(vec_col)).alias("codes")
    )


def pq_topk(
    codes_df: DataFrame,
    codebooks: np.ndarray,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query builds an
    (m x n_codes) distance table once on the driver; each row's
    approximate squared distance is m table lookups summed — a pure
    JVM expression over the codes array (the table ships as a
    literal array-of-arrays), then TakeOrdered. No vector data is
    read at query time: this is the regime where the raw vectors
    no longer fit anywhere."""
    q = np.asarray(query, dtype=np.float64)
    m, n_codes, sub = codebooks.shape
    table = [
        [
            float(((q[j * sub: (j + 1) * sub] - codebooks[j][c]) ** 2).sum())
            for c in range(n_codes)
        ]
        for j in range(m)
    ]
    # ONE F.expr for the (m x n_codes) literal table: the per-lit
    # F.array/F.lit spelling paid ~2 py4j round trips per entry (128
    # entries at the default geometry) on every construction; _d_lit
    # round-trips each double exactly, so the parsed CreateArray tree
    # is bit-identical (r17 optimization round)
    tab = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(_d_lit(v) for v in row) + ")"
            for row in table
        )
        + ")"
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda code, j: F.element_at(
                F.element_at(tab, j + 1), code + 1
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        codes_df.select(id_col, dist.alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def ivfpq_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    codes_df: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the canonical billion-vector ANN composition — IVF
    lists prune the scan to ``n_probe`` of ``n_centroids`` partitions
    (directory-level when the index is persisted partitionBy
    list_id), and PQ codes make the probed rows m bytes each, scored
    by the ADC lookup-sum. Pass pre-built ``centroids``/``codebooks``
    /``codes_df`` to amortize index construction across queries (the
    codes frame carries (id, list_id, codes))."""
    if centroids is None:
        centroids = train_centroids(
            emb, n_centroids, id_col=id_col, vec_col=vec_col
        )
    if codebooks is None:
        codebooks = pq_train(emb, m, n_codes, id_col=id_col, vec_col=vec_col)
    if codes_df is None:
        # one pass: pq_encode passes non-vector columns through, so
        # the IVF assignment UDF runs once, not assign+join twice
        codes_df = pq_encode(
            ivf_assign(emb, centroids, vec_col=vec_col),
            codebooks, id_col=id_col, vec_col=vec_col,
        )
    q = np.asarray(query, dtype=np.float64)
    qn = q / np.linalg.norm(q)
    cent = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    probe = [int(i) for i in np.argsort(-(cent @ qn))[:n_probe]]
    pruned = codes_df.filter(F.col("list_id").isin(probe))
    return pq_topk(pruned, codebooks, query, k, id_col=id_col)


def project_embeddings(
    df: DataFrame,
    out_dim: int = 16,
    seed: int = 11,
    vec_col: str = "embedding",
    out_col: str = "projected",
    orthonormal: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``out_dim`` — the
    third compression axis of the vector tier (IVF prunes rows, PQ
    compresses bytes, projection shrinks the dimension every stage
    pays for). Distances are preserved within (1 ± eps) with
    eps ~ sqrt(8 ln n / out_dim), no training data needed — the right
    pre-step before LSH bucketing or PQ on very high-dim embeddings.

    The projection matrix derives from ``seed`` alone
    (`numpy.default_rng`, bit-reproducible across platforms), QR-
    orthonormalized by default so projected dot products track
    original cosines up to one global scale. It rides to executors in
    the UDF closure (out_dim x d doubles — KBs); the corpus pass is a
    narrow Arrow-batched GEMM, no shuffle: scale-out is linear
    exactly like `classifier.score_quality`.

    Pass ``dim`` explicitly to skip the input-dimension probe (one
    first() action) — required when the frame may be empty.
    """
    if dim is None:
        row = df.select(vec_col).first()
        if row is None or row[0] is None:
            raise ValueError(
                "cannot infer the input dimension from an empty frame "
                "or a null leading vector — pass dim= explicitly"
            )
        dim = len(row[0])
    rng = np.random.default_rng(seed)
    mat = rng.standard_normal((dim, out_dim))
    if orthonormal:
        if out_dim > dim:
            raise ValueError(f"out_dim {out_dim} > input dim {dim}")
        mat, _ = np.linalg.qr(mat)
    else:
        mat = mat / np.sqrt(out_dim)

    @F.pandas_udf("array<double>")
    def proj(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy())
        out = x @ mat
        return pd.Series(list(out))

    return df.withColumn(out_col, proj(F.col(vec_col)))


def _costball_masks(margins: list[int], n_probes: int,
                    cap: int = 65536) -> list[int]:
    """ALL flip masks whose total cost <= the cost-ball threshold
    (:func:`costball_threshold`) — ties at the threshold included, so
    the set matches exactly what :func:`lsh_topk_costball`'s per-row
    ``flip_cost <= T`` filter admits. Heap expansion in ascending cost
    (never enumerates 2^n); ``cap`` guards the degenerate all-zero-
    margin query (T=0 ties EVERY mask) with a loud error instead of a
    silent blowup."""
    import heapq

    n = len(margins)
    t = costball_threshold(margins, n_probes)
    masks = [0]
    if n == 0 or n_probes <= 1:
        return masks
    order = sorted(range(n), key=lambda p: (margins[p], p))
    costs = [margins[p] for p in order]
    heap: list[tuple[int, tuple[int, ...]]] = [(costs[0], (0,))]
    while heap:
        c, s = heapq.heappop(heap)
        if c > t:
            break
        masks.append(sum(1 << order[i] for i in s))
        if len(masks) > cap:
            raise ValueError(
                f"cost-ball probe set exceeds {cap} buckets — the query "
                "is degenerate (near-zero margins on every plane); use "
                "the single-query lsh_topk_costball scan instead"
            )
        j = s[-1]
        if j + 1 < n:
            heapq.heappush(heap, (c + costs[j + 1], s + (j + 1,)))
            heapq.heappush(
                heap, (c - costs[j] + costs[j + 1], s[:-1] + (j + 1,))
            )
    return masks


def _batch_probe_fn(planes: np.ndarray, n_probes: int,
                    query_id_col: str, bucket_col: str):
    """Shared probe-row generator for the batched ANN family
    (:func:`lsh_topk_batch` / :func:`lsh_topk_batch_from_index` —
    round 14: the two byte-near-identical closures are now one helper
    parameterized on the output bucket column, r13 verdict finding
    #2): explodes each query row into its cost-ball probe-bucket rows.

    The signature/margin arithmetic is ONE exact int64 GEMM per Arrow
    batch (``floor(Q * 1024) @ planes.T``) instead of the r13 per-row
    interpreted-Python fold — bit-identical by construction: plane
    entries lie in [-31, 31] and integer sums are order-independent,
    so every dot is the same exact integer the Python fold produced
    (|dot| <= dim * 31 * max|quantized| — ~2^27 at dim 4096 on
    unit-scale embeddings, far inside int64). This clears the r13
    scale flag: :func:`knn_graph` makes the CORPUS the query set, and
    the fold was the documented ~40x-slower interpreted path over
    every corpus row. The query norm is a float64 ``cumsum`` —
    sequential left-to-right additions, the SAME summation order as
    :func:`_seq_norm`'s Python fold (``np.add.reduce``'s pairwise
    order could differ by 1 ULP and flip a round-8 boundary), pinned
    bit-equal in tests. Only the per-row cost-ball heap stays Python
    (O(n_probes log n_probes) — genuinely tiny)."""
    import pandas as pd

    P = np.asarray(planes, dtype=np.int64)
    shifts = np.arange(P.shape[0], dtype=np.int64)

    def probe_rows(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = pdf["_qv"].tolist()
            Q = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
            D = np.floor(Q * LSH_QUANT).astype(np.int64) @ P.T
            sigs = ((D >= 0).astype(np.int64) << shifts).sum(axis=1)
            margins = np.abs(D)
            norms = np.sqrt(np.square(Q).cumsum(axis=1)[:, -1])
            qids = pdf[query_id_col].tolist()
            out_q, out_b, out_v, out_n = [], [], [], []
            for i in range(len(vecs)):
                qsig = int(sigs[i])
                qn = float(norms[i])
                for m in _costball_masks(margins[i].tolist(), n_probes):
                    out_q.append(qids[i])
                    out_b.append(qsig ^ m)
                    out_v.append(vecs[i])
                    out_n.append(qn)
            yield pd.DataFrame(
                {query_id_col: out_q, bucket_col: out_b, "_qv": out_v,
                 "_qn": out_n}
            )

    return probe_rows


def lsh_topk_batch(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int | None = None,
    seed: int = 42,
    n_probes: int = 16,
    exclude_self: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """BATCHED multi-probe ANN — top-``k`` neighbors for EVERY query
    row in ONE bucket equi-join: the serving shape. A million queries
    against a billion-vector corpus is one join keyed on the integer
    signature, never a million driver-side scans.

    Per-query probe semantics are EXACTLY :func:`lsh_topk_costball`'s
    (flip cost <= the n_probes-th smallest flip-set cost, ties
    included) — pinned by an equivalence test — computed on the QUERY
    side by an Arrow ``mapInPandas`` that explodes each query into its
    probe-bucket rows (queries are the small side; the corpus stays
    pure JVM: one signature projection + the join + exact round-8
    rescoring + a per-query top-k window). ``exclude_self`` drops
    neighbor rows whose corpus id equals the query id (the usual
    corpus-is-also-the-query-set case).

    Returns (query_id_col, id_col, cosine, rank) with rank 1..k per
    query by (cosine desc, id asc).

    Scale shape: ONE corpus shuffle on the bucket key (zero when the
    corpus side comes pre-bucketed — see
    :func:`lsh_topk_batch_from_index`), query side = |queries| x
    ~n_probes tiny probe rows, per-query top-k is one window over
    bucket-local candidates."""
    from pyspark.sql import Window

    n, d = _emb_stats(
        emb, vec_col, need_n=n_planes is None, need_dim=dim is None
    )
    if dim is None:
        dim = d
    if n_planes is None:
        # SERVING-sized buckets (round 14, measured 11x on the 200k
        # 1,000-query stress): batch cost is the bucket join's
        # candidate dots — n_probes x E[bucket] per query — so the
        # auto default targets ~64 rows/bucket, not the B^2
        # pairing shape's ~1000 (see default_n_planes)
        n_planes = default_n_planes(n, target_bucket=64)
    planes = int_planes(n_planes, dim, seed)

    q_in = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qv")
    )
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    # the probe schema reuses the query frame's ACTUAL element type
    # (ADVICE r13): hardcoding array<float> silently truncated
    # array<double> queries to float32 for the dot while _qn kept full
    # precision — a divergence from the documented lsh_topk_costball
    # equivalence for double-typed inputs
    vec_type = queries.schema[vec_col].dataType.simpleString()
    probes = q_in.mapInPandas(
        _batch_probe_fn(planes, n_probes, query_id_col, "_bucket"),
        f"{query_id_col} {qid_type}, _bucket long, "
        f"_qv {vec_type}, _qn double",
    )
    corpus = spread(emb).select(
        F.col(id_col),
        F.col(vec_col).alias("_cv"),
        _sig_col(vec_col, planes).alias("_bucket"),
    ).withColumn("_cn", F.expr(_norm_sql("_cv")))
    dot = F.aggregate(
        F.zip_with(
            F.col("_cv"), F.col("_qv"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # _qn is the PYTHON sequential-fold norm (the same value the
    # single-query scan embeds as a literal), computed once per query;
    # _cn once per corpus row — the per-candidate work is one dot.
    # No dropDuplicates: probe buckets are qsig^m for DISTINCT masks,
    # so a corpus row joins each query at most once by construction.
    cos = F.round(dot / (F.col("_cn") * F.col("_qn")), 8)
    cand = probes.join(corpus, "_bucket")
    if exclude_self:
        cand = cand.filter(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        cand.select(
            F.col(query_id_col), F.col(id_col), cos.alias("cosine")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_topk_batch_from_index(
    spark,
    table: str,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_probes: int = 16,
    exclude_self: bool = True,
) -> DataFrame:
    """:func:`lsh_topk_batch` against a PERSISTED
    :func:`incremental.save_embedding_index` table — the corpus side
    reads straight from its buckets (bucketed on the signature), so a
    query batch costs one day-sized shuffle of probe rows and zero
    corpus movement. The planes come from the table's stored
    (n_planes, seed) constants."""
    from pyspark.sql import Window

    base = spark.table(table)
    # ONE metadata probe: stored constants + dim in a single row read
    # (r13 verdict finding #3 — the separate .first() calls were two
    # driver jobs for one row's worth of metadata)
    meta = base.select(
        "n_planes", "seed", F.size("embedding").alias("_d")
    ).filter(F.col("_d").isNotNull()).first()
    if meta is None:
        raise ValueError(f"embedding index {table!r} is empty")
    planes = int_planes(
        int(meta["n_planes"]), int(meta["_d"]), int(meta["seed"])
    )

    qid_type = queries.schema[query_id_col].dataType.simpleString()
    vec_type = queries.schema[vec_col].dataType.simpleString()
    probes = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qv")
    ).mapInPandas(
        _batch_probe_fn(planes, n_probes, query_id_col, "bucket"),
        f"{query_id_col} {qid_type}, bucket long, "
        f"_qv {vec_type}, _qn double",
    )
    # the stored id column carries whatever name the index was built
    # with (embedding_index keeps its id_col) — resolve it rather than
    # assuming the 'vec_id' default (round 15: doc_id-keyed corpus
    # indexes go through here too)
    id_src = id_col if id_col in base.columns else "vec_id"
    corpus = base.select(
        F.col(id_src).alias(id_col),
        F.col("embedding").alias("_cv"),
        "bucket",
    ).withColumn("_cn", F.expr(_norm_sql("_cv")))
    dot = F.aggregate(
        F.zip_with(
            F.col("_cv"), F.col("_qv"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = F.round(dot / (F.col("_cn") * F.col("_qn")), 8)
    cand = probes.join(corpus, "bucket")
    if exclude_self:
        cand = cand.filter(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        cand.select(
            F.col(query_id_col), F.col(id_col), cos.alias("cosine")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_graph(
    emb: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    seed: int = 42,
    n_probes: int = 16,
) -> DataFrame:
    """Approximate k-NN GRAPH of the whole corpus — every row's top-k
    neighbors, the input shape for graph-based dedup/clustering
    (SemDeDup-style pipelines, label propagation): exactly
    :func:`lsh_topk_batch` with the corpus as its own query set and
    self-edges excluded. Returns (id_col as ``src``, id_col as
    ``dst``, cosine, rank). One bucket join at any corpus size.

    Cost model: ~``n_probes`` x expected-bucket-size exact dots per
    row (auto planes hold buckets near 1k rows, so the default is
    ~16k dots/row — row-count-independent per-row work, embarrassingly
    parallel). Tighten ``n_probes`` (or pass more planes) when graph
    recall matters less than throughput."""
    # corpus-as-queries: BOTH join sides are corpus-sized by
    # construction, so the bucket join must never be planned as a
    # broadcast — a stats misestimate (observed at 1M rows behind a
    # lineage-cut LogicalRDD: the planner saw a "small" corpus side
    # and OOM'd the driver building the broadcast table) would ship
    # the whole corpus to every task. The hint pins a shuffle hash
    # join; day-sized query batches that WANT a broadcastable corpus
    # keep it by calling lsh_topk_batch directly.
    hinted = emb.hint("shuffle_hash")
    out = lsh_topk_batch(
        hinted,
        emb.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        k=k, id_col=id_col, vec_col=vec_col,
        n_planes=n_planes, seed=seed, n_probes=n_probes,
        exclude_self=True,
    )
    return out.select(
        F.col("query_id").alias("src"),
        F.col(id_col).alias("dst"),
        "cosine",
        "rank",
    )


def graph_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    seed: int = 42,
    n_probes: int = 16,
) -> DataFrame:
    """Graph-based semantic dedup (round 14): :func:`knn_graph` edges
    above ``threshold`` collapsed by connected components into
    clusters, min-id keeper per cluster — (id_col, keeper_id,
    is_duplicate), the same decision contract as ``exact_dedup`` /
    ``dedup_by_components``, so downstream anti-join filters compose
    unchanged. The SemDeDup-adjacent alternative to
    :func:`semdedup.semantic_dedup` when no k-means index is wanted:
    the kNN graph's cost-ball buckets play the role of clusters, and
    transitive duplicate CHAINS (A~B, B~C but not A~C) still collapse
    — the per-cluster-threshold semdedup path keeps chains apart when
    they land in different k-means cells. Composes directly with
    :func:`textembed.text_embeddings` output for raw text corpora.

    Scale shape: one bucket join for the graph (see knn_graph's cost
    model), edge filter keeps only the duplicate-sized subgraph, and
    components run on THAT (large/small-star rounds on near-dup-sized
    edges, never the corpus)."""
    from cryo_spark.operators import dedup as dedup_mod

    edges = knn_graph(
        emb, k=k, id_col=id_col, vec_col=vec_col,
        n_planes=n_planes, seed=seed, n_probes=n_probes,
    ).filter(F.col("cosine") >= float(threshold)).select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b")
    )
    return dedup_mod.dedup_by_components(emb, edges, id_col=id_col)


def graph_dedup_sql(
    table: str,
    threshold: float = 0.95,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    seed: int = 42,
    n_probes: int = 8,
    dim: int = 64,
    prelude: str = "",
) -> str:
    """DuckDB twin of :func:`graph_dedup` — the whole chain is
    engine-neutral, so the verdict is hash-exact: integer-plane
    signatures and margins (exact BIGINT), the per-ROW cost-ball
    threshold (the ``n_probes``-th smallest flip cost over all
    2^``n_planes`` flip sets, clamped like
    :func:`lsh_topk_costball_sql`), bucket-ball candidate pairs,
    round-8 cosine, the (cosine desc, id) top-``k`` window, the
    ``threshold`` edge filter, and min-reachable-id connected
    components as a recursive CTE (the same closure the ngram
    cluster oracle uses). ``prelude`` injects leading CTEs so
    ``table`` can be a derived frame (e.g. the text-embeddings
    twin). Like :func:`lsh_topk_costball_sql`, the per-row threshold
    enumerates all 2^``n_planes`` flip sets (rows x 2^n intermediate
    rows) — keep ``n_planes`` <= 16 on this side; the Spark side has
    no such bound (its per-row heap never enumerates 2^n)."""
    planes = int_planes(n_planes, dim, seed)
    quant = (
        f"list_transform({vec_col}, "
        f"x -> CAST(floor(x::DOUBLE * {LSH_QUANT}) AS BIGINT))"
    )

    def dot(row) -> str:
        lit = "[" + ",".join(str(int(v)) for v in row) + "]"
        return (
            f"list_sum(list_transform(list_zip(iq, {lit}::BIGINT[]), "
            "x -> x[1] * x[2]))"
        )

    margin_cols = ", ".join(
        f"abs({dot(planes[p])}) AS m{p}" for p in range(n_planes)
    )
    mask_cost = " + ".join(
        f"(CASE WHEN (t.m >> {p}) & 1 = 1 THEN s.m{p} ELSE 0 END)"
        for p in range(n_planes)
    )
    row_cost = " + ".join(
        f"(CASE WHEN ((c.bucket >> {p}) & 1) <> ((q.bucket >> {p}) & 1)"
        f" THEN q.m{p} ELSE 0 END)"
        for p in range(n_planes)
    )
    bucket = _sql_bucket(planes, "iq")
    rn_pick = min(n_probes, 1 << n_planes)
    return f"""
WITH RECURSIVE {prelude}
__gd_rows AS (
  SELECT {id_col} AS id, {vec_col} AS v, {quant} AS iq FROM {table}
),
__gd_sig AS (
  SELECT id, v, ({bucket}) AS bucket, {margin_cols},
    sqrt(list_sum(list_transform(v, x -> x::DOUBLE * x::DOUBLE))) AS nrm
  FROM __gd_rows
),
__gd_thr AS (
  SELECT id, cost AS t FROM (
    SELECT s.id, ({mask_cost}) AS cost,
           row_number() OVER (
             PARTITION BY s.id ORDER BY ({mask_cost})
           ) AS rn
    FROM __gd_sig s, generate_series(0, {(1 << n_planes) - 1}) AS t(m)
  ) WHERE rn = {rn_pick}
),
__gd_cand AS (
  SELECT q.id AS qid, c.id AS cid,
    round(list_sum(list_transform(list_zip(c.v, q.v),
          x -> x[1]::DOUBLE * x[2]::DOUBLE))
      / (c.nrm * q.nrm), 8) AS cosine
  FROM __gd_sig q
  JOIN __gd_thr th ON th.id = q.id
  JOIN __gd_sig c
    ON q.id != c.id AND ({row_cost}) <= th.t
),
__gd_edges AS (
  SELECT qid, cid FROM (
    SELECT qid, cid, cosine,
           row_number() OVER (
             PARTITION BY qid ORDER BY cosine DESC, cid
           ) AS rn
    FROM __gd_cand
  ) WHERE rn <= {k} AND cosine >= {threshold}
),
__gd_und AS (
  SELECT qid AS u, cid AS w FROM __gd_edges
  UNION SELECT cid, qid FROM __gd_edges
),
__gd_reach(u, w) AS (
  SELECT u, w FROM __gd_und
  UNION
  SELECT r.u, e.w FROM __gd_reach r JOIN __gd_und e ON r.w = e.u
),
__gd_comp AS (
  SELECT u AS id, least(u, min(w)) AS component
  FROM __gd_reach GROUP BY u
)
SELECT d.{id_col} AS {id_col},
  coalesce(c.component, d.{id_col}) AS keeper_id,
  d.{id_col} != coalesce(c.component, d.{id_col}) AS is_duplicate
FROM {table} d LEFT JOIN __gd_comp c ON c.id = d.{id_col}
"""


def graph_dedup_from_index(
    spark,
    table: str,
    threshold: float = 0.95,
    k: int = 10,
    id_col: str = "vec_id",
    n_probes: int = 16,
) -> DataFrame:
    """:func:`graph_dedup` served from a persisted
    :func:`incremental.save_embedding_index` table (round 15): the kNN
    edges come from :func:`knn_graph_from_index` — the corpus was
    signed ONCE at index time, so there is no re-featurize/re-sign
    pass over the base, and the bucketed layout keeps the corpus side
    of the bucket join in place (``Bucketed: true``, no Exchange above
    the base scan — plan-pinned). Edge filter + components + min-id
    keepers are exactly the in-memory spelling; output equality with
    :func:`graph_dedup` on the same embeddings/planes is pinned in
    tests. Same (id_col, keeper_id, is_duplicate) contract.

    Scale shape: this is the one-shot full-corpus dedup off a standing
    index; DAILY deltas should not call this (it rescans the whole
    graph) — use `corpus.prepare_corpus_delta(semantic_index_table=)`,
    which probes only the day-sized batch against the same index."""
    from cryo_spark.operators import dedup as dedup_mod

    edges = knn_graph_from_index(
        spark, table, k=k, id_col=id_col, n_probes=n_probes,
    ).filter(F.col("cosine") >= float(threshold)).select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b")
    )
    return dedup_mod.dedup_by_components(
        spark.table(table), edges, id_col=id_col
    )


def knn_graph_from_index(
    spark,
    table: str,
    k: int = 10,
    id_col: str = "vec_id",
    n_probes: int = 16,
) -> DataFrame:
    """:func:`knn_graph` served from a persisted
    :func:`incremental.save_embedding_index` table — corpus read once
    as queries, joined against its own buckets with zero corpus-side
    shuffle (the query/probe side is the only thing that moves)."""
    base = spark.table(table)
    queries = base.select(
        F.col(id_col).alias("query_id"), "embedding"
    )
    out = lsh_topk_batch_from_index(
        spark, table, queries, k=k, id_col=id_col,
        n_probes=n_probes, exclude_self=True,
    )
    return out.select(
        F.col("query_id").alias("src"),
        F.col(id_col).alias("dst"),
        "cosine",
        "rank",
    )

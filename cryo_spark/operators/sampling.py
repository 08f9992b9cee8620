"""Deterministic sampling, split assignment, and data mixing.

A training-data pipeline needs reproducible subsetting: the same doc
must land in the same split/sample on every run, on any cluster, with
no RNG state. Everything here keys off ``md5(seed || id)`` — a pure
column expression both Spark and DuckDB evaluate identically, so every
operator is exactly oracle-checkable.

Scale design (the 100 TB story):
- ``split_assign`` and ``hash_sample`` are pure narrow projections /
  filters — no shuffle, no window, no driver state. A 100 TB corpus is
  split or sampled in the same scan that reads it, and the sampled
  fraction is exact-in-expectation with variance 1/sqrt(n) (at n in
  the billions the realized rate is the requested rate to 4+ digits).
- ``stratified_sample_exact`` gives exact per-stratum counts via a
  window (one shuffle on the stratum key; each stratum must fit a
  task's sort budget) — the small-strata tool, e.g. "exactly 1000 docs
  per language". For web-scale strata use ``hash_sample``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_HEX_DIGITS = 8
_SPACE = 16**_HEX_DIGITS


def _bucket(id_col: str, seed: str) -> Column:
    """First 8 hex chars of md5(seed:id) — a uniform draw in [0, 16^8)
    that string-compares identically in Spark and DuckDB."""
    return F.substring(
        F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))), 1, _HEX_DIGITS
    )


def _bucket_sql(id_expr: str, seed: str) -> str:
    return f"substr(md5(concat('{seed}:', CAST({id_expr} AS VARCHAR))), 1, {_HEX_DIGITS})"


def _threshold(frac: float) -> str:
    """Zero-padded hex threshold t such that P(bucket < t) = frac.
    Clamped to 'ffffffff' — callers special-case frac >= 1.0 with a
    TRUE predicate on both engines, so the clamp never biases."""
    return format(max(0, min(int(round(frac * _SPACE)), _SPACE - 1)), "08x")


def split_assign(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    seed: str = "split0",
) -> DataFrame:
    """Append a ``split`` column ('train'/'val'/... per ``weights``,
    which must sum to 1). Deterministic in (seed, id) only — stable
    under repartitioning, re-runs, and cluster size."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    b = _bucket(id_col, seed)
    expr = None
    cum = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        cum += w
        cond = b < F.lit(_threshold(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def split_assign_sql(
    table: str,
    weights: dict[str, float] | None = None,
    id_expr: str = "doc_id",
    seed: str = "split0",
) -> str:
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    b = _bucket_sql(id_expr, seed)
    items = list(weights.items())
    cases, cum = [], 0.0
    for name, w in items[:-1]:
        cum += w
        cases.append(f"WHEN {b} < '{_threshold(cum)}' THEN '{name}'")
    case = "CASE " + " ".join(cases) + f" ELSE '{items[-1][0]}' END"
    return f"SELECT *, {case} AS split FROM {table}"


def hash_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "sample0",
) -> DataFrame:
    """Per-stratum deterministic sampling by hash threshold — the
    data-mixing primitive (e.g. downsample web text to 30%, keep
    code at 100%). Unlisted strata are dropped. Pure filter: no
    shuffle, exact-in-expectation rates."""
    b = _bucket(id_col, seed)
    cond = None
    for value, frac in fractions.items():
        this = (F.col(strata_col) == value) & (
            F.lit(True) if frac >= 1.0 else (b < F.lit(_threshold(frac)))
        )
        cond = this if cond is None else cond | this
    return df.filter(cond if cond is not None else F.lit(False))


def stratified_sample_exact(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "sample0",
) -> DataFrame:
    """EXACT per-stratum counts: keep floor(frac*count + 0.5) rows per
    stratum, chosen by hash order (deterministic, unbiased). One
    shuffle on the stratum key; count and row_number share the same
    window partitioning so Catalyst plans a single exchange. Each
    stratum sorts within one task — use for strata up to task-sort
    size, hash_sample beyond that."""
    w = Window.partitionBy(strata_col)
    wo = w.orderBy(_bucket(id_col, seed), F.col(id_col))
    frac_expr = None
    for value, frac in fractions.items():
        cond = F.col(strata_col) == value
        frac_expr = (
            F.when(cond, F.lit(frac))
            if frac_expr is None
            else frac_expr.when(cond, F.lit(frac))
        )
    frac_expr = frac_expr.otherwise(F.lit(0.0)) if frac_expr is not None else F.lit(0.0)
    out = (
        df.withColumn("_rn", F.row_number().over(wo))
        .withColumn("_cnt", F.count(F.lit(1)).over(w))
        .filter(F.col("_rn") <= F.floor(frac_expr * F.col("_cnt") + 0.5))
        .drop("_rn", "_cnt")
    )
    return out


def stratified_sample_exact_sql(
    table: str,
    fractions: dict[str, float],
    strata_col: str = "source",
    id_expr: str = "doc_id",
    seed: str = "sample0",
) -> str:
    b = _bucket_sql(id_expr, seed)
    frac_case = (
        "CASE "
        + " ".join(
            f"WHEN {strata_col} = '{v}' THEN {f}" for v, f in fractions.items()
        )
        + " ELSE 0.0 END"
    )
    return f"""
SELECT * EXCLUDE (_rn, _cnt) FROM (
  SELECT *,
    row_number() OVER (PARTITION BY {strata_col} ORDER BY {b}, {id_expr}) AS _rn,
    count(*) OVER (PARTITION BY {strata_col}) AS _cnt
  FROM {table}
) WHERE _rn <= floor({frac_case} * _cnt + 0.5)
"""


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: str = "wsample0",
) -> DataFrame:
    """Exactly-k weighted sample WITHOUT replacement (Efraimidis &
    Spirakis A-ES, the standard quality-weighted data-mixing
    primitive): each row draws key = -ln(u)/w from its deterministic
    hash-uniform u, and the k SMALLEST keys win — inclusion
    probability tracks ``weight_col`` under WOR semantics, with the
    same run-anywhere reproducibility as everything in this module
    (no RNG state, stable under repartitioning and cluster size).

    Scale shape: a narrow key projection + TakeOrdered top-k — the
    corpus never sorts or shuffles, each task keeps a k-row heap and
    the driver merges (safe for k up to ~millions). Rows with
    weight <= 0 are never selected."""
    u = (F.conv(_bucket(id_col, seed), 16, 10).cast("double") + 0.5) / _SPACE
    key = -F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__wkey", key)
        .orderBy("__wkey", id_col)
        .limit(k)
        .drop("__wkey")
    )


def weighted_sample_sql(
    table: str,
    k: int,
    weight_col: str,
    id_expr: str = "doc_id",
    seed: str = "wsample0",
) -> str:
    b = _bucket_sql(id_expr, seed)
    u = f"(CAST(concat('0x', {b}) AS BIGINT) + 0.5) / {float(_SPACE)}"
    return f"""
SELECT * EXCLUDE (__wkey) FROM (
  SELECT *, -ln({u}) / CAST({weight_col} AS DOUBLE) AS __wkey
  FROM {table} WHERE {weight_col} > 0
  ORDER BY __wkey, {id_expr} LIMIT {k}
)
"""


def temperature_mix(
    df: DataFrame,
    budget: int,
    alpha: float = 0.5,
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "mix0",
) -> DataFrame:
    """Temperature-weighted source mixing: draw ~``budget`` rows with
    per-source quotas proportional to count^alpha (alpha = 1/T; 1.0 =
    natural proportions, 0.0 = uniform across sources) — the standard
    multilingual/multi-source rebalancing step (e.g. mT5's alpha=0.3
    sampling), made deterministic.

    Quota_s = min(count_s, round(budget * count_s^alpha / sum_t
    count_t^alpha)); rounding makes the realized total approximate
    (within #sources/2 of budget). Row selection within a source is
    hash-order (same md5 key as everything in this module), so the
    draw is reproducible on any cluster and is a SUPERSET-stable
    sample: raising the budget only adds rows.

    Scale shape: source counts are a partial agg over a
    low-cardinality key; the quota table (#sources rows) broadcasts
    back; the only corpus shuffle is the per-source hash-rank window.
    Per-source rank sorts a whole stratum in one task — for web-scale
    strata compute the quota rates here but apply them with
    ``hash_sample`` (threshold filter, no shuffle) instead."""
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_c"))
    denom = counts.agg(F.sum(F.pow("_c", F.lit(alpha))).alias("_z"))
    quota = counts.crossJoin(F.broadcast(denom)).select(
        strata_col,
        F.least(
            F.col("_c"),
            F.round(
                F.lit(budget) * F.pow("_c", F.lit(alpha)) / F.col("_z")
            ).cast("long"),
        ).alias("_take"),
    )
    wo = Window.partitionBy(strata_col).orderBy(_bucket(id_col, seed), F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(wo))
        .join(F.broadcast(quota), strata_col)
        .filter(F.col("_rn") <= F.col("_take"))
        .drop("_rn", "_take")
    )


def temperature_mix_sql(
    table: str,
    budget: int,
    alpha: float = 0.5,
    strata_col: str = "source",
    id_expr: str = "doc_id",
    seed: str = "mix0",
) -> str:
    b = _bucket_sql(id_expr, seed)
    return f"""
WITH counts AS (
  SELECT {strata_col}, count(*) AS _c FROM {table} GROUP BY {strata_col}
), z AS (
  SELECT sum(power(_c, {alpha})) AS _z FROM counts
), quota AS (
  SELECT {strata_col},
    least(_c, CAST(round({budget} * power(_c, {alpha}) / _z) AS BIGINT)) AS _take
  FROM counts, z
), ranked AS (
  SELECT t.*,
    row_number() OVER (
      PARTITION BY {strata_col} ORDER BY {b}, {id_expr}
    ) AS _rn
  FROM {table} t
)
SELECT * EXCLUDE (_rn, _take)
FROM ranked JOIN quota USING ({strata_col})
WHERE _rn <= _take
"""


def temperature_rates(
    df: DataFrame,
    budget: int,
    alpha: float = 0.5,
    strata_col: str = "source",
) -> dict[str, float]:
    """The web-scale companion to :func:`temperature_mix`: compute
    the per-source sampling RATES (quota_s / count_s, capped at 1.0)
    and apply them with :func:`hash_sample` — a pure threshold
    filter, zero shuffles, no per-stratum sort. Rates are exact in
    expectation rather than exact in count (variance 1/sqrt(n); at
    web-scale strata the realized rate is the requested rate to 4+
    digits).

    The only driver materialization is the strata-cardinality count
    table (#sources rows)."""
    counts = {
        r[strata_col]: r["n"]
        for r in df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    z = sum(c ** alpha for c in counts.values())
    return {
        s: min(1.0, budget * (c ** alpha) / z / c)
        for s, c in counts.items()
    }


def epoch_mix(
    df: DataFrame,
    budget: int,
    alpha: float = 0.5,
    max_epochs: int = 4,
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "mix0",
) -> DataFrame:
    """Data-constrained temperature mixing WITH upsampling: like
    :func:`temperature_mix`, per-source quotas are proportional to
    count^alpha — but a small source whose quota exceeds its size is
    REPEATED (multiple epochs) instead of silently capped, up to
    ``max_epochs`` copies of any document (the data-constrained
    scaling guard: repeating past a few epochs stops buying loss).

    Each emitted copy carries an ``epoch`` column (0-based): full
    epochs repeat every doc; the fractional last epoch takes the
    source's hash-order prefix (same md5 key as the whole module →
    deterministic on any cluster, superset-stable in the budget).
    quota_s = min(round(budget * c^alpha / Z), max_epochs * c).

    Scale shape: counts are a partial agg on a low-cardinality key;
    the quota table broadcasts; the corpus pays one per-source
    hash-rank window (same caveat as temperature_mix — for web-scale
    strata apply the fractional epoch with ``hash_sample`` rates
    instead) and the repeat is ``explode(sequence(...))`` — rows fan
    out map-side, never shuffle. Exactly oracle-able (DuckDB twin:
    :func:`epoch_mix_sql`)."""
    if max_epochs < 1:
        raise ValueError("max_epochs must be >= 1")
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_c"))
    denom = counts.agg(F.sum(F.pow("_c", F.lit(alpha))).alias("_z"))
    quota = counts.crossJoin(F.broadcast(denom)).select(
        strata_col,
        F.col("_c"),
        F.least(
            F.round(
                F.lit(budget) * F.pow("_c", F.lit(alpha)) / F.col("_z")
            ).cast("long"),
            F.lit(max_epochs) * F.col("_c"),
        ).alias("_take"),
    )
    wo = Window.partitionBy(strata_col).orderBy(
        _bucket(id_col, seed), F.col(id_col)
    )
    # reps = full epochs + 1 more iff this doc is in the fractional
    # epoch's hash-order prefix; sequence() only after the reps>0
    # filter (sequence(0,-1) would DESCEND, not return empty)
    reps = (F.col("_take") / F.col("_c")).cast("long") + F.when(
        F.col("_rn") <= F.col("_take") % F.col("_c"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        df.withColumn("_rn", F.row_number().over(wo))
        .join(F.broadcast(quota), strata_col)
        .withColumn("_reps", reps)
        .filter(F.col("_reps") > 0)
        .withColumn(
            "epoch",
            F.explode(F.sequence(F.lit(0), (F.col("_reps") - 1).cast("int"))),
        )
        .drop("_rn", "_c", "_take", "_reps")
    )


def epoch_mix_sql(
    table: str,
    budget: int,
    alpha: float = 0.5,
    max_epochs: int = 4,
    strata_col: str = "source",
    id_expr: str = "doc_id",
    seed: str = "mix0",
) -> str:
    b = _bucket_sql(id_expr, seed)
    return f"""
WITH counts AS (
  SELECT {strata_col}, count(*) AS _c FROM {table} GROUP BY {strata_col}
), z AS (
  SELECT sum(power(_c, {alpha})) AS _z FROM counts
), quota AS (
  SELECT {strata_col}, _c,
    least(CAST(round({budget} * power(_c, {alpha}) / _z) AS BIGINT),
          {max_epochs} * _c) AS _take
  FROM counts, z
), ranked AS (
  SELECT t.*,
    row_number() OVER (
      PARTITION BY {strata_col} ORDER BY {b}, {id_expr}
    ) AS _rn
  FROM {table} t
), reps AS (
  SELECT * EXCLUDE (_rn, _c, _take),
    (_take // _c) + CASE WHEN _rn <= _take % _c THEN 1 ELSE 0 END AS _reps
  FROM ranked JOIN quota USING ({strata_col})
)
SELECT * EXCLUDE (_reps), CAST(unnest(range(_reps)) AS INTEGER) AS epoch
FROM reps
WHERE _reps > 0
"""


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    seed: str = "split0",
) -> DataFrame:
    """Split assignment that cannot leak near-duplicates across
    splits: documents connected by ``pairs`` (any dedup path's
    (id_a, id_b) candidates — minhash, simhash, embedding, exact)
    share a connected component, and the split is drawn from the
    COMPONENT's keeper id instead of the document's own — so a
    training doc can never have a near-copy in validation (the
    classic eval-contamination failure of per-document splitting).

    Returns df + (group_key, split). Scale shape: the component map
    is |docs-in-pairs| (tiny next to the corpus) and joins with a
    broadcast-friendly left join; the split draw stays the same
    zero-shuffle md5-threshold expression as :func:`split_assign`,
    keyed on group_key."""
    from cryo_spark.operators.dedup import dedup_by_components

    comp = dedup_by_components(df, pairs, id_col=id_col).select(
        id_col, F.col("keeper_id").alias("group_key")
    )
    joined = df.join(comp, id_col)
    return split_assign(
        joined, weights, id_col="group_key", seed=seed
    )

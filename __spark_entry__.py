"""Driver contract for the spark-graft builder (PySpark target).

Three surfaces:
- ``entry(spark)``: flagship query (pricing summary over sf0.001).
- ``queries()``: every implemented operator from SURVEY.md §2 —
  chain datasets run over the committed fixture raw tables
  (/root/repo/fixtures, deterministic seed=42 — FIXTURES.md); generic
  relational + LLM-pipeline operators run over the driver testdata at
  the given sf_dir.
- ``oracle_sql()``: DuckDB equivalents. Chain fixtures are referenced
  via read_parquet(absolute path); testdata tables via the
  pre-registered views.

Every driver-facing result passes through cryo_spark.contract:
binary columns render as 0x-hex strings and decimal columns as exact
decimal strings on BOTH sides, so the harness's pandas canonicalizer
sees hashable, engine-identical values (bytearray is unhashable;
Spark Decimal and DuckDB float64 hash differently). Related datasets
share merged entries (reference MultiDatatype groups) keeping the
contract at 50 entries — the scoring window.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cryo_spark import contract
from cryo_spark.datasets import ORACLES, TRANSFORMS
from cryo_spark.fixtures import default_fixtures_dir, generate
from cryo_spark.operators import (
    corpus,
    decontam,
    dedup,
    dsir,
    incremental,
    sampling,
    similarity,
    text,
)
from cryo_spark.operators import spans as spans_mod

FIXTURES_DIR = default_fixtures_dir()

# keccak-hash columns are not SQL-expressible in DuckDB; the driver
# check runs without them (they are unit-tested in tests/ instead)
DROP_FOR_ORACLE = {
    "contracts": ["init_code_hash", "code_hash"],
    "eth_calls": ["call_data_hash", "output_data_hash"],
}


def _dec(col: str, scale: int = 4):
    return F.col(col).cast(f"decimal(18,{scale})")


def _p(sf_dir: str, table: str) -> str:
    return os.path.join(sf_dir, f"{table}.parquet")


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    # memoized frame handle (plan reuse, not result caching): every
    # bench rep and every multi-consumer query re-derives the same
    # base frames, and each bare spark.read.parquet pays ~0.1 s of
    # driver-side listing + footer schema resolution per call
    from cryo_spark.readcache import read_parquet_cached

    return read_parquet_cached(spark, _p(sf_dir, table))


def _epoch_seconds(df: DataFrame, col: str = "ts"):
    """Floor epoch-seconds expression adaptive to the fixture's ts
    encoding. The driver testdata has shipped ``events.ts`` both as
    int64 nanoseconds (readable via nanosAsLong) and as timestamp[us]
    (TIMESTAMP_NTZ; naive values are UTC — the session timezone, so
    the cast chain below is exact). Both paths use integer floor
    division — no double rounding at any epoch magnitude."""
    dtype = dict(df.dtypes)[col]
    if dtype == "bigint":  # int64 nanoseconds
        return F.expr(f"{col} div 1000000000")
    return F.col(col).cast("timestamp").cast("long")


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table under either ts encoding: nanosAsLong makes an
    int64-nanos parquet readable (no-op for timestamp[us] files)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _read(spark, sf_dir, "events")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan → filter → map-side
    partial agg → 6-group shuffle → sort. Decimal casts make the
    aggregation exact (and oracle-stable)."""
    l = _read(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("decimal(38,4)").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("decimal(38,4)").alias("sum_base_price"),
            F.sum(disc_price).cast("decimal(38,8)").alias("sum_disc_price"),
            F.round(
                F.sum(_dec("l_discount")).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def oracle_pricing_summary() -> str:
    return """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,8)) AS sum_disc_price,
  round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    generate(FIXTURES_DIR)  # idempotent no-op when committed fixtures exist
    return q_pricing_summary(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------------------
# generic relational operators (SURVEY §2.3-2.7 Spark-native surface)
# --------------------------------------------------------------------------

def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k (orderBy+limit → TakeOrdered, no full sort shuffle)."""
    return (
        _read(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


def oracle_top_orders() -> str:
    return (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 25"
    )


def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join: fact (orders) joined to customer, nation broadcast
    (J2 analog — small dims never shuffle the fact table)."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(_dec("o_totalprice")).cast("decimal(38,4)").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def oracle_nation_revenue() -> str:
    return """
SELECT n_name,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS revenue,
  count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window/rank operator (reference A5 analog): earliest order per
    customer, deterministic tie-break."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        _read(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.unix_timestamp("o_orderdate").alias("first_order_epoch"),
        )
    )


def oracle_first_order_per_customer() -> str:
    return """
SELECT o_custkey, o_orderkey AS first_orderkey,
  epoch(o_orderdate)::BIGINT AS first_order_epoch
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the events stream table (the
    batch shape of the Structured Streaming rollup).

    Type-adaptive on ``ts`` (timestamp[us] or int64 nanos — the
    fixture has shipped both): floor to epoch seconds, then integer
    hour bucketing (identical semantics to date_trunc('hour'))."""
    ev = _read_events(spark, sf_dir)
    epoch = _epoch_seconds(ev)
    hour = epoch - (epoch % 3600)
    return (
        ev.groupBy(hour.alias("hour_epoch"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(38,6)").alias("sum_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .drop("approx_users")  # approx differs per engine; kept out of the contract
    )


def oracle_events_hourly() -> str:
    return """
SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch, event_type,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs where doc_id % 29 == 0 play the
    held-out eval set; every other doc is flagged when it shares a
    4-word shingle with that set. Broadcast eval-shingle join — the
    corpus side never shuffles (see operators/decontam.py for the
    100 TB rationale). Distinct-aggregate (countDistinct per doc)
    exercised here."""
    docs = _read(spark, sf_dir, "documents")
    eval_docs = docs.filter((F.col("doc_id") % 29) == 0)
    train = docs.filter((F.col("doc_id") % 29) != 0)
    return decontam.ngram_decontaminate(train, eval_docs, n=4)


def oracle_decontaminate() -> str:
    return decontam.ngram_decontaminate_sql(
        "documents", "doc_id % 29 = 0", "doc_id % 29 != 0", n=4
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (set-difference surface). Restricted to recent
    orders so the check is non-vacuous: every customer has SOME order
    in the testdata, but many have none in the final year."""
    cust = _read(spark, sf_dir, "customer")
    orders = (
        _read(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def oracle_customers_without_orders() -> str:
    return (
        "SELECT c_custkey, c_name FROM customer "
        "WHERE NOT EXISTS (SELECT 1 FROM orders "
        "WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1998-01-01')"
    )


def q_region_nation_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-distinct (set-union surface)."""
    r = _read(spark, sf_dir, "region").select(F.col("r_name").alias("name"))
    n = _read(spark, sf_dir, "nation").select(F.col("n_name").alias("name"))
    return r.union(n).distinct()


def oracle_region_nation_names() -> str:
    return "SELECT r_name AS name FROM region UNION SELECT n_name FROM nation"


def q_orders_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (reference J4 analog generalized): for each order,
    the most recent event-second at or before the order date.
    Union-window implementation — shuffle volume |L|+|R|, no
    range-join pair blowup. DuckDB oracle uses its native ASOF JOIN."""
    from cryo_spark.operators.asof import asof_join

    orders = _read(spark, sf_dir, "orders").select(
        "o_orderkey", F.unix_timestamp("o_orderdate").alias("order_epoch")
    )
    ev = _read_events(spark, sf_dir)
    events = (
        ev.groupBy(_epoch_seconds(ev).alias("event_epoch"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    # dedup_left: o_orderdate is day-granularity, so the as-of match
    # runs per DISTINCT date (~2.5k keys at any sf) and broadcast-joins
    # back — the orders frame never shuffles. Remaining scale knob:
    # the range-bucketed parallel path pays a quantile scan + carry
    # machinery that only wins once a single task cannot sort the
    # events side; below ~256 MB of events input the global window is
    # faster (measured at sf0.1). Bucketed equivalence stays pinned by
    # unit tests (tests/test_operators.py).
    try:
        p = _p(sf_dir, "events")
        size = (
            sum(os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(p) for f in fs)
            if os.path.isdir(p) else os.path.getsize(p)
        )
        big = size > 256 * 1024 * 1024
    except OSError:
        big = True  # unknown size (remote store): assume scale
    return asof_join(
        orders, events, left_on="order_epoch", right_on="event_epoch",
        num_buckets=64 if big else None, dedup_left=True,
    ).select("o_orderkey", "order_epoch", "n_events")


def oracle_orders_asof_events() -> str:
    return """
SELECT o.o_orderkey, epoch(o.o_orderdate)::BIGINT AS order_epoch, e.n_events
FROM orders o
ASOF LEFT JOIN (
  -- date_trunc to second BEFORE epoch: epoch() returns DOUBLE and a
  -- ::BIGINT cast on a fractional value ROUNDS, while Spark's
  -- timestamp->long cast FLOORS; truncating first makes both exact
  SELECT epoch(date_trunc('second', ts))::BIGINT AS event_epoch, count(*) AS n_events
  FROM events GROUP BY 1
) e ON e.event_epoch <= epoch(o.o_orderdate)::BIGINT
"""


def q_salted_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (skew tool for power-law keys):
    identical results to a plain groupBy — verified against the plain
    DuckDB aggregate."""
    from cryo_spark.operators.skew import salted_agg

    ev = _read_events(spark, sf_dir).withColumn(
        "value_d", F.col("value").cast("decimal(18,6)")
    )
    out = salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n_events": ("event_type", "count"),
            "sum_value": ("value_d", "sum"),
            "max_value": ("value_d", "max"),
        },
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("decimal(38,6)").alias("sum_value"),
        F.col("max_value").cast("decimal(18,6)").alias("max_value"),
    )


def oracle_salted_event_totals() -> str:
    return """
SELECT event_type, count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS sum_value,
  CAST(max(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS max_value
FROM events GROUP BY event_type
"""


def q_part_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup (multi-level aggregate; grouping-set surface Spark
    provides beyond the reference)."""
    return (
        _read(spark, sf_dir, "part")
        .rollup("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(_dec("p_retailprice")).cast("decimal(38,4)").alias("sum_price"),
        )
    )


def oracle_part_type_rollup() -> str:
    return """
SELECT p_brand, count(*) AS n_parts,
  CAST(sum(CAST(p_retailprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS sum_price
FROM part GROUP BY ROLLUP (p_brand)
"""


# --------------------------------------------------------------------------
# LLM-pipeline operators over documents / embeddings
# --------------------------------------------------------------------------

def _synth_payload_expr():
    """Deterministic crawl-shaped HTTP/HTML payload derived from
    (doc_id, text) — the testdata has no raw-crawl column, so BOTH
    engines derive the same adversarial payload (the WARC-reader
    fixture shape): HTTP/1.1 response wrapper (4/5 of docs; the rest
    are raw HTML exercising the non-HTTP passthrough), upper/lower
    Content-Type + charset-param variants, an X-Robots-Tag noindex
    header (doc_id % 13) or robots meta tag (doc_id % 17), and the
    document text as <p> blocks between nav/footer link chrome. The
    SAME derivation in SQL is `_SYNTH_PAYLOAD_SQL`."""
    d = F.col("doc_id")
    html = F.concat(
        F.lit("<html><head><title>doc</title>"),
        F.when(
            d % 17 == 0, F.lit('<meta name="robots" content="noindex">')
        ).otherwise(F.lit("")),
        F.lit(
            '</head><body><div class="nav"><a href="/">Home</a> |'
            ' <a href="/about">About</a></div><p>'
        ),
        F.replace(F.col("text"), F.lit("\n"), F.lit("</p><p>")),
        F.lit(
            '</p><div class="footer"><a href="/privacy">Privacy</a>'
            ' <a href="/terms">Terms</a></div></body></html>'
        ),
    )
    return F.when(d % 5 == 4, html).otherwise(
        F.concat(
            F.lit("HTTP/1.1 200 OK\r\nContent-Type: "),
            F.when(d % 5 == 0, F.lit("TEXT/HTML; charset=UTF-8")).otherwise(
                F.lit("text/html")
            ),
            F.lit("\r\n"),
            F.when(d % 13 == 0, F.lit("X-Robots-Tag: noindex\r\n")).otherwise(
                F.lit("")
            ),
            F.lit("Server: x\r\n\r\n"),
            html,
        )
    )


_SYNTH_PAYLOAD_SQL = """(
  CASE WHEN doc_id % 5 = 4 THEN '' ELSE
    'HTTP/1.1 200 OK' || chr(13) || chr(10) || 'Content-Type: ' ||
    CASE WHEN doc_id % 5 = 0 THEN 'TEXT/HTML; charset=UTF-8'
         ELSE 'text/html' END || chr(13) || chr(10) ||
    CASE WHEN doc_id % 13 = 0
         THEN 'X-Robots-Tag: noindex' || chr(13) || chr(10) ELSE '' END ||
    'Server: x' || chr(13) || chr(10) || chr(13) || chr(10)
  END ||
  '<html><head><title>doc</title>' ||
  CASE WHEN doc_id % 17 = 0
       THEN '<meta name="robots" content="noindex">' ELSE '' END ||
  '</head><body><div class="nav"><a href="/">Home</a> |' ||
  ' <a href="/about">About</a></div><p>' ||
  replace(text, chr(10), '</p><p>') ||
  '</p><div class="footer"><a href="/privacy">Privacy</a>' ||
  ' <a href="/terms">Terms</a></div></body></html>'
)"""


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl ingestion → clean corpus, composed end to end (round 10:
    the WARC→text chain folded into this entry so the HTTP split,
    main-content extraction and robots-noindex surfacing are all
    driver-hash-proven — the WARC binary FRAMING itself is unit-tested,
    it is byte parsing with no SQL twin):

    documents → synthetic crawl payload (shared derivation, see
    :func:`_synth_payload_expr`) → Content-Type parse + noindex flag +
    HTTP body split + boilerplate-stripping main-content extraction
    (``operators.html``) → quality + language + exact-dedup + token
    accounting (``corpus.clean_corpus``) with content_type/noindex
    riding the same projection.

    Scale: the whole extraction is one narrow JVM projection fused
    into the scan (zero shuffles); clean_corpus adds its single
    content-key exchange. Same shape as production:
    read_warc_documents(main_content=True) → clean_corpus."""
    from cryo_spark.operators import html as html_ops

    payload = _synth_payload_expr()
    # r18 (guide §2 / §1.2 step 1): spread BEFORE the extraction, not
    # after. The main-content extraction is the entry's dominant CPU
    # (profiled: ~0.8 s cpu in a 10-task stage at sf0.1 — the 594 KB
    # single-file scan splits at the 64 KB open-cost floor into ~10
    # effective tasks) and used to sit BELOW clean_corpus's spread
    # exchange, i.e. fused into the row-group-bound scan. Hoisting the
    # round-robin repartition under the extraction runs it at full
    # parallelism; clean_corpus's own spread() then sees the
    # Repartition ancestor and no-ops, so the exchange COUNT is
    # unchanged (plan diff: Exchange moved below the extraction
    # Project). At real scale spread() is a no-op either way (inputs
    # have >= parallelism splits). Results identical: same rows, row
    # order never part of the contract.
    from cryo_spark.operators.util import spread as _spread_util

    shaped = _spread_util(
        _read(spark, sf_dir, "documents").select("doc_id", "text")
    ).select(
        "doc_id",
        html_ops.http_content_type_expr(payload).alias("content_type"),
        html_ops.noindex_expr(payload).alias("noindex"),
        html_ops.main_content_expr(html_ops.http_body_expr(payload)).alias(
            "text"
        ),
    )
    return corpus.clean_corpus(
        shaped, extra_cols=("content_type", "noindex")
    )


def oracle_clean_corpus() -> str:
    from cryo_spark.operators import html as html_ops

    p = "p.payload"
    inner = corpus.clean_corpus_sql(
        "shaped", extra_cols=("content_type", "noindex")
    ).strip()
    assert inner.startswith("WITH ")
    return f"""
WITH payloads AS MATERIALIZED (
  SELECT doc_id, {_SYNTH_PAYLOAD_SQL} AS payload FROM documents
),
shaped AS MATERIALIZED (
  SELECT doc_id,
         {html_ops.http_content_type_sql(p)} AS content_type,
         {html_ops.noindex_sql(p)} AS noindex,
         {html_ops.main_content_sql(html_ops.http_body_sql(p))} AS text
  FROM payloads p
),
{inner.removeprefix("WITH ")}
"""


def q_word_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.word_stats(_read(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(_read(spark, sf_dir, "documents"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(_read(spark, sf_dir, "documents")).drop("fingerprint")


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_read(spark, sf_dir, "documents"))


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bpe_token_count(_read(spark, sf_dir, "documents"))


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_all_pairs(_read(spark, sf_dir, "documents"))


def q_embedding_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding similarity, two formerly-separate oracled
    entries merged (round 8, freeing a contract slot for
    `llm_url_dedup` inside the 50-entry scoring window — the same
    consolidation rounds 5/6 used):

    - kind='near_dup': blocked-GEMM exact all-pairs cosine >= 0.45
      (testdata embeddings are near-uniform, max pairwise ~0.51, so
      0.45 keeps the check non-vacuous); (id_a, id_b) pair rows.
    - kind='topk': exact cosine top-10 to the vec_id-0 query vector;
      id_b is null, id_a carries the neighbor.
    - kind='hard_neg' (round 12): per-anchor top-2 hard negatives —
      most-cosine-similar rows OUTSIDE the anchor's label class,
      candidates bucket-local via the engine-neutral integer LSH
      signature (`similarity.hard_negatives`), the contrastive-
      training mining shape.

    All parts remain individually hash-proven — the union is a
    column-aligned UNION ALL on both engines.

    r18 (guide §2.6): the entry's three EAGER construction steps —
    the topk query-row first(), the decontam tier's eval-side collect
    and the text_embed tier's eval collect + driver featurize — are
    data-independent of each other (different slices of different
    tables), so the five sub-frames build in a small thread pool and
    the eager jobs overlap instead of running back-to-back (the same
    restructure ann_topk got in r17 #7). Same frames, same plans,
    same union order — only the driver-side serialization changes.
    Profiled serial cost at sf0.1: 0.46 s construction, ~3/4 of it in
    those three steps."""
    emb = _read(spark, sf_dir, "embeddings")

    def _nd() -> DataFrame:
        return dedup.embedding_near_dups_exact(emb, threshold=0.45).select(
            F.lit("near_dup").alias("kind"), "id_a", "id_b", "cosine"
        )

    def _tk() -> DataFrame:
        query = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
        ]
        return similarity.cosine_topk(emb, query, k=10).select(
            F.lit("topk").alias("kind"),
            F.col("vec_id").alias("id_a"),
            F.lit(None).cast("long").alias("id_b"),
            "cosine",
        )

    # round 12: hard-negative mining (contrastive training prep) —
    # per-anchor top-2 most-similar rows OUTSIDE the anchor's label
    # class, candidates bucket-local via the engine-neutral integer
    # LSH signature, so the rows are hash-exact vs the DuckDB twin
    # dim=64 matches the twin's hardcoded width and skips the
    # infer-dimension first() job at entry construction
    # r17 optimization: method='gemm' — one numpy cosine submatrix
    # per LSH bucket instead of the bucket self-join's per-pair
    # interpreted zip_with fold (branch measured 1.39s -> 0.68s at
    # sf0.1). Bit-identical since r17: dimension-major accumulation +
    # BigDecimal-equivalent rounding on the per-anchor top set (see
    # _hard_negatives_gemm) — hash-checked against the same unchanged
    # DuckDB twin at sf0.001/0.01/0.1.
    def _hn() -> DataFrame:
        return similarity.hard_negatives(
            emb, k=2, group_col="label", n_planes=6, dim=64, method="gemm"
        ).select(
            F.lit("hard_neg").alias("kind"),
            F.col("vec_id").alias("id_a"),
            F.col("neg_id").alias("id_b"),
            "cosine",
        )
    # round 13: SEMANTIC decontamination (kind='decontam') — vectors
    # with vec_id % 31 == 0 play the held-out eval set; every other
    # vector is flagged when its cosine vs ANY eval vector clears
    # 0.35 (near-uniform testdata: max pairwise ~0.51, so 0.35 keeps
    # the check non-vacuous). One row per flagged vector with its
    # best eval match (ties: max cosine, then min eval id — a total
    # order both engines share via struct-max).
    # r17 optimization: method='gemm' — the eval side (1/31 of the
    # table, benchmark-sized by construction) collects once and the
    # corpus side is scored in ONE narrow Arrow pass instead of a
    # broadcast-nested-loop crossJoin whose per-pair interpreted
    # zip_with fold dominated this entry (branch measured 1.5s ->
    # ~0.4s at sf0.1). Bit-identical: the scorer accumulates
    # dimension-major (the fold's exact add order) and rounds via
    # BigDecimal-equivalent HALF_UP — hash-checked against the same
    # unchanged DuckDB twin at sf0.001/0.01/0.1.
    def _dc() -> DataFrame:
        return decontam.embedding_decontaminate(
            emb.filter(F.col("vec_id") % 31 != 0),
            emb.filter(F.col("vec_id") % 31 == 0),
            min_cosine=0.35,
            method="gemm",
        ).select(
            F.lit("decontam").alias("kind"),
            F.col("vec_id").alias("id_a"),
            F.col("eval_id").alias("id_b"),
            "cosine",
        )
    # round 14: SELF-CONTAINED semantic tier (kind='text_embed') — the
    # whole text -> embedding -> decontam chain on the RAW documents
    # table, no external embedding model: signed feature-hashing
    # embeddings (textembed.text_embeddings — engine-neutral
    # md5_number_lower buckets/signs, small exact-integer components)
    # feed the same fold decontam. Docs with doc_id % 97 == 0 play the
    # eval set (1/97 of docs — eval sets are benchmark-sized, and the
    # broadcast-nested-loop pair count is |corpus| x |eval|); 0.85
    # keeps the flag leakage-sized (bag-of-words cosines of unrelated
    # synthetic docs sit ~0.65 median, 0.99 quantile ~0.86 at
    # sf0.01).
    docs = _read(spark, sf_dir, "documents")

    # r17 optimization: the fused text_embedding_decontaminate
    # replaces the round-14 persist + broadcast-nested-loop shape.
    # The eval slice (1/97 of docs) collects as (id, text) and
    # featurizes driver-side; the corpus side runs text -> embedding
    # -> score as ONE narrow Arrow pass (tokenize/md5/bucket-sum
    # vectorized in the scorer with a per-task token cache — §4.2
    # shape; each row featurizes exactly once by construction, so the
    # persist barrier and its cache-lock convoy between concurrent
    # broadcast-build jobs are gone; branch measured 4.4s -> ~0.8s at
    # sf0.1). Bit-identical: embed_texts is pinned equal to the JVM
    # expression, embeddings are small exact integers (every dot/norm
    # exact in float64), and the scorer rounds via
    # BigDecimal-equivalent HALF_UP — hash-checked against the same
    # unchanged DuckDB twin at sf0.001/0.01/0.1.
    def _tdc() -> DataFrame:
        return decontam.text_embedding_decontaminate(
            docs.filter(F.col("doc_id") % 97 != 0),
            docs.filter(F.col("doc_id") % 97 == 0),
            min_cosine=0.85,
            id_col="doc_id",
            dim=64,
        ).select(
            F.lit("text_embed").alias("kind"),
            F.col("doc_id").alias("id_a"),
            F.col("eval_id").alias("id_b"),
            "cosine",
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [pool.submit(f) for f in (_nd, _tk, _hn, _dc, _tdc)]
        nd, tk, hn, dc, tdc = [f.result() for f in futs]
    return (
        nd.unionByName(tk).unionByName(hn).unionByName(dc)
        .unionByName(tdc)
    )


def oracle_embedding_sim() -> str:
    nd = dedup.embedding_near_dups_exact_sql("embeddings", threshold=0.45)
    tk = oracle_cosine_topk()
    hn = similarity.hard_negatives_sql(
        "embeddings", k=2, group_col="label", dim=64
    )
    dc = decontam.embedding_decontaminate_sql(
        "embeddings", "vec_id % 31 = 0", "vec_id % 31 != 0",
        min_cosine=0.35,
    )
    from cryo_spark.operators import textembed

    te = textembed.text_embeddings_sql("documents", dim=64)
    tdc = decontam.embedding_decontaminate_sql(
        "__te", "doc_id % 97 = 0", "doc_id % 97 != 0",
        min_cosine=0.85, id_col="doc_id",
        prelude=f"__te AS ({te}),",
    )
    return f"""
SELECT 'near_dup' AS kind, id_a, id_b, cosine FROM ({nd})
UNION ALL
SELECT 'topk' AS kind, vec_id AS id_a, NULL::BIGINT AS id_b, cosine FROM ({tk})
UNION ALL
SELECT 'hard_neg' AS kind, vec_id AS id_a, neg_id AS id_b, cosine FROM ({hn})
UNION ALL
SELECT 'decontam' AS kind, vec_id AS id_a, eval_id AS id_b, cosine FROM ({dc})
UNION ALL
SELECT 'text_embed' AS kind, doc_id AS id_a, eval_id AS id_b, cosine
FROM ({tdc})
"""


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS collapsed into clusters (large-star/small-star
    connected components) with a canonical keeper per cluster — the
    step that turns pairwise similarity into a dedup decision. TWO
    hash-checked kinds since round 14:

    - kind='ngram': pairs from the SQL-expressible n-gram Jaccard
      path; DuckDB computes the same components with a recursive
      closure.
    - kind='semantic': `similarity.graph_dedup` — the kNN graph of
      the corpus's OWN text embeddings (signed feature hashing,
      engine-neutral) thresholded and collapsed. Every stage is exact
      integer/round-8 arithmetic the self-contained DuckDB twin
      recomputes: per-row cost-ball probe thresholds, bucket-ball
      candidates, the (cosine desc, id) top-k window, the edge
      threshold, and the same recursive components — so the
      graph-dedup decision is hash-proven end to end (24 duplicates
      flagged at sf0.01, non-vacuous)."""
    from cryo_spark.operators import similarity, textembed

    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_all_pairs(docs)
    ng = dedup.dedup_by_components(docs, pairs).select(
        F.lit("ngram").alias("kind"),
        "doc_id", "keeper_id", "is_duplicate",
    )
    # persist: the corpus side of the kNN bucket join must read
    # materialized vectors (featurize per row, never per candidate)
    temb = textembed.text_embeddings(docs, dim=64).persist()
    sem = similarity.graph_dedup(
        temb, threshold=0.95, k=10, id_col="doc_id",
        n_planes=6, n_probes=8,
    ).select(
        F.lit("semantic").alias("kind"),
        "doc_id", "keeper_id", "is_duplicate",
    )
    return ng.unionByName(sem)


def oracle_near_dup_clusters() -> str:
    from cryo_spark.operators import similarity, textembed

    pairs_sql = dedup.ngram_jaccard_all_pairs_sql("documents")
    te = textembed.text_embeddings_sql("documents", dim=64)
    sem = similarity.graph_dedup_sql(
        "__te", threshold=0.95, k=10, id_col="doc_id",
        n_planes=6, n_probes=8, dim=64,
        prelude=f"__te AS ({te}),",
    )
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (
  SELECT u AS id, least(u, min(v)) AS component FROM reach GROUP BY u
)
SELECT 'ngram' AS kind, d.doc_id,
  coalesce(c.component, d.doc_id) AS keeper_id,
  d.doc_id != coalesce(c.component, d.doc_id) AS is_duplicate
FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
UNION ALL
SELECT 'semantic' AS kind, doc_id, keeper_id, is_duplicate FROM ({sem})
"""


#: the synonym table the adapter contract entry maps through —
#: high-frequency corpus words (~900 docs each at sf0.01 carry them),
#: so the mapping demonstrably reshapes the embeddings the oracle must
#: reproduce, not just the no-op CASE arm
_SYN_TABLE = {"merge": "join", "row": "line"}


def q_synonym_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-encoder ADAPTER path, hash-proven end to end (round
    15): documents -> `encode.encode_documents` (the Arrow-batched
    mapInPandas model-inference hook, exercised with the deterministic
    synonym stub encoder — CASE-mapped synonym table + the repo's
    engine-neutral md5 bucket/sign bits) -> `similarity.graph_dedup`
    (kNN graph -> threshold -> components -> min-id keepers). Proves
    the adapter's batching/schema/NULL plumbing produces exactly the
    embeddings the oracle recomputes, and that any (id, embedding)
    producer drops into the semantic stack unchanged — the synonymy
    tier's contract, with a stub standing in for the model."""
    from cryo_spark.operators import encode, similarity

    docs = _read(spark, sf_dir, "documents")
    emb = encode.encode_documents(
        docs, encode.stub_synonym_encoder(dim=64, synonyms=_SYN_TABLE),
        batch_size=256, dim=64,
    ).persist()  # corpus side of the kNN bucket join reads
    # materialized vectors: encode per row, never per candidate
    return similarity.graph_dedup(
        emb, threshold=0.95, k=10, id_col="doc_id",
        n_planes=6, n_probes=8,
    )


def oracle_synonym_dedup() -> str:
    from cryo_spark.operators import encode, similarity

    enc = encode.stub_synonym_encoder_sql(
        "documents", dim=64, synonyms=_SYN_TABLE
    )
    return similarity.graph_dedup_sql(
        "__enc", threshold=0.95, k=10, id_col="doc_id",
        n_planes=6, n_probes=8, dim=64,
        prelude=f"__enc AS ({enc}),",
    )


def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline, one contract entry (the reference's
    MultiDatatype pattern applied to our extension ops): binary media
    columns -> mapInPandas feature extraction, plus video rows fanned
    out to frame rows.

    ORACLE-CHECKED since round 5: the media table derives
    deterministically from `documents` (payload = UTF-8 text bytes,
    kind = doc_id % 3, duration = (doc_id % 10 + 1) minutes), so
    every checkable output of the UDF plumbing — per-row byte counts,
    content sha256, and the frame fan-out arithmetic — verifies
    against plain SQL. Only the decode vectors (feature/frame bytes,
    engine-specific by nature; stubbed in this container) stay out of
    the checked surface, exactly the columns already dropped.

    Round 11 merges (50-entry window full — established pattern):
    perceptual-hash image near-dup joins this entry as 'dhash'
    (per-image 64-bit fake-grid dHash signature, pure JVM md5-chain
    arithmetic) and 'dhash_pair' (banded-hamming pair rows: media_id,
    pair_b, hamming), and video near-dup as 'video_pair' (media_id,
    pair_b, overlap — frame fan-out → per-frame dHash → banded frame
    matches → containment). Signatures, band-derived pair sets,
    hamming values AND overlap fractions all hash-verify against the
    DuckDB twins (image_near_dups_sql / fake_dhash_duckdb_parts).
    Both pair ops run on SOURCE-derived clone families (a perceptual
    hash never collides the corpus's unique texts, so text payloads
    would make the pair checks vacuously empty); the 'dhash' rows
    keep the unique text payloads so signature arithmetic is proven
    on maximal-entropy inputs. The real-decoder paths swap into the
    same banding unchanged — proven for images (real_dhash via PIL,
    skipif-tested) AND audio (round 12: real_audio_window +
    spectral_band_hash over stdlib-decoded PCM WAV, tested
    unconditionally in test_round12_ops)."""
    from cryo_spark.operators import multimodal

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3).cast("int") + 1,
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.when(kind == F.lit("image"), F.lit("image/png"))
        .when(kind == F.lit("audio"), F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4")).alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.when(
            kind != F.lit("image"),
            ((F.col("doc_id") % 10 + 1) * 60000).cast("long"),
        ).alias("duration_ms"),
    )
    feats = multimodal.extract_features(media).drop("feature").withColumn(
        "op", F.lit("features")
    )
    frames = multimodal.sample_frames(
        media, interval_ms=60_000, max_frames=8
    ).drop("frame").withColumn("op", F.lit("frames"))
    # 'dhash' rows prove the signature arithmetic on the UNIQUE text
    # payloads; 'dhash_pair' rows prove the banding/pairing machinery
    # on source-derived CLONE FAMILIES (unique texts never collide
    # under a perceptual hash, so pairing the text payloads would be
    # a vacuous zero-row check — same trick as video_pair below)
    dhash_rows = multimodal.image_dhash(media).withColumn(
        "op", F.lit("dhash")
    )
    imedia = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("source", "UTF-8").alias("payload"),
    ).filter(F.col("media_id") % 3 == 0)
    pair_rows = (
        multimodal.image_near_dups(imedia)
        .select(
            F.col("id_a").alias("media_id"),
            F.col("id_b").alias("pair_b"),
            "hamming",
        )
        .withColumn("op", F.lit("dhash_pair"))
    )
    # round 11 (second merge): video near-dups by frame-overlap
    # containment — the fake frame bytes are sha256(payload || ':' ||
    # i), so per-frame dHashes AND the pair/overlap arithmetic are
    # oracle-expressible end to end. Video payloads derive from the
    # document's SOURCE (20 strata) rather than its unique text, so
    # clone families exist and the pairing machinery runs with real
    # volume: same-source videos share every frame up to the shorter
    # duration (containment 1.0 regardless of length mismatch).
    vmedia = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode("source", "UTF-8").alias("payload"),
        ((F.col("doc_id") % 10 + 1) * 60000).cast("long").alias(
            "duration_ms"
        ),
    ).filter(F.col("media_id") % 3 == 2)
    video_rows = (
        multimodal.video_near_dups(
            vmedia, min_overlap=0.5, interval_ms=60_000, max_frames=8
        )
        .select(
            F.col("id_a").alias("media_id"),
            F.col("id_b").alias("pair_b"),
            "overlap",
        )
        .withColumn("op", F.lit("video_pair"))
    )
    # round 13 merge (50-entry window full): image-text pair prep as
    # 'image_pair' rows. Deterministic HTML derives from documents
    # (both engines build the IDENTICAL string: a text paragraph, an
    # <img> whose src comes from source, alt present/empty/absent by
    # doc_id%3, a <figure>+<figcaption> wrapper for doc_id%4==0, and
    # a tail paragraph), and the whole extraction — image_ref, alt,
    # caption, context — folds into ONE sha256 digest riding the
    # entry's existing content_sha256 column (img_idx rides
    # frame_index), so any field drift is a hash mismatch without
    # widening the shared schema.
    from cryo_spark.operators import imagetext

    fig_open = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(
            F.lit("<figure><img src=\"https://cdn.test/"),
            F.col("source"),
            F.lit("/"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".png\""),
            _alt_attr_expr(),
            F.lit("><figcaption>caption for "),
            F.col("source"),
            F.lit("</figcaption></figure>"),
        ),
    ).otherwise(
        F.concat(
            F.lit("<img src=\"https://cdn.test/"),
            F.col("source"),
            F.lit("/"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".png\""),
            _alt_attr_expr(),
            F.lit(">"),
        )
    )
    html_docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("<p>"), F.col("text"), F.lit("</p>"),
            fig_open,
            F.lit("<p>end of page</p>"),
        ).alias("html"),
    )
    ip = imagetext.image_text_pairs(
        html_docs, html_col="html", context_chars=60
    )
    sep = F.lit("\x1f")
    nul = F.lit("\x00")
    image_pair_rows = ip.select(
        F.col("doc_id").alias("media_id"),
        F.sha2(
            F.concat(
                F.coalesce("image_ref", nul), sep,
                F.coalesce("alt", nul), sep,
                F.coalesce("caption", nul), sep,
                F.coalesce("context", nul),
            ),
            256,
        ).alias("content_sha256"),
        F.col("img_idx").cast("int").alias("frame_index"),
    ).withColumn("op", F.lit("image_pair"))
    return (
        feats.unionByName(frames, allowMissingColumns=True)
        .unionByName(dhash_rows, allowMissingColumns=True)
        .unionByName(pair_rows, allowMissingColumns=True)
        .unionByName(video_rows, allowMissingColumns=True)
        .unionByName(image_pair_rows, allowMissingColumns=True)
    )


def _alt_attr_expr():
    """The alt attribute of the synthetic <img>: present (doc_id%3=0),
    present-but-empty (=1 — must surface as NULL), absent (=2)."""
    return (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" alt=\"pic "), F.col("source"), F.lit("\"")),
        )
        .when(F.col("doc_id") % 3 == 1, F.lit(" alt=\"\""))
        .otherwise(F.lit(""))
    )


def oracle_multimodal() -> str:
    from cryo_spark.operators import imagetext, multimodal

    null_cols = (
        "NULL::BIGINT AS n_bytes, NULL::VARCHAR AS content_sha256, "
        "NULL::INTEGER AS frame_index, NULL::BIGINT AS ts_ms"
    )
    # the IDENTICAL synthetic html the Spark side builds
    alt_attr = (
        "CASE WHEN doc_id % 3 = 0 THEN ' alt=\"pic ' || source || '\"' "
        "WHEN doc_id % 3 = 1 THEN ' alt=\"\"' ELSE '' END"
    )
    img_tag = (
        "'<img src=\"https://cdn.test/' || source || '/' || "
        f"(doc_id % 7)::VARCHAR || '.png\"' || {alt_attr} || '>'"
    )
    fig = (
        f"CASE WHEN doc_id % 4 = 0 THEN '<figure>' || {img_tag} || "
        "'<figcaption>caption for ' || source || '</figcaption></figure>' "
        f"ELSE {img_tag} END"
    )
    html_expr = f"'<p>' || text || '</p>' || {fig} || '<p>end of page</p>'"
    ip_sql = imagetext.image_text_pairs_sql(
        "html_docs", html_col="html", context_chars=60
    )
    dsig = multimodal.fake_dhash_duckdb_expr("encode(text)")
    dpairs = multimodal.image_near_dups_sql(
        "SELECT doc_id AS media_id, encode(source) AS payload "
        "FROM documents WHERE doc_id % 3 = 0"
    )
    vchains, vusig = multimodal.fake_dhash_duckdb_parts(
        "upper(sha256(concat(source, ':', frame_index)))"
    )
    return f"""
WITH media AS (
  SELECT doc_id AS media_id, doc_id % 3 AS k, text,
         (doc_id % 10 + 1) * 60000 AS dur
  FROM documents
),
feats AS (
  SELECT media_id, octet_length(encode(text))::BIGINT AS n_bytes,
         sha256(text) AS content_sha256,
         'features' AS op, NULL::INTEGER AS frame_index, NULL::BIGINT AS ts_ms,
         NULL::BIGINT AS dhash, NULL::BIGINT AS pair_b, NULL::INTEGER AS hamming,
         NULL::DOUBLE AS overlap
  FROM media
),
frames AS (
  SELECT media_id, NULL::BIGINT AS n_bytes, NULL::VARCHAR AS content_sha256,
         'frames' AS op, f.frame_index::INTEGER AS frame_index,
         (f.frame_index * 60000)::BIGINT AS ts_ms,
         NULL::BIGINT AS dhash, NULL::BIGINT AS pair_b, NULL::INTEGER AS hamming,
         NULL::DOUBLE AS overlap
  FROM media
  CROSS JOIN LATERAL (
    SELECT unnest(range(least(dur // 60000 + 1, 8))) AS frame_index
  ) f
  WHERE k = 2
),
dhash_rows AS (
  SELECT media_id, {null_cols}, 'dhash' AS op,
         (CASE WHEN usig >= 9223372036854775808::HUGEINT
               THEN usig - 18446744073709551616::HUGEINT
               ELSE usig END)::BIGINT AS dhash,
         NULL::BIGINT AS pair_b, NULL::INTEGER AS hamming,
         NULL::DOUBLE AS overlap
  FROM (SELECT media_id, {dsig} AS usig FROM media WHERE k = 0) __d
),
pair_rows AS (
  SELECT id_a AS media_id, {null_cols}, 'dhash_pair' AS op,
         NULL::BIGINT AS dhash, id_b::BIGINT AS pair_b,
         hamming::INTEGER AS hamming, NULL::DOUBLE AS overlap
  FROM ({dpairs}) __p
),
vframes AS (
  SELECT d.doc_id AS media_id, f.frame_index, d.source
  FROM documents d
  CROSS JOIN LATERAL (
    SELECT unnest(range(least(((d.doc_id % 10 + 1) * 60000) // 60000 + 1,
                              8))) AS frame_index
  ) f
  WHERE d.doc_id % 3 = 2
),
vchains AS (
  SELECT media_id, frame_index, {vchains} FROM vframes
),
vsigs AS (
  SELECT media_id, frame_index, {vusig} AS usig FROM vchains
),
vbanded AS (
  SELECT media_id, frame_index, usig, band_id,
         (usig >> (8 * band_id)) & 255 AS band_val
  FROM vsigs, (SELECT unnest(generate_series(0, 7)) AS band_id)
),
vfp AS (
  SELECT DISTINCT a.media_id AS id_a, a.frame_index AS fa,
         b.media_id AS id_b, b.frame_index AS fb
  FROM vbanded a JOIN vbanded b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.media_id < b.media_id
  WHERE bit_count(xor(a.usig, b.usig)) <= 7
),
vcnt AS (SELECT media_id, count(*) AS nf FROM vframes GROUP BY media_id),
vagg AS (
  SELECT id_a, id_b, count(DISTINCT fa) AS ma, count(DISTINCT fb) AS mb
  FROM vfp GROUP BY id_a, id_b
),
video_pairs AS (
  SELECT id_a AS media_id, {null_cols}, 'video_pair' AS op,
         NULL::BIGINT AS dhash, id_b::BIGINT AS pair_b,
         NULL::INTEGER AS hamming,
         round(greatest(ma::DOUBLE / ca.nf, mb::DOUBLE / cb.nf), 6)
           AS overlap
  FROM vagg
  JOIN vcnt ca ON ca.media_id = id_a
  JOIN vcnt cb ON cb.media_id = id_b
  WHERE round(greatest(ma::DOUBLE / ca.nf, mb::DOUBLE / cb.nf), 6) >= 0.5
),
html_docs AS (
  SELECT doc_id, {html_expr} AS html FROM documents
),
image_pair_rows AS (
  SELECT p.doc_id AS media_id, NULL::BIGINT AS n_bytes,
         sha256(coalesce(p.image_ref, chr(0)) || chr(31) ||
                coalesce(p.alt, chr(0)) || chr(31) ||
                coalesce(p.caption, chr(0)) || chr(31) ||
                coalesce(p.context, chr(0))) AS content_sha256,
         'image_pair' AS op, p.img_idx::INTEGER AS frame_index,
         NULL::BIGINT AS ts_ms, NULL::BIGINT AS dhash,
         NULL::BIGINT AS pair_b, NULL::INTEGER AS hamming,
         NULL::DOUBLE AS overlap
  FROM ({ip_sql}) p
)
SELECT media_id, n_bytes, content_sha256, op, frame_index, ts_ms,
       dhash, pair_b, hamming, overlap
FROM feats
UNION ALL SELECT media_id, n_bytes, content_sha256, op, frame_index,
       ts_ms, dhash, pair_b, hamming, overlap FROM frames
UNION ALL SELECT media_id, n_bytes, content_sha256, op, frame_index,
       ts_ms, dhash, pair_b, hamming, overlap FROM dhash_rows
UNION ALL SELECT media_id, n_bytes, content_sha256, op, frame_index,
       ts_ms, dhash, pair_b, hamming, overlap FROM pair_rows
UNION ALL SELECT media_id, n_bytes, content_sha256, op, frame_index,
       ts_ms, dhash, pair_b, hamming, overlap FROM video_pairs
UNION ALL SELECT media_id, n_bytes, content_sha256, op, frame_index,
       ts_ms, dhash, pair_b, hamming, overlap FROM image_pair_rows
"""


def oracle_cosine_topk() -> str:
    # query vector = embedding of vec_id 0, inlined via scalar subquery
    q = "(SELECT embedding FROM embeddings WHERE vec_id = 0)"
    return f"""
SELECT vec_id,
  round(list_sum(list_transform(list_zip(embedding, {q}),
        x -> x[1]::DOUBLE * x[2]::DOUBLE))
    / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
       * sqrt(list_sum(list_transform({q}, x -> x::DOUBLE * x::DOUBLE)))), 8) AS cosine
FROM embeddings
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


#: frames persisted by q_ann_topk (the shared IVF assignment + the
#: thrice-consumed exact tier); the PREVIOUS call's pair stays cached
#: because its lazy result may not have executed yet — same contract
#: as dedup._VERIFY_CACHE
_ANN_CACHE: list[DataFrame] = []


def _release_ann_cache(keep: int = 0) -> None:
    while len(_ANN_CACHE) > keep:
        try:
            _ANN_CACHE.pop(0).unpersist()
        except Exception:  # noqa: BLE001 - session already stopped
            pass


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k, the three scale paths in one entry — now
    HASH-EXACT (round 12, the 50th contract row):

    - method='exact': brute-force cosine top-10 (oracle: the same
      round-8 arithmetic in DuckDB).
    - method='lsh': hyperplane-LSH bucket prefilter + exact rescoring
      via `similarity.lsh_topk` — integer planes over integer-
      quantized vectors make every bucket decision exact BIGINT math,
      so `lsh_topk_sql` reproduces the row set bit-for-bit (the same
      engine-neutral trick that flipped simhash to hash-exact in
      round 11, `dedup.simhash_near_dups_sql`).
    - method='lsh_mp' (round 13): cost-ball multi-probe — probe every
      bucket whose total flip cost (sum of flipped planes' exact
      integer |margins|) <= the n_probes-th smallest flip-set cost;
      margins, home signature AND threshold are integers the
      self-contained DuckDB twin recomputes from the stored query
      row, so this tier is hash-exact too
      (`similarity.lsh_topk_costball(_sql)`).
    - IVF and IVF-PQ (k-means lists / ADC codes — genuinely
      SQL-inexpressible buckets) stay driver-visible as RECALL-GATE
      rows: each method contributes one sentinel row (vec_id -1/-2,
      score = its floor) emitted ONLY when its recall@10 vs the exact
      answer clears the floor; the oracle emits the sentinels
      unconditionally, so a recall collapse is a driver-visible
      rows+hash mismatch, while centroid-dependent hits never touch
      the hash. Floors: 0.5 detects broken IVF bucketing; PQ's 8-byte
      codes on near-uniform random vectors are the quantizer's worst
      case (measured ~0.3-0.5 recall@10), so its 0.2 floor only
      detects broken encode/ADC plumbing."""
    emb = _read(spark, sf_dir, "embeddings")
    # round 17: the entry's TWO eager driver steps (query-row first()
    # and the shared 4096-row training sample collect) are independent
    # Spark jobs that used to run back-to-back; submit them from a
    # 2-thread pool so the second job's tasks back-fill the first's
    # tail (guide §2.6). Same jobs, same results — only the driver-side
    # serialization between them is removed (~0.2-0.3 s at sf0.1).
    # r18: the sample collect's result is not needed until the
    # IVF/IVF-PQ trainers below, so the main thread no longer waits
    # for it before building the LSH/costball/batch frames — the
    # sample job now overlaps that construction chatter too; the
    # .result() moved just above train_centroids.
    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fq = _pool.submit(
            lambda: [
                float(x)
                for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
            ]
        )
        _fs = _pool.submit(similarity.sample_matrix, emb)
        query = _fq.result()
        lsh = similarity.lsh_topk(emb, query, k=10, n_planes=6).withColumn(
            "method", F.lit("lsh")
        )
        # round 13: cost-ball multi-probe tier (query-directed probing in
        # its oracle-able form — margins, home signature and the probe
        # threshold are all exact integers a self-contained DuckDB twin
        # recomputes from the stored query row; see
        # similarity.lsh_topk_costball)
        mp = similarity.lsh_topk_costball(
            emb, query, k=10, n_planes=6, n_probes=16
        ).select(
            "vec_id", F.col("cosine").alias("score"), F.lit("lsh_mp").alias("method")
        )
        # round 13: the BATCHED serving path, driver-checked — three query
        # rows answered by ONE bucket join; each query's rows carry a
        # method label 'batch_<qid>' and the oracle is the union of the
        # per-query cost-ball twins (the batch join's per-query semantics
        # are exactly lsh_topk_costball's, pinned by test AND here by hash)
        bqids = [1, 5, 9]
        bqueries = emb.filter(F.col("vec_id").isin(bqids)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        batch = similarity.lsh_topk_batch(
            emb, bqueries, k=5, n_planes=6, n_probes=8, exclude_self=False,
            dim=64,
        ).select(
            "vec_id",
            F.col("cosine").alias("score"),
            F.concat(F.lit("batch_"), F.col("query_id").cast("string")).alias(
                "method"
            ),
        )
        # round 6: the coarse quantizer is shared — centroids train once
        # and the assignment frame feeds both IVF (raw-vector rescoring)
        # and IVF-PQ (code encoding), the production one-index-many-tiers
        # shape (previously each method retrained its own k-means).
        # Round 8: the 4096-row training sample is also collected ONCE and
        # fed to both trainers (they defined the identical TakeOrdered
        # sample and each collected it — one redundant driver job); round
        # 17 moved the collect into the thread pool above; round 18 defers
        # the .result() to HERE so the sample job also overlaps the
        # LSH/costball/batch frame construction above.
        smp = _fs.result()
    cents = similarity.train_centroids(emb, n_centroids=16, sample_rows=smp)
    # spread() as the inline ivf_topk path did — a one-file parquet
    # would otherwise run the pandas-UDF GEMM single-threaded.
    # r18 (guide §2.4): `assigned` feeds BOTH the IVF tier (probe
    # filter + rescoring) and pq_encode — unpersisted, the pandas-UDF
    # assignment pass ran twice per action. In production this frame
    # IS the persisted IVF index (save_ivf_index writes it once); the
    # in-memory entry persists it for the same one-pass semantics.
    # Keep-latest release discipline mirrors dedup's verify cache.
    _release_ann_cache(keep=2)
    assigned = similarity.ivf_assign(similarity.spread(emb), cents).persist()
    _ANN_CACHE.append(assigned)
    ivf = similarity.ivf_topk(
        emb, query, k=10, n_centroids=16, n_probe=4,
        assigned=assigned, centroids=cents,
    ).withColumn("method", F.lit("ivf"))
    # round 5: the IVF-PQ tier joins the entry (scores are ADC
    # distances, not cosines — normalize the schema to the shared
    # (vec_id, score, method) shape)
    books = similarity.pq_train(emb, sample_rows=smp)
    codes = similarity.pq_encode(assigned, books)
    ivfpq = (
        similarity.ivfpq_topk(
            emb, query, k=10, n_probe=8,
            centroids=cents, codebooks=books, codes_df=codes,
        )
        .select(
            "vec_id", F.col("adc_dist").alias("score"),
            F.lit("ivfpq").alias("method"),
        )
    )
    lsh = lsh.select(
        "vec_id", F.col(lsh.columns[1]).alias("score"), "method"
    )
    # r18 (guide §2.4): the exact tier is consumed THREE times (its
    # own union rows + the two recall gates' broadcast id sets) —
    # unpersisted, the full scan+cosine+TakeOrdered subtree ran three
    # times per action for the same 10 rows. One persisted 10-row
    # frame serves all three consumers.
    exact = similarity.cosine_topk(emb, query, k=10).persist()
    _ANN_CACHE.append(exact)
    exact_rows = exact.select(
        "vec_id", F.col("cosine").alias("score"), F.lit("exact").alias("method")
    )
    exact_ids = exact.select("vec_id")

    def recall_gate(hits: DataFrame, floor: float, sentinel: int,
                    name: str) -> DataFrame:
        # one lazy 10-row semi-join + a scalar agg per method — the
        # sentinel row survives only while recall@10 >= floor
        return (
            hits.select("vec_id")
            .join(F.broadcast(exact_ids), "vec_id", "left_semi")
            .agg((F.count(F.lit(1)) / 10.0).alias("r"))
            .filter(F.col("r") >= floor)
            .select(
                F.lit(sentinel).cast("long").alias("vec_id"),
                F.lit(float(floor)).alias("score"),
                F.lit(name).alias("method"),
            )
        )

    return (
        exact_rows.unionByName(lsh)
        .unionByName(mp)
        .unionByName(batch)
        .unionByName(recall_gate(ivf, 0.5, -1, "ivf_recall_ge_floor"))
        .unionByName(recall_gate(ivfpq, 0.2, -2, "ivfpq_recall_ge_floor"))
    )


def oracle_ann_topk() -> str:
    ex = oracle_cosine_topk()
    lsh = similarity.lsh_topk_sql("embeddings", k=10, dim=64)
    mp = similarity.lsh_topk_costball_sql(
        "embeddings", k=10, n_planes=6, n_probes=16, dim=64
    )
    batch_parts = "\nUNION ALL\n".join(
        f"SELECT vec_id, cosine AS score, 'batch_{qid}' AS method FROM ("
        + similarity.lsh_topk_costball_sql(
            "embeddings", k=5, n_planes=6, n_probes=8, dim=64,
            query_pred=f"vec_id = {qid}",
        )
        + ")"
        for qid in (1, 5, 9)
    )
    return f"""
SELECT vec_id, cosine AS score, 'exact' AS method FROM ({ex})
UNION ALL
SELECT vec_id, cosine AS score, 'lsh' AS method FROM ({lsh})
UNION ALL
SELECT vec_id, cosine AS score, 'lsh_mp' AS method FROM ({mp})
UNION ALL
{batch_parts}
UNION ALL
SELECT -1::BIGINT AS vec_id, 0.5::DOUBLE AS score,
       'ivf_recall_ge_floor' AS method
UNION ALL
SELECT -2::BIGINT AS vec_id, 0.2::DOUBLE AS score,
       'ivfpq_recall_ge_floor' AS method
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-count stratified sampling (data mixing):
    keep an exact per-source fraction chosen by md5 hash order — the
    same doc survives on every run, any cluster. One shuffle on the
    stratum key (count + row_number share the partitioning)."""
    from cryo_spark.operators import sampling

    docs = _read(spark, sf_dir, "documents")
    out = sampling.stratified_sample_exact(docs, _STRATA_FRACS)
    return out.select("doc_id", "lang", "source")


_STRATA_FRACS = {"src0": 0.5, "src1": 0.25, "src2": 1.0}


def oracle_stratified_sample() -> str:
    from cryo_spark.operators import sampling

    inner = sampling.stratified_sample_exact_sql("documents", _STRATA_FRACS)
    return f"SELECT doc_id, lang, source FROM ({inner}) __s"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (email/phone/IPv4 -> typed placeholders) with
    per-category counts — one narrow JVM-regex projection."""
    return text.redact_pii(_read(spark, sf_dir, "documents"))


def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs verified by exact 3-gram Jaccard.

    Oracle: the exhaustive `ngram_jaccard_all_pairs` DuckDB SQL at the
    same threshold — LSH is only candidate GENERATION, so after the
    exact-Jaccard verify the result must equal the all-pairs answer.
    A hash match therefore also PROVES LSH recall on this corpus
    (a missed true pair would show up as a missing row).

    Recall dependency (deliberate pin): at k=16/bands=4 LSH recall is
    probabilistic — a regenerated fixture corpus containing a
    borderline ~0.5-Jaccard pair could fail this gate without any
    code change. If a round fails ONLY here, widen bands (e.g.
    bands=8) before debugging the verify stage.

    Round 6: candidates now come from the INCREMENTAL index path
    (`operators.incremental`) — the corpus is split base/delta by
    doc_id parity, each half builds a persistable (id, sig) minhash
    index, and candidates are signature_pairs(base) ∪
    incremental_pairs(base, delta), exactly the daily
    index-plus-new-batch workflow. The candidate set provably equals
    the direct LSH run (unit-pinned in test_round6_ops), so the same
    exhaustive oracle now proves the index/delta machinery end-to-end
    at no extra cost (still one signature pass over the corpus)."""
    docs = _read(spark, sf_dir, "documents")
    # the index frame is consumed three times below (base pairs, the
    # delta join's both sides): lazily localCheckpoint it so the
    # signature pass runs ONCE. Round-8 A/B at sf0.1 (best of 3,
    # post-bucketed-index work): recompute 1.77s, persist() 1.75s,
    # localCheckpoint 0.92s — checkpoint wins because it truncates the
    # lineage, so the three consumers plan against the materialized
    # k-longs-per-doc frame instead of re-optimizing the whole
    # shingle->minhash subtree. (persist() keeps lineage AND would
    # piggyback on dedup's verify-cache rotation, evicting frames it
    # protects.) Cluster trade documented: localCheckpoint stores on
    # executors, so a lost executor fails the job instead of
    # recomputing — acceptable for an index that is k longs/doc; a
    # real deployment materializes it as parquet anyway (the
    # daily-ingest workflow test drives exactly that path).
    full_idx = incremental.minhash_index(docs).localCheckpoint(eager=False)
    # pmod, not %: Spark's % keeps the dividend sign, so a plain
    # parity split would silently drop negative odd ids (and
    # read_documents emits signed xxhash64 ids) — pmod is exhaustive
    # for any long
    parity = F.pmod(F.col("doc_id"), F.lit(2))
    base_idx = full_idx.filter(parity == 0)
    new_idx = full_idx.filter(parity == 1)
    # with_est=False: the exact-Jaccard verify below supersedes the
    # signature estimate, so the sig-attach joins are skipped
    pairs = incremental.signature_pairs(
        base_idx, with_est=False
    ).unionByName(
        incremental.incremental_pairs(base_idx, new_idx, with_est=False)
    )
    # deliberately NOT persisted: the exploded shingle frame is larger
    # than its source, so materializing it costs more than recomputing
    # the (pipelined, codegen-fused) explode in each consumer — 2x
    # faster measured at sf0.1, and the same logic holds at cluster
    # scale where the cache write would also spill
    shingles = dedup.shingle_rows(docs)
    return (
        dedup.ngram_jaccard(docs, pairs, shingles=shingles)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (engine-neutral md5-derived hash since
    round 11 — see dedup.simhash)."""
    return dedup.simhash(_read(spark, sf_dir, "documents"))


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via 8-band pigeonhole + hamming verify.

    HASH-EXACT oracle since round 11: the per-token hash is
    engine-neutral (DuckDB ``md5_number_lower`` = little-endian low 8
    bytes of md5, extracted JVM-side via conv/substring), so the
    whole signature → banding → hamming chain is deterministic
    arithmetic with a DuckDB SQL twin
    (dedup.simhash_near_dups_sql) — the driver verifies the exact
    pair set + hamming values, not just row counts.

    In-contract recall pin (same spirit as the minhash oracle pin):
    the result must cover >= 80% of the exact-3-gram-Jaccard >= 0.7
    pairs from the already-oracled all-pairs path — a recall collapse
    raises here, turning the unit-level claim into a driver-visible
    one. NOT a superset gate: simhash hamming tracks the cosine of
    term-frequency vectors, so even >= 0.9-Jaccard pairs can flip > 7
    of 64 bits (measured coverage 97% at sf0.1, 100% at sf0.01 with
    the md5-derived hash — the 0.8 floor leaves fixture-regeneration
    margin). If a round fails
    ONLY here, it is the corpus, not simhash — lower the floor before
    debugging the operator."""
    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_dups(docs)
    exact = dedup.ngram_jaccard_all_pairs(docs, min_jaccard=0.7).select(
        "id_a", "id_b"
    )
    stats = (
        exact.join(
            pairs.select("id_a", "id_b", F.lit(1).alias("__hit")),
            ["id_a", "id_b"], "left",
        )
        .agg(F.count("*").alias("n"), F.count("__hit").alias("hits"))
        .first()
    )
    if stats.n and stats.hits / stats.n < 0.8:
        raise AssertionError(
            f"simhash banding covers only {stats.hits}/{stats.n} "
            "exact-Jaccard>=0.7 pairs (floor 0.8)"
        )
    return pairs


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One wide per-document text-analysis profile: word stats +
    language ID + content fingerprint + BPE token count + PII
    redaction, joined on doc_id (each part keeps its own oracle-SQL
    builder; the oracle is the same five-way join in DuckDB).

    Merged from five formerly-separate contract entries (round 5) to
    stay inside the driver's 50-entry scoring window while the freed
    slots take the new span-dedup / n-gram / keyword / mixing
    operators — every constituent operator is still exercised and
    hash-checked here. Round 8 folds in the formerly-solo
    `llm_quality_score` entry (quality + Gopher repetition metrics,
    also a per-doc projection keyed on doc_id) the same way, freeing
    that slot for `llm_line_dedup`. The joins all key on doc_id, so
    sort-merge reuses one exchange; at scale the six projections
    would fuse into a single select over one scan (each part is
    narrow)."""
    docs = _read(spark, sf_dir, "documents")
    # r18 (guide §2.4): the six projections now FUSE into a single
    # select over one scan (text.text_profile) — the five doc_id
    # joins only re-attached columns of row-wise projections of the
    # same unique-keyed table, i.e. they were a six-scan spelling of
    # one projection. Result-identical (pinned old-vs-new in
    # tests/test_r18_optim.py; oracle unchanged); plan: 6 scans + 5
    # joins -> 1 scan, 0 joins.
    return text.text_profile(docs)


def oracle_text_profile() -> str:
    ws = text.word_stats_sql("documents")
    li = text.lang_id_sql("documents")
    fp = text.fingerprint_sql("documents")
    bp = text.bpe_token_count_sql("documents")
    pi = text.redact_pii_sql("documents")
    qr = text.quality_with_repetition_sql("documents")
    return f"""
SELECT a.*, b.* EXCLUDE (doc_id), c.* EXCLUDE (doc_id),
  d.* EXCLUDE (doc_id, n_chars), e.* EXCLUDE (doc_id),
  f.* EXCLUDE (doc_id)
FROM ({ws}) a
JOIN ({li}) b USING (doc_id)
JOIN ({fp}) c USING (doc_id)
JOIN ({bp}) d USING (doc_id)
JOIN ({pi}) e USING (doc_id)
JOIN ({qr}) f ON f.doc_id = a.doc_id
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level corpus dedup (CCNet, Wenzek et al. 2020) — the
    standard web-corpus pre-filter: whole lines (cookie banners,
    navigation, footers) repeated across >= min_docs distinct
    documents are boilerplate. BOTH modes are exercised and
    hash-proven in one entry via a mode column: 'drop' (the CCNet/C4
    boilerplate filter — every occurrence removed) and 'keep_first'
    (shard dedup proper — the globally-first occurrence survives).
    One exchange on the trimmed line key feeds both the distinct-doc
    count and the min-struct keeper (partial aggs); reassembly
    shuffles on doc_id, bounded by the largest document.

    The testdata documents are single-line (no newlines at any sf),
    which would make line dedup a hash-proven identity — so both
    engines first derive the SAME multi-line text by wrapping every
    6th word onto a new line (pure regex, computed identically in
    Spark and DuckDB). Short lines from a small vocabulary repeat
    across docs, so the dup-removal branch of BOTH modes is actually
    exercised by the hash check, not just the passthrough."""
    from cryo_spark.operators import spans

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", _wrap_lines_expr("text").alias("text")
    )
    # dedup_lines_modes shares the explode + line-key exchange between
    # the two modes (checkpointed verdict frame; 1.77s -> 1.20s at
    # sf0.1) — pinned equivalent to per-mode dedup_lines by test
    return spans.dedup_lines_modes(docs)


def rehearsal_span_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-ladder rehearsal (contract.py MERGE LADDER #1), NOT in
    queries(): llm_span_dedup + llm_line_dedup folded into one
    kind-discriminated entry on the canonical column union
    (kind, mode, doc_id, text, n_units, n_kept). Kept OUT of the
    50-entry window until a new feature needs the slot; the test
    proving this union hash-checks against its DuckDB twin is
    tests/test_round17_ops.py, so executing the fold is a rename."""
    span = q_span_dedup(spark, sf_dir).select(
        F.lit("span").alias("kind"), F.lit("-").alias("mode"),
        F.col("doc_id").cast("long"), "text",
        F.col("n_spans").cast("long").alias("n_units"),
        F.col("n_kept").cast("long"),
    )
    line = q_line_dedup(spark, sf_dir).select(
        F.lit("line").alias("kind"), "mode",
        F.col("doc_id").cast("long"), "text",
        F.col("n_lines").cast("long").alias("n_units"),
        F.col("n_kept").cast("long"),
    )
    return span.unionByName(line)


def rehearsal_span_family_sql() -> str:
    span = spans_mod.dedup_spans_sql("documents")
    return (
        f"SELECT 'span' AS kind, '-' AS mode, doc_id, text, "
        f"n_spans::BIGINT AS n_units, n_kept::BIGINT AS n_kept "
        f"FROM ({span})\n"
        f"UNION ALL\n"
        f"SELECT kind, mode, doc_id, text, n_units, n_kept FROM ("
        f"SELECT 'line' AS kind, mode, doc_id, text, "
        f"n_lines::BIGINT AS n_units, n_kept::BIGINT AS n_kept "
        f"FROM ({oracle_line_dedup()}))"
    )


_WRAP_RE = r"((?:\S+\s+){5}\S+)\s+"


def _wrap_lines_expr(col: str):
    return F.regexp_replace(F.col(col), _WRAP_RE, "$1\n")


def _wrap_lines_table_sql(table: str) -> str:
    return (
        f"SELECT doc_id, regexp_replace({table}.text, "
        f"'{_WRAP_RE}', '\\1' || chr(10), 'g') AS text FROM {table}"
    )


def oracle_line_dedup() -> str:
    wrapped = _wrap_lines_table_sql("documents")
    halves = [
        f"SELECT '{m}' AS mode, * FROM ({spans_mod.dedup_lines_sql('wrapped_docs', mode=m)})"
        for m in ("drop", "keep_first")
    ]
    return (
        f"WITH wrapped_docs AS ({wrapped})\n"
        + " UNION ALL ".join(halves)
    )


def _messy_url_expr():
    """Deterministic crawl-shaped URL derived from (doc_id, source) —
    the testdata has no url column, so BOTH engines derive the same
    messy address. The SAME derivation in SQL is `_MESSY_URL_SQL`.

    Variant keying: testdata doc_ids stride by #sources (doc_id % 20 =
    source index), so any `doc_id % k` with k | 20 is CONSTANT within
    a host — page number and query variant therefore key on the
    per-source ordinal `doc_id // 20` (pages really collide: 25 docs
    onto 10 pages/host, with query-form variants overlapping within a
    page so canonical dedup collapses real groups), while port and
    fragment noise use doc_id residues coprime to the stride."""
    d = F.col("doc_id")
    o = F.floor(d / 20)  # per-source ordinal (testdata stride = 20)
    return F.concat(
        F.when(d % 2 == 0, F.lit("https://")).otherwise(F.lit("http://")),
        F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example.com"),
        F.when(d % 7 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/page/"),
        (o % 10).cast("string"),
        F.when(o % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(o % 4 == 0, F.lit("?utm_source=feed"))
        .when(o % 4 == 1, F.lit("?b=2&a=1"))
        .when(o % 4 == 2, F.lit("?a=1&b=2"))
        .otherwise(F.lit("")),
        F.when(d % 11 == 0, F.lit("#top")).otherwise(F.lit("")),
    )


_MESSY_URL_SQL = """(
  CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END ||
  CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||
  source || '.example.com' ||
  CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END ||
  '/page/' || (floor(doc_id / 20)::BIGINT % 10)::VARCHAR ||
  CASE WHEN floor(doc_id / 20)::BIGINT % 5 = 0 THEN '/' ELSE '' END ||
  CASE floor(doc_id / 20)::BIGINT % 4 WHEN 0 THEN '?utm_source=feed'
                  WHEN 1 THEN '?b=2&a=1'
                  WHEN 2 THEN '?a=1&b=2' ELSE '' END ||
  CASE WHEN doc_id % 11 = 0 THEN '#top' ELSE '' END
)"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup CONTROLS (RefinedWeb §3.1 / CCNet shape), three
    operators hash-proven in one entry via a kind column (exact_dedup
    folded in round 10, freeing a contract slot for `corpus_funnel`
    inside the 50-entry scoring window — the same consolidation
    rounds 5/6/8 used):

    - kind='url_dedup': canonicalize (scheme/www/port/fragment/
      trailing-slash/tracking-param/param-order normalization) then
      keep-first exact URL dedup — key = canonical url, ref_id =
      keeper doc, flag = is_duplicate.
    - kind='domain_cap': per-host document rank with a cap-15 keep
      flag — key = canonical host, ref_id = rank, flag = kept.
    - kind='exact_dedup': content-level exact dedup (md5 of normalized
      text) — key = NULL (the hash key is engine-internal), ref_id =
      keeper doc, flag = is_duplicate.

    Scale: canonicalization is a zero-shuffle JVM projection; dedup is
    one exchange on the canonical key (window keeper reuses it);
    domain_cap windows sort one host per task (SCALE.md documents the
    mega-host prefilter); exact_dedup is one exchange on the content
    hash with the dupe flag riding the same partitioning."""
    from cryo_spark.operators import web

    full = _read(spark, sf_dir, "documents")
    docs = full.select("doc_id", _messy_url_expr().alias("url"))
    ud = web.url_dedup(docs).select(
        F.lit("url_dedup").alias("kind"),
        "doc_id",
        F.col("canonical_url").alias("key"),
        F.col("keeper_id").alias("ref_id"),
        F.col("is_duplicate").alias("flag"),
    )
    dc = web.domain_cap(docs, cap=15).select(
        F.lit("domain_cap").alias("kind"),
        "doc_id",
        F.col("domain").alias("key"),
        F.col("domain_rank").alias("ref_id"),
        F.col("kept").alias("flag"),
    )
    ed = dedup.exact_dedup(full).select(
        F.lit("exact_dedup").alias("kind"),
        "doc_id",
        F.lit(None).cast("string").alias("key"),
        F.col("keeper_id").alias("ref_id"),
        F.col("is_duplicate").alias("flag"),
    )
    return ud.unionByName(dc).unionByName(ed)


def oracle_url_dedup() -> str:
    from cryo_spark.operators import web

    ud = web.url_dedup_sql("messy_docs")
    dc = web.domain_cap_sql("messy_docs", cap=15)
    ed = dedup.exact_dedup_sql("documents")
    return f"""
WITH messy_docs AS (
  SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents
)
SELECT 'url_dedup' AS kind, doc_id, canonical_url AS key,
       keeper_id AS ref_id, is_duplicate AS flag FROM ({ud})
UNION ALL
SELECT 'domain_cap' AS kind, doc_id, domain AS key,
       domain_rank AS ref_id, kept AS flag FROM ({dc})
UNION ALL
SELECT 'exact_dedup' AS kind, doc_id, NULL::VARCHAR AS key,
       keeper_id AS ref_id, is_duplicate AS flag FROM ({ed})
"""


#: full-option funnel configuration: every optional stage ON so the
#: report exercises all 11 boundaries. Blocklist hosts / cap sized to
#: the messy-url derivation (20 sources x 25 docs collapsing onto 10
#: pages/host at sf0.01): two blocked source hosts, cap 8 < 10 pages
#: so domain_cap visibly fires after url_dedup.
_FUNNEL_KW = dict(
    url_col="url",
    url_blocklist=["src3.example.com", "src7.example.com"],
    domain_cap_n=8,
    line_dedup=True,
    near_dup=True,
    budget=60,
)


def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage attrition (funnel) report for the FULL
    prepare_training_corpus pipeline — the docs/tokens-retained view a
    production corpus job is steered by. One row per stage boundary
    (input, url_blocklist, url_dedup, domain_cap, quality_lang_exact,
    line_dedup, span_dedup, near_dup, redact, temperature_mix, split)
    with docs/tokens in/out and retention pcts.

    The stage list comes from the SAME `_corpus_stages` chain the
    pipeline runs (single source of truth), each boundary persisted so
    the corpus is scanned once; per-boundary aggregates are map-side
    partial counts and the lag() window orders 11 single-row partials
    on one task — metadata-sized at any corpus scale. Oracle: the
    identical CTE chain + counts in DuckDB (MATERIALIZED CTEs — the
    funnel consumes each stage twice, inlining re-executes the chain
    per consumer, measured 140x slower)."""
    docs = _read(spark, sf_dir, "documents").withColumn(
        "url", _messy_url_expr()
    )
    return corpus.corpus_funnel(docs, **_FUNNEL_KW)


def oracle_corpus_funnel() -> str:
    prelude = (
        "funnel_docs AS MATERIALIZED (\n"
        f"  SELECT *, {_MESSY_URL_SQL} AS url FROM documents\n),"
    )
    return corpus.corpus_funnel_sql(
        "funnel_docs", prelude=prelude, **_FUNNEL_KW
    )


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate-span removal (fixed-grid exact-substring
    dedup, Lee et al. 2022 shape): every later occurrence of a
    10-word span is cut and documents are rebuilt from the survivors.
    The keeper choice is a map-side-combining min-struct aggregate —
    hot boilerplate spans never funnel into one task."""
    from cryo_spark.operators import spans

    return spans.dedup_spans(_read(spark, sf_dir, "documents"))


def q_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram statistics, two formerly-separate oracled
    entries merged (round 6, freeing a contract slot for
    `llm_dsir_select` inside the 50-entry scoring window — the same
    consolidation round 5 used for the text profile):

    - kind='corpus_top': top-100 bigrams by occurrence (partial count
      agg + TakeOrderedAndProject per-task heaps); rank = position in
      the deterministic count-desc/ngram-asc order, value = count.
    - kind='doc_keyword': per-doc top-5 tf-idf terms (linear idf for
      bit-exact cross-engine scores); value = tfidf.

    Both halves remain individually hash-proven — the union is a
    column-aligned UNION ALL on both engines."""
    docs = _read(spark, sf_dir, "documents")
    tn = text.top_ngrams(docs, n=2, k=100)
    tn_ranked = tn.select(
        F.lit("corpus_top").alias("kind"),
        F.lit(None).cast("long").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("occurrences"), "ngram"))
        .cast("long")
        .alias("rank"),
        F.col("ngram").alias("term"),
        F.col("occurrences").cast("double").alias("value"),
    )
    kw = text.keyword_extract(docs, k=5).select(
        F.lit("doc_keyword").alias("kind"),
        F.col("doc_id").cast("long"),
        F.col("rank").cast("long"),
        "term",
        F.col("tfidf").alias("value"),
    )
    return tn_ranked.unionByName(kw)


def oracle_ngram_stats() -> str:
    tn = text.top_ngrams_sql("documents", n=2, k=100)
    kw = text.keyword_extract_sql("documents", k=5)
    return f"""
WITH __tn AS ({tn}), __kw AS ({kw})
SELECT 'corpus_top' AS kind, CAST(NULL AS BIGINT) AS doc_id,
       row_number() OVER (ORDER BY occurrences DESC, ngram)::BIGINT AS rank,
       ngram AS term, occurrences::DOUBLE AS value
FROM __tn
UNION ALL
SELECT 'doc_keyword', doc_id, rank, term, tfidf FROM __kw
"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023 shape): score every
    raw doc by how much its hashed-bigram distribution looks like the
    target slice (lang='en' stands in for the reference corpus) and
    Gumbel-top-k resample 100 — sampling-without-replacement
    proportional to the importance weights.

    Fully oracle-checkable by construction: md5-derived buckets,
    ln() over exact integers only, weights rounded to 6 decimals
    BEFORE ranking, Gumbel noise from md5(seed:id) — DuckDB computes
    the identical selection bit-for-bit. Scale: corpus shuffles once
    (per-doc weight agg over a broadcast 4096-row ratio table);
    the top-k is TakeOrderedAndProject (plan-pinned)."""
    docs = _read(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return dsir.dsir_select(docs, target, k=100, gumbel_seed="dsir0")


def oracle_dsir_select() -> str:
    return dsir.dsir_select_sql(
        "documents",
        "(SELECT * FROM documents WHERE lang='en') AS __tgt",
        100,
        gumbel_seed="dsir0",
    )


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing (alpha = 0.5, ~200-row
    budget at the check scale): deterministic hash-order draws with
    per-source quotas proportional to count^alpha. Round 10 absorbs
    the data-constrained variant (the established merge pattern):
    `epoch_mix` rows ride along under mode='epoch' with a budget
    past the corpus size (1160 over 20x25-doc sources = two full
    epochs + a fractional hash-prefix third), so the repetition AND
    fractional-epoch quota math is hash-proven. Text column dropped from the
    checked surface (selection is what's under test; the rows are
    verbatim inputs)."""
    docs = _read(spark, sf_dir, "documents")
    flat = (
        sampling.temperature_mix(docs, budget=200, alpha=0.5)
        .select("doc_id", "lang", "source", "n_chars")
        .withColumn("mode", F.lit("flat"))
        .withColumn("epoch", F.lit(0))
    )
    ep = sampling.epoch_mix(
        docs, budget=1160, alpha=0.2, max_epochs=3
    ).select(
        "doc_id", "lang", "source", "n_chars",
        F.lit("epoch").alias("mode"), F.col("epoch").cast("int"),
    )
    return flat.unionByName(ep)


def oracle_temperature_mix() -> str:
    flat = sampling.temperature_mix_sql("documents", budget=200, alpha=0.5)
    ep = sampling.epoch_mix_sql(
        "documents", budget=1160, alpha=0.2, max_epochs=3
    )
    return f"""
SELECT doc_id, lang, source, n_chars, 'flat' AS mode, 0 AS epoch
FROM ({flat}) __m
UNION ALL
SELECT doc_id, lang, source, n_chars, 'epoch' AS mode, epoch
FROM ({ep}) __e
"""


# --------------------------------------------------------------------------
# the contract
# --------------------------------------------------------------------------
#
# Every driver-facing query passes through contract.canon_df /
# contract.canon_sql: binary columns render as 0x-hex strings (the
# reference's own hex output rendering, crates/cli/src/parse/
# schemas.rs:37-40) and decimal columns as exact decimal strings, so
# the driver's pandas canonicalizer sees hashable, engine-identical
# values on both sides. Related datasets share one merged entry
# (contract.MERGED), mirroring the reference's MultiDatatype groups
# (crates/freeze/src/types/datatypes/multi.rs), keeping the contract
# at <= 50 entries — the driver's scoring window.

def _chain_query(name: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        generate(FIXTURES_DIR)
        df = TRANSFORMS[name](spark, FIXTURES_DIR)
        for c in DROP_FOR_ORACLE.get(name, []):
            df = df.drop(c)
        return contract.canon_df(df)

    return run


def _merged_query(group: str) -> Callable[[SparkSession, str], DataFrame]:
    spec = contract.MERGED[group]

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from cryo_spark import api

        generate(FIXTURES_DIR)
        # members of a group read the same raw table: persist it so
        # the union runs ONE scan (plan-cache substitution, the same
        # mechanism collect_multi uses)
        api.persist_shared_raws(spark, list(spec["parts"]), FIXTURES_DIR)
        out = None
        for part, mapping in spec["parts"].items():
            df = contract.merged_part_df(
                TRANSFORMS[part](spark, FIXTURES_DIR), part, mapping, spec["cols"]
            )
            out = df if out is None else out.unionByName(df)
        return out

    return run


#: datasets that keep an individual contract entry
SOLO_DATASETS = [n for n in sorted(TRANSFORMS) if n not in contract.MERGED_MEMBERS]


def q_transactions_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full collect() API path (reference cryo.collect parity):
    block-range chunks, all columns, u256 expansion into the default
    representation set (value_binary/_string/_f64), dataset sort."""
    from cryo_spark import api

    generate(FIXTURES_DIR)
    return api.collect(
        spark, "transactions", blocks="0:1000", columns=["all"],
        fixtures_dir=FIXTURES_DIR,
    )


def oracle_transactions_collect() -> str:
    from cryo_spark.schemas import get_spec

    spec = get_spec("transactions")
    return contract.expand_u256_sql(
        ORACLES["transactions"](FIXTURES_DIR),
        spec.column_names(),
        [c.name for c in spec.columns if c.ctype == "u256"],
    )


def _dataset_oracles() -> dict[str, str]:
    """Canonicalized DuckDB SQL for every dataset entry. Output types
    are introspected via DESCRIBE so the canon wrapper never drifts
    from the oracle's actual schema."""
    import duckdb

    generate(FIXTURES_DIR)
    con = duckdb.connect()
    out: dict[str, str] = {}
    sql = oracle_transactions_collect()
    out["dataset_transactions_collect"] = contract.canon_sql(
        sql, contract.duck_output_types(con, sql)
    )
    for name in SOLO_DATASETS:
        sql = ORACLES[name](FIXTURES_DIR)
        out[f"dataset_{name}"] = contract.canon_sql(
            sql, contract.duck_output_types(con, sql)
        )
    for group, spec in contract.MERGED.items():
        parts = []
        for part, mapping in spec["parts"].items():
            sql = ORACLES[part](FIXTURES_DIR)
            parts.append(contract.merged_part_sql(
                sql, part, mapping, spec["cols"],
                contract.duck_output_types(con, sql),
            ))
        out[f"dataset_{group}"] = "\nUNION ALL\n".join(parts)
    con.close()
    return out


def _generic_oracles() -> dict[str, str]:
    """Canonicalized SQL for the generic/LLM entries. DESCRIBE runs
    against testdata views (output types are sf-independent); if no
    testdata dir is reachable, fall back to the raw SQL — still
    correct for every query without decimal outputs."""
    import duckdb

    con = duckdb.connect()
    sf = next(
        (d for d in ("/root/testdata/sf0.01", "/root/testdata/sf0.001",
                     "/root/testdata/sf0.1") if os.path.isdir(d)),
        None,
    )
    if sf is not None:
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
            )
    out: dict[str, str] = {}
    for name, (_, sql_fn) in GENERIC.items():
        sql = sql_fn()
        try:
            out[name] = contract.canon_sql(sql, contract.duck_output_types(con, sql))
        except Exception:
            out[name] = sql
    con.close()
    return out


GENERIC = {
    "pricing_summary": (q_pricing_summary, oracle_pricing_summary),
    "top_orders": (q_top_orders, oracle_top_orders),
    "nation_revenue": (q_nation_revenue, oracle_nation_revenue),
    "first_order_per_customer": (
        q_first_order_per_customer,
        oracle_first_order_per_customer,
    ),
    "events_hourly": (q_events_hourly, oracle_events_hourly),
    "llm_decontaminate": (q_decontaminate, oracle_decontaminate),
    "customers_without_orders": (
        q_customers_without_orders,
        oracle_customers_without_orders,
    ),
    "region_nation_names": (q_region_nation_names, oracle_region_nation_names),
    "part_type_rollup": (q_part_type_rollup, oracle_part_type_rollup),
    "salted_event_totals": (q_salted_event_totals, oracle_salted_event_totals),
    "orders_asof_events": (q_orders_asof_events, oracle_orders_asof_events),
    # round 10: crawl ingestion (HTTP split + main-content extraction
    # + noindex) composed IN FRONT of the clean — WARC→text chain now
    # driver-hash-proven inside this entry
    "llm_clean_corpus": (q_clean_corpus, oracle_clean_corpus),
    # word_stats / lang_id / fingerprint / bpe_token_count /
    # pii_redact merged into one five-way-join profile entry in
    # round 5 (all five operators still hash-checked; the freed slots
    # carry the four new round-5 operators below)
    "llm_text_profile": (q_text_profile, oracle_text_profile),
    "llm_span_dedup": (
        q_span_dedup, lambda: spans_mod.dedup_spans_sql("documents")
    ),
    # round 8: both dedup_lines modes hash-proven in one entry; the
    # slot came from folding llm_quality_score into llm_text_profile
    "llm_line_dedup": (q_line_dedup, oracle_line_dedup),
    # round 6: llm_top_ngrams + llm_keywords merged (both halves stay
    # hash-proven); the freed slot carries llm_dsir_select
    "llm_ngram_stats": (q_ngram_stats, oracle_ngram_stats),
    "llm_dsir_select": (q_dsir_select, oracle_dsir_select),
    "llm_temperature_mix": (q_temperature_mix, oracle_temperature_mix),
    # llm_exact_dedup folded into llm_url_dedup (round 10, kind=
    # 'exact_dedup' — still hash-proven there); the freed slot carries
    # the pipeline funnel report
    "corpus_funnel": (q_corpus_funnel, oracle_corpus_funnel),
    # llm_cosine_topk + llm_embedding_near_dups merged into
    # llm_embedding_sim in round 8 (both halves stay hash-proven);
    # the freed slot carries llm_url_dedup
    "llm_embedding_sim": (q_embedding_sim, oracle_embedding_sim),
    "llm_url_dedup": (q_url_dedup, oracle_url_dedup),
    # llm_quality_score folded into llm_text_profile in round 8 (same
    # per-doc-projection shape; still hash-proven there) — slot freed
    # for llm_line_dedup
    "llm_ngram_jaccard_pairs": (
        q_ngram_jaccard_pairs,
        lambda: dedup.ngram_jaccard_all_pairs_sql("documents"),
    ),
    "llm_near_dup_clusters": (q_near_dup_clusters, oracle_near_dup_clusters),
    "llm_minhash_near_dups": (
        q_minhash_near_dups,
        # exhaustive all-pairs SQL: equality proves LSH recall
        lambda: dedup.ngram_jaccard_all_pairs_sql("documents"),
    ),
    "llm_stratified_sample": (q_stratified_sample, oracle_stratified_sample),
    "llm_multimodal": (q_multimodal, oracle_multimodal),
    # round 11: hash-exact (was rows-only since r5) — the simhash
    # token hash is now engine-neutral md5-derived arithmetic
    # (DuckDB's md5_number_lower), so the full signature → banding →
    # hamming chain has a deterministic SQL twin
    "llm_simhash_near_dups": (
        q_simhash_near_dups,
        lambda: dedup.simhash_near_dups_sql("documents"),
    ),
    # round 12: hash-exact (was the last rows-only entry) — the LSH
    # tier's buckets are now exact integer arithmetic with a DuckDB
    # twin (similarity.lsh_topk_sql), the exact tier was always
    # SQL-expressible, and the k-means tiers (IVF / IVF-PQ) are
    # driver-visible as unconditional oracle sentinel rows that the
    # Spark side emits only while recall@10 clears each floor
    "llm_ann_topk": (q_ann_topk, oracle_ann_topk),
    # round 15: the learned-encoder ADAPTER path hash-proven end to
    # end — raw docs -> encode_documents (Arrow-batched mapInPandas
    # model hook, here the deterministic synonym stub) -> graph_dedup;
    # DuckDB recomputes the identical embeddings (CASE-mapped synonym
    # table + md5 bucket/sign bits) and the identical graph verdict
    "llm_synonym_dedup": (q_synonym_dedup, oracle_synonym_dedup),
}

# llm_simhash (raw signature dump) gave up its contract slot to the
# oracle-backed llm_near_dup_clusters; simhash stays covered by
# llm_simhash_near_dups (hash-exact since round 11) + unit tests.
# llm_ann_topk left this set in round 12 — every contract entry now
# has a full rows+schema+hash oracle.
NO_ORACLE: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


def _canon_generic(fn: Callable[[SparkSession, str], DataFrame]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return contract.canon_df(fn(spark, sf_dir))

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, (fn, _) in GENERIC.items():
        out[name] = _canon_generic(fn)
    for name, fn in NO_ORACLE.items():
        out[name] = _canon_generic(fn)
    out["dataset_transactions_collect"] = _canon_generic(q_transactions_collect)
    for name in SOLO_DATASETS:
        out[f"dataset_{name}"] = _chain_query(name)
    for group in contract.MERGED:
        out[f"dataset_{group}"] = _merged_query(group)
    return out


def oracle_sql() -> dict[str, str]:
    out = _generic_oracles()
    out.update(_dataset_oracles())
    return out

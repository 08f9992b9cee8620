"""URL-level corpus controls: canonicalization, exact URL dedup, and
per-domain document caps — the standard web-corpus steps (RefinedWeb,
Penedo et al. 2023 §3.1; CCNet keeps one doc per URL) that run BEFORE
any content-based dedup: the same page fetched twice (http/https,
tracking params, trailing slash, fragment) should never reach the
text-hash stages as two documents.

Scale design (the 100 TB story):
- canonicalization is a pure column expression (regex + array ops,
  all JVM whole-stage-codegen) — zero shuffles, evaluated inline in
  the consumer's scan projection.
- url_dedup is exactly the :func:`cryo_spark.operators.dedup.exact_dedup`
  shape: one shuffle on the canonical-url key, keeper chosen by a
  min/max-struct WINDOW over the same partitioning (no second
  exchange).
- domain_cap is one window per host: row_number partitioned by the
  canonical host sorts only THAT host's rows. A mega-host (100M docs
  of one domain at crawl scale) funnels its sort through one task —
  mitigate by pre-filtering with a per-host count agg + hash
  threshold to ~2x the cap before the exact window (documented in
  SCALE.md; the window stays the correctness anchor).

Every output is oracle-checked against the identical DuckDB SQL
(same regex/array pipeline — both engines canonicalize the same
bytes the same way).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cryo_spark.operators.util import spread as _spread

#: query parameters that identify a TRACKING payload, not a resource:
#: the standard strip-list (utm_* campaign tags, click ids, mailchimp).
#: Bare ``ref``/``referrer`` are deliberately NOT here: on many real
#: sites they are content-bearing (GitHub ``?ref=branch``, doc pages),
#: so stripping them would collapse genuinely distinct pages. Callers
#: whose corpus treats them as tracking pass a custom list.
DEFAULT_TRACKING_PARAMS: tuple[str, ...] = (
    "utm_[A-Za-z0-9_]*", "gclid", "fbclid", "igshid", "mc_cid", "mc_eid",
)


def tracking_param_re(params: Sequence[str] = DEFAULT_TRACKING_PARAMS) -> str:
    """Anchored match-one-param regex from a list of param-NAME
    patterns (RE2 ∩ Java subset so Spark and DuckDB agree)."""
    return "^(" + "|".join(params) + ")="


TRACKING_PARAM_RE = tracking_param_re()

_SCHEME_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://"


def canonical_url(
    col: str | Column, tracking_re: str = TRACKING_PARAM_RE
) -> Column:
    """Canonical dedup KEY for a URL (not a fetchable address): scheme
    dropped (http/https duplicates collapse), host lowercased with
    leading ``www.`` and default ports stripped, fragment removed,
    trailing slashes trimmed, tracking params dropped and the
    remaining query params sorted. Pure JVM expression.
    ``tracking_re`` overrides the strip-list (build one with
    :func:`tracking_param_re`)."""
    u = F.trim(F.col(col) if isinstance(col, str) else col)
    u = F.regexp_replace(u, r"#.*$", "")  # fragment
    u = F.regexp_replace(u, _SCHEME_RE, "")  # scheme
    host = F.lower(F.regexp_extract(u, r"^([^/?]*)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.regexp_replace(host, r":(80|443)$", "")
    rest = F.regexp_replace(u, r"^[^/?]*", "")
    path = F.regexp_replace(F.regexp_extract(rest, r"^([^?]*)", 1), r"/+$", "")
    query = F.when(
        rest.contains("?"), F.regexp_replace(rest, r"^[^?]*\?", "")
    ).otherwise(F.lit(""))
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(tracking_re),
        )
    )
    qs = F.array_join(params, "&")
    return F.concat(
        host, path, F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit(""))
    )


def canonical_url_sql(
    expr: str, tracking_re: str = TRACKING_PARAM_RE
) -> str:
    """DuckDB expression computing the identical canonical key (the
    oracle side of :func:`canonical_url`). All regexes are anchored
    single-occurrence, so DuckDB's replace-first default matches
    Spark's replace-all."""
    u = f"regexp_replace(regexp_replace(trim({expr}), '#.*$', ''), '{_SCHEME_RE}', '')"
    host = (
        f"regexp_replace(regexp_replace(lower(regexp_extract({u}, '^([^/?]*)', 1)),"
        f" '^www\\.', ''), ':(80|443)$', '')"
    )
    rest = f"regexp_replace({u}, '^[^/?]*', '')"
    path = f"regexp_replace(regexp_extract({rest}, '^([^?]*)', 1), '/+$', '')"
    query = (
        f"CASE WHEN contains({rest}, '?')"
        f" THEN regexp_replace({rest}, '^[^?]*\\?', '') ELSE '' END"
    )
    qs = (
        f"array_to_string(list_sort(list_filter(string_split({query}, '&'),"
        f" p -> p != '' AND NOT regexp_matches(p, '{tracking_re}'))), '&')"
    )
    return (
        f"({host} || {path} || CASE WHEN {qs} != ''"
        f" THEN '?' || {qs} ELSE '' END)"
    )


def canonical_host(col: str | Column) -> Column:
    """The host part of :func:`canonical_url` (the domain-cap key)."""
    u = F.trim(F.col(col) if isinstance(col, str) else col)
    u = F.regexp_replace(u, _SCHEME_RE, "")
    host = F.lower(F.regexp_extract(u, r"^([^/?#]*)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    return F.regexp_replace(host, r":(80|443)$", "")


def canonical_host_sql(expr: str) -> str:
    u = f"regexp_replace(trim({expr}), '{_SCHEME_RE}', '')"
    return (
        f"regexp_replace(regexp_replace(lower(regexp_extract({u}, '^([^/?#]*)', 1)),"
        f" '^www\\.', ''), ':(80|443)$', '')"
    )


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    keep: str = "first",
    ts_col: str | None = None,
) -> DataFrame:
    """Exact URL dedup verdict on the canonical key — the same
    contract as :func:`dedup.exact_dedup`: (id, canonical_url,
    keeper_id, is_duplicate), one row per input doc.

    - ``keep='first'``: keeper = min id per canonical url.
    - ``keep='newest'``: keeper = max (ts, id) — requires ``ts_col``;
      the re-crawl wins, id breaks exact-timestamp ties.

    One shuffle on the canonical key; the keeper is a window over the
    same partitioning (no second exchange)."""
    if keep not in ("first", "newest"):
        raise ValueError(f"keep must be 'first' or 'newest', got {keep!r}")
    if keep == "newest" and ts_col is None:
        raise ValueError("keep='newest' requires ts_col")
    base = _spread(df).select(
        F.col(id_col),
        canonical_url(url_col).alias("canonical_url"),
        *([F.col(ts_col)] if ts_col else []),
    )
    w = Window.partitionBy("canonical_url")
    if keep == "first":
        keeper = F.min(id_col).over(w)
    else:
        keeper = F.max(F.struct(F.col(ts_col), F.col(id_col))).over(w)[id_col]
    return base.select(
        id_col,
        "canonical_url",
        keeper.alias("keeper_id"),
        (F.col(id_col) != keeper).alias("is_duplicate"),
    )


def url_dedup_sql(
    table: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    keep: str = "first",
    ts_col: str | None = None,
) -> str:
    canon = canonical_url_sql(url_col)
    if keep == "first":
        keeper = f"min({id_col}) OVER (PARTITION BY canonical_url)"
    else:
        keeper = (
            f"(max({{'t': {ts_col}, 'i': {id_col}}})"
            f" OVER (PARTITION BY canonical_url)).i"
        )
    return f"""
SELECT {id_col}, canonical_url,
  {keeper} AS keeper_id,
  {id_col} != {keeper} AS is_duplicate
FROM (SELECT {id_col}, {canon} AS canonical_url
      {f', {ts_col}' if ts_col else ''} FROM {table})
"""


def domain_cap(
    df: DataFrame,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain document rank (RefinedWeb-style host caps): every
    doc gets its deterministic rank within its canonical host
    (ordered by id) and a ``kept`` flag = rank <= cap. Emitting ALL
    rows (not just survivors) keeps the verdict joinable AND fully
    hash-checkable; callers filter ``kept``.

    The window sorts one host's rows per task. For a mega-host at
    crawl scale, pre-filter with a per-host count + hash threshold to
    ~2x cap before this exact window (see SCALE.md)."""
    base = _spread(df).select(
        F.col(id_col), canonical_host(url_col).alias("domain")
    )
    w = Window.partitionBy("domain").orderBy(id_col)
    return base.select(
        id_col,
        "domain",
        F.row_number().over(w).cast("long").alias("domain_rank"),
    ).withColumn("kept", F.col("domain_rank") <= cap)


def domain_cap_sql(
    table: str, cap: int, url_col: str = "url", id_col: str = "doc_id"
) -> str:
    host = canonical_host_sql(url_col)
    return f"""
SELECT {id_col}, domain,
  row_number() OVER (PARTITION BY domain ORDER BY {id_col})::BIGINT AS domain_rank,
  row_number() OVER (PARTITION BY domain ORDER BY {id_col}) <= {cap} AS kept
FROM (SELECT {id_col}, {host} AS domain FROM {table})
"""


def domain_cap_survivors(
    df: DataFrame,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    oversample: float = 2.0,
) -> DataFrame:
    """The crawl-scale domain cap (the SCALE.md mitigation, made
    real): keep exactly ``cap`` docs per canonical host, chosen by
    HASH rank (smallest xxhash64 draw wins — a deterministic uniform
    sample, the right semantics when "which cap docs" is policy-free),
    WITHOUT ever sorting a mega-host's full row set in one task.

    Three passes, all mega-host-safe:
    1. per-host counts (map-side combining agg),
    2. prefilter: keep rows whose uniform draw falls in the first
       ``oversample * cap / count`` of hash space — a mega-host's
       100M rows shrink to ~2*cap BEFORE the exact rank window,
    3. exact rank window over the survivors (sorts <= ~2*cap rows per
       host) + a REPAIR pass: any host whose prefilter undershot
       (possible, with vanishing probability, since the draw is
       binomial) is re-ranked from its full row set, so the result is
       always EXACT — provably equal to the brute-force window
       (equivalence-pinned in tests, including a forced-repair run).

    Returns survivors only: (id, domain, domain_rank<=cap rows).
    Complement to :func:`domain_cap`, which emits every row with its
    id-ordered rank (full-audit shape) at the cost of one full window
    per host."""
    base = _spread(df).select(
        F.col(id_col), canonical_host(url_col).alias("domain")
    )
    # uniform draw in [0, 2^32) derived from the id — deterministic
    # on any cluster layout
    u = F.pmod(F.xxhash64(F.col(id_col)), F.lit(1 << 32))
    base = base.withColumn("_u", u)
    counts = base.groupBy("domain").agg(F.count(F.lit(1)).alias("_n"))
    space = float(1 << 32)
    frac = F.least(F.lit(1.0), F.lit(float(oversample) * cap) / F.col("_n"))
    pre = base.join(counts, "domain").filter(
        F.col("_u") < frac * F.lit(space)
    )
    w = Window.partitionBy("domain").orderBy("_u", id_col)
    ranked = pre.withColumn("_r", F.row_number().over(w))
    # a host undershot iff its prefilter kept fewer than min(cap, n).
    # Detect against the FULL counts table (left join): a host whose
    # prefilter kept ZERO rows is absent from the ranked frame and
    # would otherwise silently disappear instead of being repaired
    pre_counts = ranked.groupBy("domain").agg(
        F.count(F.lit(1)).alias("_kept")
    )
    bad = (
        counts.join(pre_counts, "domain", "left")
        .filter(
            F.coalesce(F.col("_kept"), F.lit(0))
            < F.least(F.lit(cap), F.col("_n"))
        )
        .select("domain")
    )
    good_rows = (
        ranked.join(bad, "domain", "left_anti")
        .filter(F.col("_r") <= cap)
        .select(id_col, "domain", F.col("_r").cast("long").alias("domain_rank"))
    )
    repair_rows = (
        base.join(bad, "domain")
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= cap)
        .select(id_col, "domain", F.col("_r").cast("long").alias("domain_rank"))
    )
    return good_rows.unionByName(repair_rows)


# ----------------------------------------- host block/allow filtering

def host_suffixes(col: str | Column) -> Column:
    """The dot-suffix chain of a URL's canonical host, e.g.
    ``ads.tracker.example.com`` -> [``ads.tracker.example.com``,
    ``tracker.example.com``, ``example.com``, ``com``] — the key shape
    for RefinedWeb-style domain lists, where blocklisting
    ``example.com`` must cover every subdomain but never the lookalike
    ``notexample.com`` (suffix-of-label matching, not substring)."""
    parts = F.split(canonical_host(col), r"\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(1), n), lambda i: F.array_join(F.slice(parts, i, n), ".")
    )


def host_suffixes_sql(expr: str) -> str:
    host = canonical_host_sql(expr)
    return (
        f"list_transform(generate_series(1, len(string_split({host}, '.'))),"
        f" i -> array_to_string(string_split({host}, '.')[i:], '.'))"
    )


def _norm_domains(domains: Sequence[str]) -> list[str]:
    out = sorted({d.strip().strip(".").lower().removeprefix("www.") for d in domains})
    if not out or any(not d for d in out):
        raise ValueError("domains must be non-empty host names")
    return out


def url_host_matches(col: str | Column, domains: Sequence[str]) -> Column:
    """True when the URL's canonical host equals, or is a subdomain
    of, any listed domain. Pure JVM expression (the domain list rides
    in the plan as an array literal) — zero shuffles, evaluated inline
    in the scan projection. Right for lists up to ~10k entries; above
    that use :func:`url_host_filter`'s join path (the literal array is
    linear-scanned per row and bloats the plan)."""
    doms = _norm_domains(domains)
    return F.arrays_overlap(
        host_suffixes(col), F.array(*[F.lit(d) for d in doms])
    )


def url_host_matches_sql(expr: str, domains: Sequence[str]) -> str:
    doms = ", ".join("'" + d.replace("'", "''") + "'" for d in _norm_domains(domains))
    return f"len(list_intersect({host_suffixes_sql(expr)}, [{doms}])) > 0"


def url_host_filter(
    df: DataFrame,
    domains: Sequence[str],
    mode: str = "block",
    url_col: str = "url",
    id_col: str = "doc_id",
    via: str = "auto",
) -> DataFrame:
    """RefinedWeb-style URL control: drop (``mode='block'``) or keep
    (``mode='allow'``) documents whose canonical host is any listed
    domain or a subdomain of one (``ads.example.com`` matches a listed
    ``example.com``; ``notexample.com`` does not).

    Two physical strategies, result-identical (equivalence-pinned in
    tests), neither shuffles the corpus:

    - ``via='expr'``: the domain set as a JVM array literal +
      ``arrays_overlap`` — zero joins; right up to ~10k domains.
    - ``via='join'``: explode the host-suffix chain (narrow), semi-join
      the broadcast domain frame (broadcast hash join, no exchange on
      the corpus side), then broadcast the matched-id set back as a
      semi/anti join. Right for the multi-million-entry public
      blocklists (UT1 adult ~4M): the corpus-side cost is one narrow
      explode, and only MATCHED ids (blocklists hit a small fraction
      of a crawl) are collected into the second broadcast. For
      allow-mode with a hit set too large to broadcast, use 'expr'.

    ``via='auto'`` picks expr for <=1000 domains, join above."""
    if mode not in ("block", "allow"):
        raise ValueError(f"mode must be 'block' or 'allow', got {mode!r}")
    doms = _norm_domains(domains)
    if via == "auto":
        via = "expr" if len(doms) <= 1000 else "join"
    if via == "expr":
        m = url_host_matches(url_col, doms)
        return df.filter(~m if mode == "block" else m)
    if via != "join":
        raise ValueError(f"via must be 'auto', 'expr' or 'join', got {via!r}")
    spark = df.sparkSession
    dom_df = spark.createDataFrame([(d,) for d in doms], "__domain string")
    matched = (
        _spread(df)
        .select(F.col(id_col), F.explode(host_suffixes(url_col)).alias("__suf"))
        .join(
            F.broadcast(dom_df),
            F.col("__suf") == F.col("__domain"),
            "left_semi",
        )
        .select(id_col)
        .distinct()  # shuffles only the matched ids, never the corpus
    )
    how = "left_anti" if mode == "block" else "left_semi"
    return df.join(F.broadcast(matched), id_col, how)


def url_host_filter_sql(
    table: str,
    domains: Sequence[str],
    mode: str = "block",
    url_col: str = "url",
) -> str:
    m = url_host_matches_sql(url_col, domains)
    neg = "NOT " if mode == "block" else ""
    return f"SELECT * FROM {table} WHERE {neg}({m})"

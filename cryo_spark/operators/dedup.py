"""Deduplication operators over a documents table.

Scale design (the 100 TB story):
- exact: hash-groupBy — one shuffle on a 16-byte key, map-side
  partial agg.
- minhash/LSH: shingle → k minhashes → b bands; candidate pairs come
  from an equality join on (band_id, band_hash) — never an all-pairs
  product. Verification joins only within buckets.
- simhash: 64-bit signature via per-bit vote aggregation; near-dup =
  same signature bucket (or small hamming distance within buckets).
- ngram-jaccard: exact verify step for LSH candidates, plus an
  LSH-free all-pairs variant with candidate pruning.
- embedding: blocked exact all-pairs (numpy GEMM per block pair) and
  hyperplane-LSH buckets for the N^2-infeasible regime.

Everything is JVM column expressions except the GEMM block kernel
(Arrow applyInPandas).

Shuffle-volume knob for the Jaccard paths: every downstream stage
(df counts, posting lists, docsets, array_intersect) is agnostic to
the shingle column's type, so callers can pass
``shingles=shingle_rows(df).select(id, xxhash64("shingle").alias("shingle"))``
to run the whole pipeline on 8-byte longs instead of strings — a
~4x shuffle-byte cut at corpus scale, bit-identical results modulo
64-bit collisions (P ~ docs x shingles^2 / 2^64, verified identical
on the test corpus; local bench is stage-overhead-bound so the
default stays strings for oracle transparency).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cryo_spark.operators.util import bt as _bt
from cryo_spark.operators.util import local_rows as _local_rows
from cryo_spark.operators.util import spread as _spread


def _norm_text(text_col: str = "text") -> Column:
    return F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"[ \t\n\x0b\f\r]+", " ")


def _norm_text_sql(text_col: str = "text") -> str:
    """SQL text of :func:`_norm_text` (same regex, control characters
    embedded verbatim so the pattern literal is byte-identical)."""
    return f"regexp_replace(trim(lower({_bt(text_col)})), '[ \t\n\x0b\f\r]+', ' ')"


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups on normalized text. Returns
    (doc_id, keeper_id, is_duplicate): keeper = min doc_id per group.
    One shuffle on md5 key; dupe flag via window over the same
    partitioning (no extra shuffle — same key)."""
    h = F.md5(_norm_text(text_col))
    w = Window.partitionBy("content_key")
    return (
        df.select("doc_id", h.alias("content_key"))
        .withColumn("keeper_id", F.min("doc_id").over(w))
        .select(
            "doc_id",
            "keeper_id",
            (F.col("doc_id") != F.col("keeper_id")).alias("is_duplicate"),
        )
    )


def exact_dedup_sql(table: str, text_col: str = "text") -> str:
    norm = f"regexp_replace(trim(lower({text_col})), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')"
    return f"""
SELECT doc_id,
  min(doc_id) OVER (PARTITION BY md5({norm})) AS keeper_id,
  doc_id != min(doc_id) OVER (PARTITION BY md5({norm})) AS is_duplicate
FROM {table}
"""


def shingle_rows(
    df: DataFrame, text_col: str = "text", n: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """Word n-gram shingles, exploded to one (id, shingle) row each.

    This is the scalable formulation: the tokenize+gram expression is
    evaluated exactly once per document and everything downstream is
    row-at-a-time JVM work. (Keeping shingles as a per-row
    array<string> column instead gets the whole expression re-inlined
    into every consumer by projection collapse — k minhash seeds then
    re-tokenize k times — and array_distinct is quadratic; measured
    >10x slower at sf0.1.) Duplicate shingles are kept: the min
    aggregation downstream is multiset-insensitive; apply .distinct()
    only where set semantics matter.
    """
    df = _spread(df)
    # bind tokens to a concrete column first: expressions inside the
    # higher-order lambda otherwise re-inline (and re-evaluate) the
    # whole regexp+split per element access — measured 25x slower.
    # Both projections are emitted as single SQL strings (2 py4j round
    # trips instead of ~150 — shingle_rows is rebuilt per consumer:
    # minhash, jaccard, dsir all pay it on every construction); the
    # strings parse to the same trees the F.* chain built (whitespace
    # class characters embedded verbatim, term order unchanged).
    toks = df.select(
        F.col(id_col),
        F.expr(f"split({_norm_text_sql(text_col)}, ' ') AS toks"),
    )
    grams = (
        f"CASE WHEN (size(toks) >= {n}) THEN "
        f"transform(sequence(0, greatest((size(toks) - {n}), 0)), "
        f"i -> array_join(slice(toks, (i + 1), {n}), ' ')) "
        "ELSE array(array_join(toks, ' ')) END"
    )
    return toks.select(
        F.col(id_col), F.expr(f"explode({grams}) AS shingle")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    k: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, mh0..mh{k-1}): min over shingles of xxhash64(shingle||seed).

    explode -> groupBy(min x k): partial aggregation combines
    map-side, so the shuffle carries k longs per document regardless
    of text size — the 100 TB-safe shape."""
    rows = shingles if shingles is not None else shingle_rows(df, text_col, n, id_col)
    # hash the (variable-length) shingle string ONCE, then derive the
    # k family members by hashing the resulting long with a per-seed
    # literal — k fixed-width hashes instead of k string concat+hash
    # passes over every shingle occurrence (the dominant CPU cost of
    # the signature stage at corpus scale)
    hashed = rows.select(F.col(id_col), F.expr("xxhash64(shingle) AS hs"))
    # one F.expr per aggregate instead of the F.min/F.xxhash64/F.lit
    # chain (~5 py4j round trips each, k times per construction);
    # min(xxhash64(hs, i)) parses to the identical Min(XxHash64) tree
    # and the alias rides INSIDE the parsed string (1 round trip per
    # aggregate instead of 2)
    aggs = [
        F.expr(f"min(xxhash64(hs, {i})) AS mh{i}") for i in range(k)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded minhash LSH.

    k minhashes split into ``bands`` bands of k/bands rows; docs
    sharing any band hash are candidates. Pair generation is an
    equality self-join on (band_id, band_hash) — bucket-local, never
    all-pairs. Returns distinct (id_a, id_b), id_a < id_b."""
    r = k // bands
    sigs = minhash_signatures(df, text_col, k, id_col=id_col, shingles=shingles)
    # ONE parsed expression for the band struct array (the F.struct/
    # F.xxhash64 loop paid ~5 round trips per band per construction);
    # multi-column xxhash64 over the band's longs — no string
    # materialization per band
    bandstructs = ", ".join(
        f"struct({b} AS band_id, "
        f"xxhash64({', '.join(f'mh{b * r + j}' for j in range(r))})"
        " AS band_hash)"
        for b in range(bands)
    )
    banded = sigs.select(
        id_col, F.expr(f"explode(array({bandstructs})) AS band")
    ).select(id_col, "band.band_id", "band.band_hash")
    # corpus-sized SELF-join: both sides are the whole corpus by
    # construction, so the band/bucket join must never be planned as a
    # broadcast — a stats misestimate behind a lineage-cut LogicalRDD
    # can look "small" and OOM the driver building the table (the
    # knn_graph 1M incident, round 15); the hint pins shuffle-hash
    banded = banded.hint("shuffle_hash")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def _docsets(
    sh: DataFrame, id_col: str = "doc_id", out: str = "shs"
) -> DataFrame:
    """(id, set-of-shingles array) — one shuffle on the id, map-side
    partial collect_set, size bounded by the largest single document
    (never by corpus size)."""
    return sh.groupBy(id_col).agg(F.collect_set("shingle").alias(out))


_VERIFY_CACHE: list[DataFrame] = []


def release_verify_cache(keep: int = 0) -> None:
    """Unpersist candidate-pair frames cached by :func:`_verify_pairs`.

    Called automatically at each verify with ``keep=1`` — the
    PREVIOUS query's frame stays cached because its (lazy) result may
    not have executed yet (e.g. an entry that builds an exact-pairs
    gate and then returns another dedup frame); only older frames are
    released, so a long-lived session holds at most TWO cached
    candidate lists. Call explicitly with ``keep=0`` when results are
    materialized and the blocks should go now."""
    while len(_VERIFY_CACHE) > keep:
        try:
            _VERIFY_CACHE.pop(0).unpersist()
        except Exception:  # session already stopped — nothing to free
            pass


def _verify_pairs(
    sh: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact-Jaccard verify for a candidate pair list over the
    shingle stream ``sh``: (id_a, id_b, jaccard) via array_intersect
    on per-doc shingle sets.

    Scale shape: the candidate list is persisted (it is consumed
    twice and its generation subtree — LSH banding or posting-list
    explosion — must run once); the shingle stream is semi-join
    pruned to candidate docs BEFORE the collect_set, so the docset
    aggregation shuffles candidate docs only, never the corpus. Both
    enrichment joins are then candidate-bounded on BOTH sides — AQE
    broadcasts them when small and falls back to a (bounded) shuffle
    join when a huge candidate set would break a forced broadcast.
    Intersection is a hash-set sweep, O(|A|+|B|) per pair."""
    release_verify_cache(keep=1)
    pairs = pairs.persist()
    _VERIFY_CACHE.append(pairs)
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets = _docsets(sh.join(ids, id_col, "left_semi"), id_col)
    a = pairs.join(
        sets.select(F.col(id_col).alias("id_a"), F.col("shs").alias("shs_a")),
        "id_a",
    )
    enriched = sets.select(
        F.col(id_col).alias("id_b"), F.col("shs").alias("shs_b")
    ).join(a, "id_b")
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    sz_a, sz_b = F.size("shs_a"), F.size("shs_b")
    return enriched.select(
        "id_a", "id_b", (inter / (sz_a + sz_b - inter)).alias("jaccard")
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (the verify stage
    after LSH) — see :func:`_verify_pairs` for the plan shape. The
    former formulation (pair x shingle routing joins + size joins)
    shuffled the same exploded data four times under three different
    keys."""
    sh = shingles if shingles is not None else shingle_rows(df, text_col, n, id_col)
    return _verify_pairs(sh, pairs, id_col)

def ngram_jaccard_all_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.5,
    max_df: int = 50,
    min_shared: int = 5,
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """All near-duplicate pairs by exact n-gram Jaccard, no LSH:
    candidate pairs = docs sharing >= ``min_shared`` shingles whose
    document frequency is <= ``max_df``.

    Both candidate knobs are what make this scale: the df cap stops
    one stop-phrase bucket from contributing d^2 join rows, and the
    shared-count floor stops coincidental single-shingle overlaps
    from flooding the exact-verify stage. Near-dup pairs at
    jaccard >= 0.5 share dozens of rare shingles, so neither knob
    costs recall in practice (standard candidate pruning from the
    MinHash literature). Fully SQL-expressible -> DuckDB oracle,
    unlike the banded-LSH path.

    Plan shape (3 corpus-sized shuffles, down from 6 differently-
    keyed ones): (1) per-shingle doc-frequency counts — pure count
    agg, skew-immune even for stop-phrase shingles; (2) the rare
    join's SMJ leaves the stream hash-partitioned by shingle, so the
    posting-list collect_set on the SAME key adds NO exchange, and
    pair generation explodes each <=max_df posting list map-side
    (bounded memory, no self-join); (3) per-doc shingle sets for the
    exact verify, built over candidate docs ONLY (semi-join prune
    before the collect_set) and consumed via candidate-bounded
    enrichment joins (_verify_pairs) — the corpus-sized stream never
    re-shuffles and no unbounded frame is ever broadcast.

    Precondition: ``id_col`` is non-NULL. A shingle's document
    frequency is ``count(*)`` over deduplicated ``(shingle, id)`` rows,
    so a NULL id would count as one more document."""
    sh = shingles if shingles is not None else shingle_rows(df, text_col, n, id_col)
    # r18 (guide §2.4 — share one exchange): the df-count and the
    # posting lists used to run on SEPARATE scans of the shingle
    # stream (count_distinct's two exchanges + a broadcast of the
    # rare set back onto a third exchange). Everything they need is
    # per-shingle, so ONE hash repartition on the shingle now feeds
    # the whole candidate chain exchange-free:
    #   - dropDuplicates(shingle, id) plans as an aggregate whose
    #     clustering {shingle, id} is satisfied by the existing
    #     hashpartitioning(shingle) — no exchange;
    #   - df = count(*) over (partition by shingle) on the deduped
    #     rows — same clustering, no exchange (WindowExec buffers one
    #     shingle group at a time and spills, so a stop-phrase
    #     shingle is disk pressure, never an OOM — the df cap still
    #     prunes it before any posting list materializes);
    #   - the <= max_df filter + collect_set ride the same
    #     partitioning.
    # Exactness: count(*) over deduped (shingle, id) rows IS
    # count_distinct(id) per shingle; the isNotNull filter reproduces
    # the old inner join's null-shingle drop; posting lists were
    # already sets. Plan: 3 scans -> 2, and the candidate chain's
    # exchanges (dedup + count + rare-broadcast + reparation) fold
    # into the single user repartition below.
    # The repartition stays EXPLICIT (not an implicit agg shuffle):
    # AQE never coalesces a user repartition, and without it AQE sees
    # the posting lists' few MB and folds the pair-gen explode to ONE
    # task (up to max_df^2/2 structs per list — CPU-bound, byte-light,
    # exactly the shape AQE's size heuristic mis-sizes; measured
    # 2.8s -> 1.0s in r15).
    par = sh.sparkSession.sparkContext.defaultParallelism
    uniq = sh.repartition(par, "shingle").dropDuplicates(
        ["shingle", id_col]
    )
    wsh = Window.partitionBy("shingle")
    posts = (
        uniq.withColumn("df_", F.count(F.lit(1)).over(wsh))
        .filter(
            F.col("shingle").isNotNull()
            & (F.col("df_") <= max_df)
            & (F.col("df_") >= 2)
        )
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .select("ids")
    )
    ids = F.col("ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids) - i - 1),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    cand = (
        posts.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_rare_inter"))
        .filter(F.col("n_rare_inter") >= min_shared)
        .select("id_a", "id_b")
    )
    # exact intersection over ALL shingles of the candidate docs
    return (
        _verify_pairs(sh, cand, id_col)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def ngram_jaccard_all_pairs_sql(
    table: str,
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.5,
    max_df: int = 50,
    min_shared: int = 5,
) -> str:
    """DuckDB equivalent of ngram_jaccard_all_pairs (n=3). Same
    precondition: ``doc_id`` is non-NULL."""
    norm = f"regexp_replace(trim(lower({text_col})), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')"
    return f"""
WITH toks AS (
  SELECT doc_id, string_split({norm}, ' ') AS t FROM {table}
), sh AS (
  SELECT DISTINCT doc_id,
    CASE WHEN len(t) >= {n}
         THEN array_to_string(t[i:i+{n - 1}], ' ')
         ELSE array_to_string(t, ' ') END AS shingle
  FROM toks, LATERAL unnest(generate_series(1, greatest(len(t) - {n - 1}, 1))) AS g(i)
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), rare AS (
  SELECT * FROM sh WHERE shingle IN (
    SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {max_df})
), cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {min_shared}
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b,
  round(n_inter / (za.sz + zb.sz - n_inter), 6) AS jaccard
FROM inter
JOIN sizes za ON za.doc_id = id_a
JOIN sizes zb ON zb.doc_id = id_b
WHERE round(n_inter / (za.sz + zb.sz - n_inter), 6) >= {min_jaccard}
"""


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash) 64-bit signatures; near-dups share signatures
    or differ in few bits (bucket by signature prefix for a hamming
    join).

    Pure JVM: explode tokens, hash each, aggregate 64 per-bit vote
    sums (map-side partial agg — the shuffle carries 64 ints per
    doc), then reassemble the sign bits. Empty/whitespace-only text
    gets signature 0.

    The per-token 64-bit hash is ENGINE-NEUTRAL by design (round 11):
    the little-endian low 8 bytes of md5(token) — exactly DuckDB's
    ``md5_number_lower`` — extracted here as 8 byte-valued columns
    via conv(substring(md5_hex)). That makes the whole
    signature→banding→hamming chain expressible as a DuckDB SQL twin
    (:func:`simhash_near_dups_sql`), so the driver can hash-verify
    near-dup pairs instead of the weaker rows-only check. Cost vs the
    previous xxhash64: one md5 per token occurrence (still
    whole-stage-codegen JVM, no Python); the md5 hex is bound to a
    concrete column first so the 8 byte extractions don't re-inline
    the digest per expression."""
    df = _spread(df)
    toks = df.select(
        F.col(id_col),
        F.explode_outer(
            F.split(F.trim(F.lower(F.col(text_col))), r"[ \t\n\x0b\f\r]+")
        ).alias("tok"),
    )
    hashed = toks.select(id_col, "tok", F.md5("tok").alias("h"))
    # digest bytes 8..15 (hex chars 17.. as 2-char pairs), little-endian:
    # bit b of the 64-bit hash lives in byte b//8 at position b%8
    hb = hashed.select(
        id_col,
        "tok",
        *[
            F.conv(F.substring("h", 17 + 2 * j, 2), 16, 10)
            .cast("int")
            .alias(f"hb{j}")
            for j in range(8)
        ],
    )
    votes = [
        F.sum(
            F.when(F.col("tok").isNull() | (F.col("tok") == ""), F.lit(0)).otherwise(
                F.shiftright(F.col(f"hb{b // 8}"), b % 8).bitwiseAND(F.lit(1)) * 2
                - 1
            )
        ).alias(f"v{b}")
        for b in range(64)
    ]
    agg = hb.groupBy(id_col).agg(*votes)
    sig = None
    for b in range(64):
        # bit 63 is the long sign bit: adding -(2^63) sets it in
        # two's complement
        term = F.when(
            F.col(f"v{b}") > 0,
            F.lit(-(1 << 63) if b == 63 else (1 << b)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 7,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by simhash hamming distance.

    Pigeonhole banding: the 64-bit signature splits into 8 8-bit
    bands; any pair within hamming distance <= 7 agrees on at least
    one whole band, so candidates come from an equality self-join on
    (band_id, band_value) — bucket-local, never all-pairs — and the
    exact hamming check (bit_count of xor) filters within buckets.
    All JVM."""
    del shingles  # simhash tokenizes directly; kept for API symmetry
    return banded_hamming_pairs(
        simhash(df, text_col, id_col), "simhash", id_col, max_hamming
    )


def banded_hamming_pairs(
    sigs: DataFrame,
    sig_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 7,
) -> DataFrame:
    """Near-duplicate (id_a, id_b, hamming) pairs over 64-bit
    signatures by pigeonhole banding: the signature splits into 8
    8-bit bands; any pair within hamming distance <= 7 agrees on at
    least one whole band, so candidates come from an equality
    self-join on (band_id, band_value) — bucket-local, never
    all-pairs — and the exact hamming check (bit_count of xor)
    filters within buckets. All JVM. Shared by text simhash and
    perceptual-hash (dHash) image near-dups."""
    if max_hamming > 7:
        raise ValueError("8-band pigeonhole supports max_hamming <= 7")
    banded = sigs.select(
        F.col(id_col),
        sig_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftrightunsigned(sig_col, 8 * b)
                        .bitwiseAND(F.lit(0xFF))
                        .alias("band_val"),
                    )
                    for b in range(8)
                ]
            )
        ).alias("band"),
    ).select(id_col, sig_col, "band.band_id", "band.band_val")
    # corpus-sized SELF-join: both sides are the whole corpus by
    # construction, so the band/bucket join must never be planned as a
    # broadcast — a stats misestimate behind a lineage-cut LogicalRDD
    # can look "small" and OOM the driver building the table (the
    # knn_graph 1M incident, round 15); the hint pins shuffle-hash
    banded = banded.hint("shuffle_hash")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col(f"a.{sig_col}").bitwiseXOR(F.col(f"b.{sig_col}"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_dups_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 7,
) -> str:
    """DuckDB twin of :func:`simhash` + :func:`simhash_near_dups`.

    Same deterministic arithmetic, engine-neutral by construction:
    the per-token hash is DuckDB's ``md5_number_lower`` (little-endian
    low 8 bytes of md5 — byte-for-byte what the Spark path extracts
    via conv/substring, equivalence pinned in tests), votes are the
    same ±1 sums, the signature is assembled as a HUGEINT (no sign
    games needed since it never leaves the query), banding is the
    same 8x8-bit pigeonhole, and the hamming verify is
    bit_count(xor(...)). Docs whose text is NULL fall out of the
    token unnest, so the signature frame LEFT JOINs the corpus and
    the all-NULL vote case collapses to signature 0 — matching
    Spark's explode_outer behavior."""
    norm = f"trim(lower({text_col}))"
    vote_terms = ",\n    ".join(
        "sum(CASE WHEN tok = '' THEN 0 ELSE "
        f"2 * CAST((md5_number_lower(tok) >> {b}) & 1 AS INT) - 1 END)"
        f" AS v{b}"
        for b in range(64)
    )
    sig_terms = "\n      + ".join(
        f"(CASE WHEN v{b} > 0 THEN (1::HUGEINT << {b}) ELSE 0::HUGEINT END)"
        for b in range(64)
    )
    return f"""
WITH toks AS (
  SELECT {id_col}, unnest(string_split(
           regexp_replace({norm}, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ')) AS tok
  FROM {table}
), votes AS (
  SELECT {id_col},
    {vote_terms}
  FROM toks GROUP BY {id_col}
), sigs AS (
  SELECT d.{id_col},
    ({sig_terms}) AS usig
  FROM {table} d LEFT JOIN votes USING ({id_col})
), banded AS (
  SELECT {id_col}, usig, band_id, (usig >> (8 * band_id)) & 255 AS band_val
  FROM sigs, (SELECT unnest(generate_series(0, 7)) AS band_id)
)
SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b,
  CAST(bit_count(xor(a.usig, b.usig)) AS INT) AS hamming
FROM banded a JOIN banded b
  ON a.band_id = b.band_id AND a.band_val = b.band_val
 AND a.{id_col} < b.{id_col}
WHERE bit_count(xor(a.usig, b.usig)) <= {max_hamming}
"""


def embedding_near_dups_exact(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (id_a < id_b), as
    a blocked all-pairs matrix product.

    Shape: hash ids into ``n_blocks`` blocks; each unordered block
    pair (i <= j) is one task that receives both blocks' vectors
    (via a broadcast membership map -> explode -> one shuffle keyed by
    block-pair) and computes the full cosine submatrix with one numpy
    GEMM. Shuffle volume = n_blocks x input (each block joins every
    other); per-task memory = 2 blocks of vectors. At cluster scale
    pick n_blocks ~ sqrt(#tasks-wanted). A row-per-pair join with a
    per-pair zip_with does the same work interpreted and measured
    ~40x slower.

    Ground-truth path; use the hyperplane-LSH tiers in
    :mod:`cryo_spark.operators.similarity` (:func:`lsh_topk`) when N^2
    is out of reach."""
    spark = emb.sparkSession
    nb = n_blocks
    # membership: block b acts as the Left side of pairs (b, j>=b) and
    # the Right side of pairs (i<=b, b)
    rows = []
    for b in range(nb):
        for j in range(b, nb):
            rows.append((b, b * nb + j, 0))
        for i in range(b + 1):
            rows.append((b, i * nb + b, 1))
    # local_rows (r18): one slice for the nb^2-row membership map — the
    # stock createDataFrame spread it over defaultParallelism slices,
    # so its broadcast build ran a 32-task near-empty wave (profiled
    # 1.6 s summed run / 48 ms cpu at sf0.1)
    membership = _local_rows(spark, rows, "blk int, pid int, role int")
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb)).cast("int")
    tagged = (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), blk.alias("blk"))
        .join(F.broadcast(membership), "blk")
    )

    def compute(key, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64"),
                              "cosine": pd.Series(dtype="float64")})
        left = pdf[pdf["role"] == 0]
        right = pdf[pdf["role"] == 1]
        if left.empty or right.empty:
            return empty
        ml = np.stack(left["vec"].to_numpy()).astype(np.float64)
        mr = np.stack(right["vec"].to_numpy()).astype(np.float64)
        ml /= np.linalg.norm(ml, axis=1, keepdims=True)
        mr /= np.linalg.norm(mr, axis=1, keepdims=True)
        cos = np.round(ml @ mr.T, 6)
        ii, jj = np.nonzero(cos >= threshold)
        ids_a = left["id"].to_numpy()[ii]
        ids_b = right["id"].to_numpy()[jj]
        same_block = key[0] % (nb + 1) == 0  # pid = i*nb+i for (b, b)
        if same_block:
            # both orientations are present: keep one, drop diagonal
            keep = ids_a < ids_b
            ids_a, ids_b, vals = ids_a[keep], ids_b[keep], cos[ii, jj][keep]
        else:
            # each unordered pair appears once in arbitrary id order:
            # normalize, never drop
            vals = cos[ii, jj]
            lo = np.minimum(ids_a, ids_b)
            hi = np.maximum(ids_a, ids_b)
            ids_a, ids_b = lo, hi
        return pd.DataFrame({"id_a": ids_a, "id_b": ids_b, "cosine": vals})

    return tagged.groupBy("pid").applyInPandas(
        compute, "id_a long, id_b long, cosine double"
    )


def embedding_near_dups_exact_sql(
    table: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    dot = (
        f"list_sum(list_transform(list_zip(a.{vec_col}, b.{vec_col}), "
        "x -> x[1]::DOUBLE * x[2]::DOUBLE))"
    )
    nrm = f"sqrt(list_sum(list_transform({{s}}.{vec_col}, x -> x::DOUBLE * x::DOUBLE)))"
    return f"""
SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
  round({dot} / ({nrm.format(s='a')} * {nrm.format(s='b')}), 6) AS cosine
FROM {table} a JOIN {table} b ON a.{id_col} < b.{id_col}
WHERE round({dot} / ({nrm.format(s='a')} * {nrm.format(s='b')}), 6) >= {threshold}
"""


# ---------------------------------------------------------------------------
# near-dup clustering: pairs -> connected components -> canonical keeper
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    left: str = "id_a",
    right: str = "id_b",
    max_iterations: int = 25,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """(id, component) for the graph given as undirected edge pairs,
    component = min node id reachable. The missing piece between
    near-dup PAIRS and a dedup decision: duplicate chains (A~B, B~C
    but not A~C) must collapse into one cluster before picking a
    canonical keeper.

    Alternating large-star / small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    algorithm): each round is ONE groupBy-min plus ONE join keyed the
    same way, no adjacency lists are ever collected, so a hot node
    with 10^6 neighbors is just a big group, not a big row.
    Converges in O(log^2 n) rounds regardless of component diameter
    (plain min-label propagation needs diameter rounds — a 10^6-doc
    duplicate CHAIN would need 10^6 passes). Lineage is broken per
    round with localCheckpoint, the standard iterative-algorithm
    hygiene that keeps round N's plan O(1) deep.

    Small-graph fast path: below ``driver_threshold`` edges the
    iterative machinery is pure fixed cost (~1s/round in job launch +
    checkpoint), so the edge list — already materialized for the loop
    — is union-found on the driver instead (measured 8s -> 0.3s on a
    256-edge graph). Near-dup edge lists after Jaccard thresholding
    are orders smaller than the corpus, so this is the common case;
    the distributed loop remains the path for genuinely large graphs
    and stays covered by tests via ``driver_threshold=0``.
    """
    # materialize the edge list once (both paths reuse it), decide on
    # a PARALLEL count, and only then collect the small case. A
    # limit(threshold+1)-probe variant was tried in round 13 and
    # REVERTED: CollectLimit local-limits each partition and funnels
    # up to npartitions x threshold rows through ONE task, which
    # regressed the big-graph path (the 10x clone-corpus funnel went
    # 7.7 -> 10.5 s); the count is map-side and cheap on the
    # checkpointed list.
    edges = (
        pairs.select(F.col(left).alias("u"), F.col(right).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    if driver_threshold and edges.count() <= driver_threshold:
        return _driver_components(
            edges.collect(),
            edges.schema["u"].dataType,
            pairs.sparkSession,
        )
    all_nodes = (
        edges.select(F.col("u").alias("id"))
        .union(edges.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint()
    )

    def _round(e: DataFrame, large: bool) -> DataFrame:
        # symmetrize so every node sees its full neighborhood
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        nbr = sym.join(mins, "u")
        if large:
            # connect strictly-larger neighbors to the min
            out = nbr.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        else:
            # connect smaller-or-equal neighbors (and u itself) to the min
            out = nbr.filter(F.col("v") <= F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            ).union(mins.select(F.col("u"), F.col("m").alias("v")))
        return out.filter(F.col("u") != F.col("v")).distinct()

    def _checksum(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: a long sum of 64-bit hashes overflows ANSI
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev = None
    for _ in range(max_iterations):
        edges = _round(edges, large=True)
        edges = _round(edges, large=False).localCheckpoint()
        cur = _checksum(edges)
        if cur == prev:
            break
        prev = cur
    # after convergence every edge points node -> component min; the
    # min node of each component has no outgoing edge, so default
    # unmapped nodes to themselves
    comp = edges.groupBy("u").agg(F.min("v").alias("mn"))
    return all_nodes.join(comp, all_nodes["id"] == comp["u"], "left").select(
        "id", F.least("id", F.coalesce("mn", F.col("id"))).alias("component")
    )


def near_dup_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Full near-dup dedup, clone-cluster safe: the composed operator
    for web-scale corpora where many documents are byte-identical.

    Pairwise LSH+verify cost is quadratic in clone-cluster size (c
    identical docs yield c*(c-1)/2 candidate pairs, each paying a
    shingle-join verify). Collapsing exact groups FIRST (one md5
    shuffle) and running MinHash-LSH + Jaccard verify over one
    representative per group cuts verify work by the square of the
    clone factor; near-dup components over representatives then map
    back to every member through its exact group. Measured on a 50k
    corpus of 10x clones: pairwise LSH+verify alone takes 31s (250k
    candidate pairs), this full pipeline (pairs AND components AND
    keeper mapping) takes 11s, with identical keeper assignment (see
    tests) — and the gap grows with the clone factor squared.

    Returns (doc_id, keeper_id, is_duplicate) — the same contract as
    exact_dedup / dedup_by_components. Keeper = min doc id of the
    merged (exact ∪ near-dup) cluster: representatives are their
    group's min id, so the component min over representatives is the
    min over all members."""
    # groups feeds two consumers (rep selection + final mapping) and
    # the LSH/verify chain feeds the iterative components pass:
    # materialize both once, or every CC round replays the whole
    # shingle+verify lineage (46s -> 11s measured on the 50k clone
    # corpus, together with the reps checkpoint below)
    groups = exact_dedup(df, text_col).select(
        id_col, F.col("keeper_id").alias("_rep_id")
    ).localCheckpoint()
    # reps (one full-text row per unique content) feeds the shingle
    # explode, which by design recomputes per consumer — without a
    # checkpoint each recompute replays the exact-group window over
    # the whole corpus
    reps = df.join(
        groups.filter(F.col(id_col) == F.col("_rep_id")).select(id_col),
        id_col, "left_semi",
    ).localCheckpoint()
    shingles = shingle_rows(reps, text_col, id_col=id_col)
    pairs = minhash_lsh_candidates(
        reps, text_col, k=k, bands=bands, id_col=id_col, shingles=shingles
    )
    verified = ngram_jaccard(
        reps, pairs, text_col, id_col=id_col, shingles=shingles
    ).filter(F.col("jaccard") >= min_jaccard).select("id_a", "id_b").localCheckpoint()
    comp = connected_components(verified)
    return (
        groups.join(comp, groups["_rep_id"] == comp["id"], "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col("_rep_id")).alias("keeper_id"),
        )
        .withColumn("is_duplicate", F.col(id_col) != F.col("keeper_id"))
    )


def _driver_components(edge_rows, utype, spark) -> DataFrame:
    """Union-find over an already-collected edge list (bounded by
    ``driver_threshold``). Union-by-min keeps every root the minimum
    id of its component — the same labeling the distributed rounds
    converge to."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edge_rows:
        ra, rb = find(row.u), find(row.v)
        if ra != rb:
            hi, lo = (ra, rb) if ra > rb else (rb, ra)
            parent[hi] = lo
    out_schema = T.StructType([
        T.StructField("id", utype), T.StructField("component", utype),
    ])
    rows = [(x, find(x)) for x in parent]
    # local_rows (r18): the component map is usually far smaller than
    # defaultParallelism x rows_per_slice — size the slices to the
    # data instead of running full-width near-empty task waves on
    # every downstream join
    return _local_rows(spark, rows, out_schema)


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    left: str = "id_a",
    right: str = "id_b",
) -> DataFrame:
    """Full near-dup dedup decision: collapse candidate PAIRS into
    clusters and keep the min-id document of each. Returns
    (doc_id, keeper_id, is_duplicate) — the same contract as
    exact_dedup, so downstream filters compose. Docs in no pair keep
    themselves (broadcast-friendly left join: the component map is
    |nodes-in-pairs|, tiny next to the corpus)."""
    comp = connected_components(pairs, left=left, right=right)
    return (
        df.select(id_col)
        .join(comp, df[id_col] == comp["id"], "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("keeper_id"),
        )
        .withColumn("is_duplicate", F.col(id_col) != F.col("keeper_id"))
    )

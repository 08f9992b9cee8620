"""End-to-end pretraining-corpus cleaning: the composed pipeline a
training-data job actually runs — quality filter → language filter →
exact dedup → token accounting — expressed as ONE Spark plan.

Plan shape (the scale property): every per-document feature (quality
score, language vote, BPE token count, content hash) is computed in a
single narrow projection over one scan — no self-joins of derived
frames. The only shuffle is the dedup window on the content hash.
At 100 TB that means: one pass over the text bytes, one exchange
keyed by a 128-bit hash (uniformly distributed — no skew), then a
stream-filtered output.
"""

from __future__ import annotations

import itertools
import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cryo_spark.operators import dedup, text
from cryo_spark.operators.util import spread

_log = logging.getLogger(__name__)

#: process-wide Observation name sequence — Observation names must be
#: unique per query, and a long-lived session runs many funnels
_OBS_SEQ = itertools.count()


def clean_corpus(
    df: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.5,
    lang: str = "en",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Kept documents with their features: quality >= ``min_quality``,
    winning language == ``lang``, first (min doc_id) copy of each
    exact-duplicate group. Returns (doc_id, quality_score, lang_score,
    n_bpe_tokens, *extra_cols) — ``extra_cols`` ride the SAME single
    projection + window (ingestion metadata like content_type/noindex
    passes through without a re-join of the upstream extraction
    chain)."""
    best = text.lang_best_expr(text_col)
    feats = spread(df).select(
        "doc_id",
        F.round(text.quality_score_expr(text_col), 6).alias("quality_score"),
        best["lang"].alias("lang_guess"),
        best["score"].alias("lang_score"),
        F.size(text.bpe_pieces_expr(text_col)).cast("long").alias("n_bpe_tokens"),
        F.md5(dedup._norm_text(text_col)).alias("content_key"),
        *extra_cols,
    )
    w = Window.partitionBy("content_key")
    return (
        feats.withColumn("keeper_id", F.min("doc_id").over(w))
        .filter(
            (F.col("doc_id") == F.col("keeper_id"))
            & (F.col("quality_score") >= min_quality)
            & (F.col("lang_guess") == lang)
        )
        .select(
            "doc_id", "quality_score", "lang_score", "n_bpe_tokens",
            *extra_cols,
        )
    )


def clean_corpus_sql(
    table: str,
    text_col: str = "text",
    min_quality: float = 0.5,
    lang: str = "en",
    extra_cols: tuple[str, ...] = (),
) -> str:
    """DuckDB oracle: CTE-composition of the per-operator oracles
    (join-heavy is fine here — result equality is the contract)."""
    extra_sel = "".join(f", s.{c}" for c in extra_cols)
    extra_join = (
        f"\nJOIN {table} s ON s.doc_id = q.doc_id" if extra_cols else ""
    )
    return f"""
WITH q AS ({text.quality_score_sql(table, text_col)}),
     l AS ({text.lang_id_sql(table, text_col)}),
     t AS ({text.bpe_token_count_sql(table, text_col)}),
     d AS ({dedup.exact_dedup_sql(table, text_col)})
SELECT q.doc_id, q.quality_score, l.lang_score, t.n_bpe_tokens{extra_sel}
FROM q
JOIN l ON l.doc_id = q.doc_id
JOIN t ON t.doc_id = q.doc_id
JOIN d ON d.doc_id = q.doc_id{extra_join}
WHERE NOT d.is_duplicate
  AND q.quality_score >= {min_quality}
  AND l.lang_guess = '{lang}'
"""


def _corpus_stages(
    df: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.5,
    lang: str = "en",
    span_words: int = 10,
    budget: int | None = None,
    alpha: float = 0.5,
    max_epochs: int | None = None,
    seed: str = "corpus0",
    near_dup: bool = False,
    min_jaccard: float = 0.5,
    dsir_target: DataFrame | None = None,
    dsir_k: int | None = None,
    line_dedup: bool = False,
    line_min_docs: int = 2,
    quality_model=None,
    quality_threshold: float | None = None,
    langid_model=None,
    langid_min_prob: float = 0.0,
    langid_max_chars: int | None = 1000,
    lm_keep_frac: float | None = None,
    lm_add_k: float = 0.5,
    url_col: str | None = None,
    domain_cap_n: int | None = None,
    url_blocklist=None,
    url_allowlist=None,
    robots_rules: DataFrame | None = None,
    host_ranks: DataFrame | None = None,
    min_host_rank: float = 0.0,
    semantic_dedup: bool = False,
    semantic_threshold: float = 0.95,
    semantic_dim: int = 64,
    semantic_k: int = 10,
    semantic_planes: int = 6,
    semantic_probes: int = 8,
    semantic_dedup_index: str | None = None,
    checkpoint: bool = False,
    observations: list | None = None,
) -> list[tuple[str, DataFrame, str]]:
    """The WHOLE preparation pipeline, composed from the per-stage
    operators: optional URL-level controls (stage 0, round 8 — when
    the corpus carries a ``url_col``: keep-first exact URL dedup on
    the canonical key, then optional per-host caps; the cheapest
    filters run FIRST, before any text processing touches a byte) →
    quality/language filter + exact dedup (stage 1, one
    projection + one hash window) → optional CCNet line-level dedup
    on the survivors (stage 1b, round 8: whole lines repeated in
    >= ``line_min_docs`` distinct docs — cookie banners, navigation —
    are dropped BEFORE span dedup, the standard web-corpus order;
    docs reduced to nothing exit here; an optional LEARNED quality
    filter — ``quality_model`` + calibrated ``quality_threshold`` —
    runs between them on the original text, and an optional
    CCNet-shaped self-trained bigram-LM perplexity filter —
    ``lm_keep_frac`` — after that, stage 1d) → corpus-wide duplicate-span
    removal on the survivors (stage 2, drops fully-boilerplate docs)
    → optional near-duplicate collapse on the rewritten text (stage
    2b: exact n-gram Jaccard pairs → connected components → keep the
    min-id of each cluster; the all-pairs path is used here precisely
    because it is SQL-oracle-able end to end — swap in the LSH path
    for web scale, same (id_a, id_b) contract) → PII redaction
    (stage 3, narrow) → optional temperature-weighted source mixing
    (stage 4; with ``max_epochs`` the data-constrained ``epoch_mix``
    variant that repeats small sources instead of capping them —
    still oracle-exact) → deterministic split assignment (stage 5,
    narrow).

    Returns (doc_id, text, source, n_spans, n_kept, split) — the
    redacted, span-deduped text plus span accounting and the split
    label. Every stage is the already-tested operator, so the
    composition's oracle is the same CTE chain in DuckDB
    (:func:`prepare_training_corpus_sql`); stage order is load-
    bearing and documented there (spans dedup BEFORE redaction so
    shared <EMAIL> placeholders cannot alias unrelated spans into
    duplicates).

    Returns the ordered STAGE-BOUNDARY list ``(stage_name, frame,
    text_col_at_boundary)`` — ``prepare_training_corpus`` returns the
    last frame; :func:`corpus_funnel` counts every boundary. The list
    shape is the single source of truth, so the funnel can never
    disagree with what the pipeline actually ran.

    ``checkpoint=True`` truncates logical lineage at the deep
    multiply-consumed boundaries with a lazy ``localCheckpoint`` (the
    same device the minhash index uses) and persists every other
    boundary. This is load-bearing for the funnel: several stages
    consume their input frame 2-4x (span_dedup re-joins ``kept``,
    near_dup references ``sd`` four times), so the k-th boundary's
    LOGICAL plan otherwise holds O(2^k) copies of the earliest
    subplans — measured 6+ GB of driver heap just to analyze/codegen
    the 11-boundary funnel union (OOM at any data scale; the blow-up
    is plan-structural, not data). persist() alone cannot fix that:
    caching dedups EXECUTION, but the analyzer/codegen still walk
    every logical copy. A cut at each deep fan-out resets the
    duplicated subtree to one RDD-scan leaf, so duplication only ever
    multiplies shallow segments: driver cost O(stages). Each cut is
    priced (a lazy localCheckpoint runs full physical planning for
    its segment, ~0.3-0.5 s of driver time), which is why only the
    _CUT boundaries — not all 11 — are truncated. Rows still
    materialize exactly once per boundary (storage-equivalent to a
    persist-everywhere design). Execution semantics are unchanged —
    checkpoint is a pipeline-only knob with no mirror in the SQL
    oracle chain (DuckDB MATERIALIZED CTEs already execute each stage
    once).

    ``observations`` (round 14, r13 verdict task 2): pass a list and
    every boundary frame gets a STRING-NAMED ``DataFrame.observe``
    node carrying its (n_docs, n_tokens) counters — the funnel's
    per-boundary aggregates then RIDE the one pipeline action instead
    of being 11+ extra aggregate subtrees (each of which paid its own
    analysis/codegen over the cached boundary). One
    ``{"name", "reader"}`` entry is appended per boundary,
    index-aligned with the returned stage list; values are read back
    from QueryExecution accumulators after the action, per segment
    (a lineage cut replaces everything below it with an RDD leaf, so
    each segment's metrics are read from the pre-cut plan that
    embeds its cached boundaries). Placement is load-bearing: the
    observe node sits ABOVE the lineage cut and BELOW a persist
    (several boundaries are consumed 2-4x downstream; the cache makes
    the metric count rows exactly once, on first materialization).
    The pyspark ``Observation`` helper is deliberately NOT used:
    instantiating it materializes the session's lazy, non-serializable
    ObservationManager field, after which ANY task closure capturing
    the SparkSession (MLlib training summaries do) fails
    Task-not-serializable SESSION-WIDE — measured, see _mark. Cut
    boundaries carry cache blocks on top of their checkpoint blocks
    in observe mode — boundary-sized, the same storage class the
    persist-everywhere design already budgets."""
    from cryo_spark.operators import sampling, spans

    stages: list[tuple[str, DataFrame, str]] = []

    # boundaries whose frame is BOTH deep (windows/joins above them)
    # and consumed >1x downstream — the points where logical-plan
    # copies would compound. Shallow multi-consumed frames (the raw
    # scan, the url filter outputs) stay uncut: duplicating a leaf or
    # scan+filter subtree is cheap, and persist() dedups execution.
    # redact is multi-consumed only when dsir re-joins it, so its cut
    # (priced like every cut at ~0.5 s of driver planning) is
    # conditional.
    _CUT = {"quality_lang_exact", "line_dedup", "span_dedup"}
    if dsir_target is not None and dsir_k:
        _CUT.add("redact")
    # every frame THIS run persists, so release_stage_storage can
    # unpersist surgically instead of clearing the whole session cache
    # (round 15, ADVICE-adjacent); attached to the last stage frame
    # on return
    _persisted: list[DataFrame] = []
    # the lineage cuts' frames: their LogicalRDD leaves hold the
    # locally checkpointed RDDs a failed build must release
    _cuts: list[DataFrame] = []

    # r18 (guide §2.6 — overlap independent work): a lazy
    # localCheckpoint cut executes its segment's SHUFFLE-MAP stages
    # synchronously (AQE finalization), but the segment's RESULT
    # stage — the one that fills the cut's RDD blocks, the boundary
    # persist and the observe accumulators — used to run serially
    # inside the NEXT cut's finalization. Submitting one background
    # action per cut materializes that result stage while the main
    # thread builds the next segment's plan (pure driver work,
    # ~0.3-0.5 s per segment), so cluster execution and driver
    # planning overlap instead of strictly alternating. Correctness
    # is unchanged: cache-once semantics (BlockManager KeyLock) mean
    # the boundary still computes exactly once, the observe
    # accumulators live in the cached physical plan that every reader
    # embeds, and a background failure is logged here (not raised:
    # the same segment resurfaces it on the main thread's own
    # action). One worker: the segments are data-dependent, so deeper
    # pools cannot help.
    _bg = None
    if checkpoint:
        from concurrent.futures import ThreadPoolExecutor

        _bg = ThreadPoolExecutor(max_workers=1)

    def _bg_materialize(frame: DataFrame) -> None:
        try:
            frame.count()
        except Exception:  # noqa: BLE001 - main-thread action re-raises
            _log.warning("funnel: background stage materialization failed",
                         exc_info=True)

    def _mark(name: str, frame: DataFrame, tc: str) -> DataFrame:
        # boundary hook: later stages and the funnel's aggregates both
        # build on the RETURNED frame, so the lineage cut (when on)
        # applies to every downstream consumer
        if checkpoint:
            if name in _CUT:
                if observations is not None:
                    # segment boundary: the cut replaces everything
                    # below with an RDD leaf, so the metrics of the
                    # boundaries below must be read from THIS pre-cut
                    # QueryExecution — it embeds their cached plans
                    # (and with them the executed CollectMetrics
                    # accumulators); the post-cut plan does not
                    pre_qe = frame._jdf.queryExecution()
                    for ent in observations:
                        if ent is not None and ent["reader"] is None:
                            ent["reader"] = pre_qe
                frame = frame.localCheckpoint(eager=False)
                _cuts.append(frame)
            if observations is not None:
                # STRING-NAMED observe, deliberately NOT the
                # pyspark Observation helper: instantiating
                # Observation materializes the session's lazy
                # ObservationManager field, which is not serializable
                # — from then on ANY task closure that captures the
                # SparkSession (MLlib training summaries do) fails
                # with Task-not-serializable, SESSION-WIDE (measured:
                # one observe+persist+count permanently broke
                # classifier.score_quality). Named metrics live only
                # in the plan; values are read back from the
                # QueryExecution's accumulators after the action.
                mname = f"funnel_{next(_OBS_SEQ)}_{len(stages)}_{name}"
                # both metric aggregates as parsed strings: the
                # F.count/F.coalesce/F.sum/token_count chain paid ~18
                # py4j round trips per boundary x 11 boundaries per
                # funnel construction (round-17 chatter profile)
                frame = frame.observe(
                    mname,
                    F.expr("count(1) AS n_docs"),
                    F.expr(
                        "CAST(coalesce(sum("
                        + text.token_count_expr(tc)
                        + "), 0) AS BIGINT) AS n_tokens"
                    ),
                )
                observations.append({"name": mname, "reader": None})
                frame.persist()
                _persisted.append(frame)
            elif name not in _CUT:
                frame.persist()
                _persisted.append(frame)
            if name in _CUT and _bg is not None:
                # overlap: fill this cut's RDD blocks / boundary cache
                # while the main thread plans the next segment (§2.6)
                _bg.submit(_bg_materialize, frame)
        stages.append((name, frame, tc))
        return frame

    try:
        df = _mark("input", df, text_col)

        if (
            url_blocklist or url_allowlist or domain_cap_n
            or robots_rules is not None or host_ranks is not None
        ) and url_col is None:
            raise ValueError(
                "url_blocklist/url_allowlist/domain_cap_n/robots_rules/"
                "host_ranks require url_col"
            )
        if url_col is not None:
            from cryo_spark.operators import web

            # stage 0 (round 10): host-level controls run FIRST — cheaper
            # than even canonical-url dedup (pure expression, no shuffle)
            if url_blocklist:
                df = _mark(
                    "url_blocklist",
                    web.url_host_filter(df, url_blocklist, "block", url_col),
                    text_col,
                )
            if url_allowlist:
                df = _mark(
                    "url_allowlist",
                    web.url_host_filter(df, url_allowlist, "allow", url_col),
                    text_col,
                )
            if robots_rules is not None:
                # robots compliance (round 10) right after the host lists:
                # still pre-dedup (drop before paying any text processing),
                # a broadcast join + regexp match per doc. PIPELINE-ONLY
                # knob: the rules come from a DataFrame
                # (operators.robots.robots_rules), so the SQL oracle chain
                # has no mirror — contract entries run without it, and a
                # funnel comparison against the SQL chain must too.
                from cryo_spark.operators import robots as robots_mod

                df = _mark(
                    "robots",
                    robots_mod.apply_robots(
                        df, robots_rules, url_col=url_col, drop=True
                    ),
                    text_col,
                )
            if host_ranks is not None:
                # link-graph quality prior (round 10), last of the
                # host-level policy controls: broadcast the #hosts-sized
                # rank frame, keep docs whose host rank clears the floor.
                # PIPELINE-ONLY like robots (the ranks come from a
                # DataFrame — operators.linkgraph.host_rank); contract
                # entries run without it. The signal column is dropped at
                # the boundary so downstream stage schemas are unchanged.
                from cryo_spark.operators import linkgraph

                df = _mark(
                    "host_rank",
                    linkgraph.attach_host_rank(df, host_ranks, url_col=url_col)
                    .filter(F.col("host_rank") >= min_host_rank)
                    .drop("host_rank"),
                    text_col,
                )
            ud = web.url_dedup(df, url_col=url_col)
            df = _mark(
                "url_dedup",
                df.join(
                    ud.filter(~F.col("is_duplicate")).select("doc_id"), "doc_id"
                ),
                text_col,
            )
            if domain_cap_n:
                dc = web.domain_cap(df, domain_cap_n, url_col=url_col)
                df = _mark(
                    "domain_cap",
                    df.join(dc.filter(F.col("kept")).select("doc_id"), "doc_id"),
                    text_col,
                )

        if langid_model is not None:
            # LEARNED language ID (round 16): the char-n-gram multinomial
            # model REPLACES the 4-language stopword vote as the stage-1
            # language verdict — the production path for a target lang the
            # vote doesn't know (e.g. 'ja'). with_language appends the
            # prediction in the SAME narrow projection (broadcast
            # coefficients, no shuffle), so the stage shape is unchanged.
            # MLlib scoring is not SQL-expressible: a run with this knob
            # has no DuckDB oracle (same contract carve-out as
            # quality_model); the anchor is langid's held-out accuracy
            # gate + the composition-equivalence test.
            # langid_max_chars (round 17): the CCNet convention — score
            # the first ~1,000 chars; language is stationary in-doc, so
            # predictions for docs under the cap are identical (test-
            # pinned) and the 100 TB scoring pass stops paying for 100 KB
            # outlier docs (measured 2.7x at a 10 KB tail). None = score
            # everything.
            from cryo_spark.operators import langid as _langid

            df = _langid.with_language(
                df, langid_model, text_col, lang_out="_lid_lang",
                prob_out="_lid_prob", max_chars=langid_max_chars,
            )
            lang_guess = F.col("_lid_lang")
            if langid_min_prob:
                # confidence floor: docs the classifier is unsure about
                # (code-switching, boilerplate soup, too-short text) are
                # treated as not-the-target-language rather than kept on
                # a coin-flip argmax — the CCNet operating convention
                lang_guess = F.when(
                    F.col("_lid_prob") >= langid_min_prob, lang_guess
                ).otherwise(F.lit("__low_confidence__"))
        else:
            if langid_min_prob:
                raise ValueError(
                    "langid_min_prob requires langid_model — the stopword "
                    "vote emits no probability"
                )
            if lang not in text.STOPWORDS:
                raise ValueError(
                    f"lang={lang!r} is outside the stopword vote's "
                    f"languages {sorted(text.STOPWORDS)} — the filter "
                    "would silently drop EVERY document; pass "
                    "langid_model= (a trained cryo_spark.operators."
                    "langid model) for other languages"
                )
            lang_guess = text.lang_best_expr(text_col)["lang"]
        feats = spread(df).select(
            "doc_id",
            F.col(text_col),
            "source",
            F.round(text.quality_score_expr(text_col), 6).alias("_q"),
            lang_guess.alias("_lang"),
            F.md5(dedup._norm_text(text_col)).alias("_ck"),
        )
        w = Window.partitionBy("_ck")
        kept = (
            feats.withColumn("_keeper", F.min("doc_id").over(w))
            .filter(
                (F.col("doc_id") == F.col("_keeper"))
                & (F.col("_q") >= min_quality)
                & (F.col("_lang") == lang)
            )
            .select("doc_id", text_col, "source")
        )
        kept = _mark("quality_lang_exact", kept, text_col)
        if quality_model is not None:
            # stage 1c (optional, round 8): LEARNED quality filter on the
            # original text — scores are a narrow broadcast-coefficient
            # pass (classifier.score_quality); the cutoff comes from
            # classifier.train_calibrated_filter's held-out calibration.
            # MLlib scoring is not SQL-expressible, so a pipeline run with
            # this stage on has no DuckDB oracle — its correctness anchor
            # is the composition-equivalence test (pipeline(model) ==
            # pipeline() semi-joined to the surviving doc ids).
            if quality_threshold is None:
                raise ValueError("quality_model requires quality_threshold")
            from cryo_spark.operators import classifier

            ok = classifier.score_quality(kept, quality_model, text_col).filter(
                F.col("quality_prob") >= quality_threshold
            )
            kept = _mark(
                "learned_quality", kept.join(ok.select("doc_id"), "doc_id"),
                text_col,
            )
        if lm_keep_frac is not None:
            # stage 1d (optional, round 10): CCNet-shaped perplexity
            # filter — the corpus's own bigram LM (text.ngram_lm_score)
            # scores every surviving doc and the BOTTOM (1 - lm_keep_frac)
            # by avg_logp (most atypical word transitions: garbage,
            # boilerplate soup, residual wrong-language) is dropped. The
            # cutoff is the corpus quantile via percentile_approx (one
            # mergeable sketch aggregate — no sort, no single-partition
            # collapse at any scale); docs too short to have a bigram have
            # no score row and are KEPT (no evidence of atypicality;
            # length floors belong to the quality stage), hence the
            # drop-side left_anti rather than a keep-side semi join.
            # PIPELINE-ONLY knob like robots/host_ranks: ln() and the
            # approx quantile both sit outside the exact-hash oracle
            # contract, so the SQL chain has no mirror — the correctness
            # anchor is the composition-equivalence test (pipeline(lm) ==
            # pipeline() semi-joined to the scored survivors) plus
            # ngram_lm_score's own numpy differential.
            if not (0.0 < lm_keep_frac <= 1.0):
                raise ValueError("lm_keep_frac must be in (0, 1]")
            scored = text.ngram_lm_score(kept, text_col, add_k=lm_add_k)
            # two consumers (quantile + filter): persist dedups the bigram
            # shuffles; released with the other boundary storage
            scored.persist()
            _persisted.append(scored)
            thr = scored.agg(
                F.percentile_approx(
                    "avg_logp", F.lit(1.0 - lm_keep_frac), F.lit(10000)
                ).alias("_thr")
            )
            drop = (
                scored.crossJoin(F.broadcast(thr))
                .filter(F.col("avg_logp") < F.col("_thr"))
                .select("doc_id")
            )
            kept = _mark(
                "lm_filter", kept.join(drop, "doc_id", "left_anti"), text_col
            )
        if line_dedup:
            ld = spans.dedup_lines(
                kept, text_col, min_docs=line_min_docs
            ).filter(F.col("text") != "")
            kept = _mark(
                "line_dedup",
                ld.select("doc_id", F.col("text").alias(text_col)).join(
                    kept.select("doc_id", "source"), "doc_id"
                ),
                text_col,
            )
        sd = _mark(
            "span_dedup",
            spans.dedup_spans(kept, text_col, span_words)
            .filter(F.col("text") != "")
            .join(kept.select("doc_id", "source"), "doc_id"),
            "text",
        )
        if near_dup:
            pairs = dedup.ngram_jaccard_all_pairs(
                sd, min_jaccard=min_jaccard
            ).select("id_a", "id_b")
            verdict = dedup.dedup_by_components(sd, pairs)
            sd = _mark(
                "near_dup",
                sd.join(
                    verdict.filter(~F.col("is_duplicate")).select("doc_id"),
                    "doc_id",
                ),
                "text",
            )
        if semantic_dedup or semantic_dedup_index is not None:
            # stage 2c (optional, round 14): SEMANTIC near-dup collapse on
            # the span-deduped text — the corpus's own signed-feature-hash
            # embeddings (textembed, engine-neutral) through graph_dedup
            # (kNN graph -> threshold -> components -> min-id keepers).
            # Catches paraphrase/reorder duplicates the n-gram Jaccard
            # stage misses. Oracle-exact end to end (graph_dedup_sql), so
            # funnel comparisons with the option ON still hash-match. The
            # embedding frame is persisted: featurize per row, never per
            # kNN candidate.
            from cryo_spark.operators import similarity as sim_mod
            from cryo_spark.operators import textembed as te_mod

            if semantic_dedup_index is not None:
                # round 15: serve stage 2c from a persisted
                # save_embedding_index table instead of re-featurizing/
                # re-signing the corpus in memory — graph_dedup_from_index
                # reads the bucketed base in place. CONTRACT: the index
                # must cover this stage's input (built from a previous
                # identical run, or maintained by the delta path); ids the
                # index has that the stage input lacks only ever WIDEN
                # clusters (their keepers are already-shipped docs), ids
                # the index lacks keep themselves (anti-join below), and
                # when index == stage input the verdict is EQUAL to the
                # in-memory spelling (pinned in tests). No SQL twin — the
                # oracle cannot read Spark tables; contract entries use
                # the in-memory path.
                sem_verdict = sim_mod.graph_dedup_from_index(
                    df.sparkSession, semantic_dedup_index,
                    threshold=semantic_threshold, k=semantic_k,
                    id_col="doc_id", n_probes=semantic_probes,
                )
                sd = _mark(
                    "semantic_dedup",
                    sd.join(
                        sem_verdict.filter(F.col("is_duplicate"))
                        .select("doc_id"),
                        "doc_id",
                        "left_anti",
                    ),
                    "text",
                )
            else:
                temb = te_mod.text_embeddings(
                    sd, text_col="text", id_col="doc_id", dim=semantic_dim
                )
                temb.persist()
                _persisted.append(temb)
                sem_verdict = sim_mod.graph_dedup(
                    temb, threshold=semantic_threshold, k=semantic_k,
                    id_col="doc_id", n_planes=semantic_planes,
                    n_probes=semantic_probes,
                )
                sd = _mark(
                    "semantic_dedup",
                    sd.join(
                        sem_verdict.filter(~F.col("is_duplicate"))
                        .select("doc_id"),
                        "doc_id",
                    ),
                    "text",
                )
        # redaction applied IN the same projection (redact_text_expr), not
        # as a joined redact_pii frame — a join would make Catalyst
        # evaluate the whole span-dedup subtree twice
        out = _mark(
            "redact",
            sd.select(
                "doc_id",
                text.redact_text_expr("text").alias("text"),
                "source", "n_spans", "n_kept",
            ),
            "text",
        )
        if dsir_target is not None and dsir_k:
            # stage 3b (optional): DSIR importance resampling toward a
            # target corpus — runs on the REDACTED text so placeholder
            # tokens cannot differ between engines; Gumbel-top-k keyed on
            # the pipeline seed (oracle-exact like every other stage)
            from cryo_spark.operators import dsir as dsir_mod

            sel = dsir_mod.dsir_select(
                out, dsir_target, k=dsir_k, gumbel_seed=f"{seed}-dsir"
            )
            out = _mark("dsir", out.join(sel.select("doc_id"), "doc_id"), "text")
        if budget is not None:
            if max_epochs:
                # data-constrained variant (round 10): small sources whose
                # temperature quota exceeds their size get REPEATED (up to
                # max_epochs copies, `epoch` column surfaced) instead of
                # silently capped. Downstream split assignment hashes
                # doc_id, so every copy of a doc lands in the SAME split —
                # repetition can never leak a doc across splits.
                out = _mark(
                    "epoch_mix",
                    sampling.epoch_mix(
                        out, budget, alpha, max_epochs,
                        strata_col="source", seed=f"{seed}-mix",
                    ),
                    "text",
                )
            else:
                out = _mark(
                    "temperature_mix",
                    sampling.temperature_mix(
                        out, budget, alpha, strata_col="source",
                        seed=f"{seed}-mix",
                    ),
                    "text",
                )
        _mark("split", sampling.split_assign(out, seed=f"{seed}-split"), "text")
        if stages:
            # ride the tracked-persist list on the final frame so
            # release_stage_storage(final) can unpersist exactly this
            # run's boundaries (plain Python attribute; harmless baggage)
            stages[-1][1]._cryo_persisted = _persisted
        return stages
    except BaseException:
        # no frame reaches the caller, so nothing could release this
        # run's storage later: drop the queued counts, let a running
        # one finish (releasing its cut under it fails that count),
        # then free the boundary caches and the cuts' checkpointed RDDs
        if _bg is not None:
            _bg.shutdown(wait=True, cancel_futures=True)
        try:
            for f in _persisted:
                f.unpersist()
            for f in _cuts:
                f._jdf.logicalPlan().rdd().unpersist(False)
        except Exception:  # noqa: BLE001 - the build's own error wins
            _log.warning("funnel: releasing a failed build's storage failed",
                         exc_info=True)
        raise
    finally:
        if _bg is not None:
            # queued counts still run; the worker exits after them
            _bg.shutdown(wait=False)


def prepare_training_corpus(df: DataFrame, **kwargs) -> DataFrame:
    """The composed pipeline's OUTPUT frame — see :func:`_corpus_stages`
    for the stage chain and parameters, :func:`corpus_funnel` for the
    per-stage attrition report over the same run."""
    return _corpus_stages(df, **kwargs)[-1][1]


def corpus_funnel(
    df: DataFrame, cache: bool = True, **kwargs
) -> DataFrame:
    """Per-stage attrition (funnel) report for the EXACT pipeline
    :func:`prepare_training_corpus` runs with the same arguments — the
    docs/tokens-retained view every production corpus job is steered
    by. One row per stage boundary:

    (stage_idx, stage, docs_in, docs_out, tokens_in, tokens_out,
     pct_docs, pct_tokens) — tokens are whitespace token counts of the
    stage's text column; ``*_in`` of stage k = ``*_out`` of stage k-1
    (the 'input' row has in == out and pct 1.0); pct = out/in rounded
    to 6 (NULL when in = 0).

    Cost discipline: ONE count/sum aggregate per stage boundary, each
    riding on the MATERIALIZED previous stage output (``cache=True``
    lazily localCheckpoints every boundary inside
    :func:`_corpus_stages`, so the corpus is scanned once and each
    stage's transform runs once — not once per downstream boundary —
    AND the driver-side plan stays O(stages); see the checkpoint note
    on :func:`_corpus_stages` for why plain persist() is not enough:
    the un-truncated 11-boundary union is O(2^stages) logical-plan
    copies and OOMs the driver during analysis/codegen at ANY data
    scale). The per-boundary aggregates are map-side partial counts;
    the final lag() window orders <= 13 single-row partials on one
    task — metadata-sized at any corpus scale. Oracle: the identical
    CTE chain + counts in DuckDB (:func:`corpus_funnel_sql`).

    ``cache=False`` disables BOTH the boundary materialization and the
    lineage cuts: every boundary recomputes its full prefix AND the
    plan-copy blow-up above applies — usable only for small stage
    subsets (debugging); never run it with the full option set.

    ``cache=True`` (the production spelling) is EAGER since round 14:
    the pipeline runs at call time (one action over the staged chain,
    counters observed en route — see :func:`_funnel_from_stages`) and
    the returned frame is the metadata-sized report."""
    if cache:
        observations: list = []
        stages = _corpus_stages(
            df, checkpoint=True, observations=observations, **kwargs
        )
        return _funnel_from_stages(stages, observations)
    stages = _corpus_stages(df, checkpoint=False, **kwargs)
    return _funnel_from_stages(stages)


def prepare_with_funnel(
    df: DataFrame, **kwargs
) -> tuple[DataFrame, DataFrame]:
    """(final corpus frame, funnel frame) over ONE shared staged
    chain — the shape a production run wants: composing
    :func:`prepare_training_corpus` and :func:`corpus_funnel`
    separately would execute every stage (all dedup shuffles, minhash
    joins, robots scans) TWICE. The boundaries are materialized once
    (checkpoint mode), the final frame rides the same materialized
    stages, and the funnel counters ride the one pipeline action
    (observe nodes — round 14). The returned final frame's caches are
    already hot."""
    observations: list = []
    stages = _corpus_stages(
        df, checkpoint=True, observations=observations, **kwargs
    )
    return stages[-1][1], _funnel_from_stages(stages, observations)


def prepare_corpus_delta(
    new_docs: DataFrame,
    index_table: str,
    bands: int = 4,
    k: int = 16,
    update_index: bool = False,
    text_col: str = "text",
    retry_probe: bool = True,
    semantic_index_table: str | None = None,
    **kwargs,
) -> tuple[DataFrame, DataFrame]:
    """Daily-delta ingest as ONE call (round 11; previously the
    tested-but-manual wiring in the daily-ingest workflow test): the
    new batch is near-dup-deduplicated AGAINST an existing persisted
    banded minhash index (``incremental.save_banded_index`` layout)
    before the full preparation pipeline runs on the survivors.

    Chain: ``minhash_index(new)`` → ``incremental_pairs_from_table``
    (the base side reads straight from its buckets — no Exchange above
    the corpus-sized index scan, plan-pinned; only the day-sized delta
    shuffles) → ``delta_duplicates`` (arrival-priority keepers: an
    already-shipped doc always wins a cross pair) → anti-join →
    :func:`_corpus_stages` with the usual options. Returns (final
    frame, funnel frame) like :func:`prepare_with_funnel`, with two
    extra leading funnel rows — ``delta_input`` (the raw batch) and
    ``delta_near_dup`` (survivors of the index dedup) — so the delta
    stages are steerable from the same attrition report.

    ``semantic_index_table`` (round 15) adds a SEMANTIC delta tier:
    after the minhash dedup, survivors are featurized
    (:func:`textembed.text_embeddings` at the index's dim), signed
    with the index's stored (n_planes, seed), and near-duplicates of
    already-shipped docs (cosine >= the ``semantic_threshold``
    pipeline kwarg, default 0.95 — ONE knob for this tier and stage
    2c) are dropped via the same arrival-priority keeper rule —
    paraphrase/word-reorder twins the shingle minhash misses, caught
    WITHOUT re-signing the base. Adds a ``delta_semantic`` funnel
    row; ``update_index=True`` then retry-idempotently appends the
    survivors' embeddings to the semantic index too.

    ``update_index=True`` appends the new batch's band rows to
    ``index_table`` for the NEXT day's run. The drop list is
    materialized (eager localCheckpoint — ids only, day-batch-bounded)
    BEFORE the append, so the lazily-evaluated dedup can never read
    its own batch back out of the table; the append adopts the
    table's SAVED bucket spec (``skew.write_bucketed`` reads the
    catalog, so an index saved with a non-default ``n_buckets``
    appends cleanly) and is RETRY-IDEMPOTENT: rows whose doc_id is
    already in the index (a failed-then-retried run that got past its
    append) are skipped, so a retry can never bloat the index with
    duplicate band rows. COST of that guarantee: one extra
    column-pruned (doc_id-only) scan of the index per update day — the
    index has no doc_id pruning structure, so the probe cannot be
    cheaper without a transactional marker plain parquet tables lack.
    Orchestrators that guarantee at-most-once runs (or rebuild the
    index on failure) can pass ``retry_probe=False`` to skip the scan
    entirely. Index SCOPE: the append
    records the whole INGESTED batch (pre-pipeline), not just the
    pipeline's survivors — the same seen-docs semantics the streaming
    near-dup sink and the manual daily workflow use, so content
    already evaluated once (even if quality-filtered out) is never
    re-admitted by a later crawl of the same page. If shipped-only
    semantics are wanted instead, pass ``update_index=False`` and
    append ``incremental.minhash_index(final_frame)`` after the run.

    Scale shape: the base index never re-shuffles (bucketed read), the
    new index is k longs/doc, the drop list is ids-only, and the
    pipeline stages inherit the funnel's O(stages) driver-plan
    discipline."""
    from cryo_spark.operators import incremental, skew

    spark = new_docs.sparkSession
    # consumed by the pair join, the drop list AND the index append —
    # one signature pass (same device as the minhash contract entry)
    new_idx = incremental.minhash_index(
        new_docs, text_col=text_col, k=k
    ).localCheckpoint(eager=False)
    pairs = incremental.incremental_pairs_from_table(
        spark, index_table, new_idx, bands=bands, with_est=False
    )
    # EAGER: forces the base-index read NOW, so a subsequent
    # update_index append cannot leak the new batch into its own
    # dedup (lazy evaluation would otherwise read the table at
    # action time, after the append)
    drops = incremental.delta_duplicates(pairs, new_idx).localCheckpoint(
        eager=True
    )
    if update_index:
        rows = incremental._band_rows(
            new_idx, bands, "doc_id", carry_cols=("sig",)
        ).withColumn("bands", F.lit(bands))
        # RETRY IDEMPOTENCY: a day-N run that appended its index rows
        # but failed before the output write gets retried — without
        # this, the retry re-appends the same band rows, bloating the
        # index and every future candidate join. Probe the table for
        # ids of THIS batch (broadcast the day-sized id set into a
        # semi-join; the corpus-sized index streams, nothing
        # corpus-sized shuffles) and skip rows already present. Eager
        # checkpoint: the probe must run BEFORE the append so the
        # rows plan can never read the table mid-write.
        if retry_probe:
            already = (
                spark.table(index_table)
                .join(
                    F.broadcast(new_idx.select("doc_id").distinct()),
                    "doc_id",
                    "left_semi",
                )
                .select("doc_id")
                .distinct()
            )
            rows = rows.join(F.broadcast(already), "doc_id", "left_anti")
        rows = rows.localCheckpoint(eager=True)
        # append adopts the table's saved bucket count (write_bucketed
        # reads the catalog spec), so an index saved with a
        # non-default n_buckets appends cleanly
        skew.write_bucketed(
            rows, index_table, ["band_id", "band_hash"], mode="append"
        )
    surv = new_docs.join(drops, "doc_id", "left_anti")
    pre: list[tuple] = [("delta_input", new_docs, text_col)]
    first_label = "delta_near_dup"
    if semantic_index_table is not None:
        # semantic delta (round 15): the minhash survivors are
        # additionally deduplicated against a persisted
        # `incremental.save_embedding_index` table — paraphrase/
        # reorder duplicates of ALREADY-SHIPPED docs are dropped
        # WITHOUT re-signing the base (the bucketed index is the
        # base's standing signature; only the day-sized batch
        # embeds + shuffles). The batch is featurized with the
        # repo's self-contained text embeddings at the INDEX's dim
        # and signed with its stored (n_planes, seed) — the
        # hyperplane family must match or nothing would pair.
        from cryo_spark.operators import textembed

        meta = (
            spark.table(semantic_index_table)
            .select("n_planes", "seed", F.size("embedding").alias("_d"))
            .filter(F.col("_d").isNotNull())
            .first()
        )
        if meta is None:
            raise ValueError(
                f"embedding index {semantic_index_table!r} is empty"
            )
        temb = textembed.text_embeddings(
            surv, text_col=text_col, id_col="doc_id",
            dim=int(meta["_d"]),
        )
        new_eidx = incremental.embedding_index(
            temb, n_planes=int(meta["n_planes"]),
            seed=int(meta["seed"]), id_col="doc_id",
            dim=int(meta["_d"]),
        ).localCheckpoint(eager=False)
        epairs = incremental.incremental_embedding_pairs_from_table(
            spark, semantic_index_table, new_eidx,
            min_cosine=kwargs.get("semantic_threshold", 0.95),
            id_col="doc_id",
        )
        # eager for the same reason as the minhash drop list: the
        # dedup must be pinned BEFORE any index append
        edrops = incremental.delta_duplicates(
            epairs, new_eidx, id_col="doc_id"
        ).localCheckpoint(eager=True)
        if update_index:
            # same retry-idempotent append as the minhash index.
            # SCOPE note: the semantic index records the MINHASH
            # SURVIVORS (their embeddings are the ones computed), not
            # the raw batch — a minhash-dropped doc is a near-verbatim
            # twin of something already indexed, so its embedding adds
            # no new semantic mass; embedding it anyway would double
            # the featurize cost for no recall.
            erows = new_eidx
            if retry_probe:
                ealready = (
                    spark.table(semantic_index_table)
                    .join(
                        F.broadcast(
                            new_eidx.select("doc_id").distinct()
                        ),
                        "doc_id",
                        "left_semi",
                    )
                    .select("doc_id")
                    .distinct()
                )
                erows = erows.join(
                    F.broadcast(ealready), "doc_id", "left_anti"
                )
            erows = erows.localCheckpoint(eager=True)
            skew.write_bucketed(
                erows, semantic_index_table, ["bucket"], mode="append"
            )
        pre.append(("delta_near_dup", surv, text_col))
        surv = surv.join(edrops, "doc_id", "left_anti")
        first_label = "delta_semantic"
    observations: list = []
    stages = _corpus_stages(
        surv, text_col=text_col, checkpoint=True,
        observations=observations, **kwargs,
    )
    # the pipeline's own 'input' boundary IS the delta survivors —
    # relabel it and prepend the raw batch (and, with a semantic
    # index, the minhash survivors) so the funnel covers the
    # index-dedup attrition. The prepended frames have no observe
    # node (they are not part of the staged chain), so their funnel
    # rows fall back to one day-batch-sized aggregate each (the None
    # slots).
    stages[0] = (first_label, stages[0][1], stages[0][2])
    full = pre + stages
    return full[-1][1], _funnel_from_stages(
        full, [None] * len(pre) + observations
    )


def release_stage_storage(df_or_session) -> None:
    """Free the boundary storage a funnel/prepare_with_funnel run left
    behind in a LONG-LIVED session (notebook, service).

    Handed the FINAL FRAME a round-15+ pipeline returned, this is
    SURGICAL: `_corpus_stages` rides the list of frames it persisted
    on that frame (``_cryo_persisted``), and only those are
    unpersisted — other caches in a shared session are untouched.
    Handed a session (or an untracked frame), it falls back to
    session-wide ``spark.catalog.clearCache()`` (safe: Spark
    re-materializes any still-referenced cache on next use). Either
    way, lazy-localCheckpoint RDD blocks are freed by the
    ContextCleaner once the Python frames are garbage-collected —
    drop references and this call's ``System.gc()`` nudge completes
    the release. One-shot jobs (the CLI, the driver harness) don't
    need this; their storage dies with the session."""
    spark = getattr(df_or_session, "sparkSession", df_or_session)
    frames = getattr(df_or_session, "_cryo_persisted", None)
    if frames is not None:
        for f in frames:
            try:
                f.unpersist()
            except Exception:  # noqa: BLE001 - already released
                pass
    else:
        spark.catalog.clearCache()
    spark._jvm.System.gc()


def _read_metric(qe, name: str) -> tuple[int, int] | None:
    """(n_docs, n_tokens) of one named observe node, read from a JVM
    QueryExecution's accumulators (``observedMetrics`` walks the
    executed plan INCLUDING embedded cached plans — validated by
    test); None when the metric is absent/undefined, routing the
    caller to the aggregate fallback.

    VERSION GUARD (round 15): ``QueryExecution.observedMetrics`` and
    the Row accessor shapes are INTERNAL Spark surfaces (stable across
    3.x/4.x, but not API-contracted). If a future Spark moves them,
    the except arm turns the whole funnel into the aggregate-fallback
    path — values stay exact (one metadata-sized job per boundary),
    only the single-action optimization is lost."""
    try:
        opt = qe.observedMetrics().get(name)
        if not opt.isDefined():
            return None
        row = opt.get()
        return (
            int(row.getLong(row.fieldIndex("n_docs"))),
            int(row.getLong(row.fieldIndex("n_tokens"))),
        )
    except Exception:  # noqa: BLE001 - py4j surface drift -> fallback
        return None


def _funnel_from_stages(
    stages: list[tuple[str, DataFrame, str]],
    observations: list | None = None,
) -> DataFrame:
    """Funnel frame from a staged chain. With ``observations`` (one
    per stage, index-aligned; ``None`` entries fall back to a classic
    aggregate) the per-boundary counters RIDE one action — a single
    count() on the LAST stage materializes every boundary cache in
    order and fires every observe node exactly once — instead of the
    11+-aggregate union (round 14: each of those aggregates was its
    own analyzed/codegen'd subtree over a cached boundary; the union +
    lag window re-planned all of them. Measured at sf0.1: ACTION time
    3.4 s -> 1.4 s warm for the full-kwargs contract funnel — the
    min-of-3 bench number stays construction-dominated, since the
    lineage cuts execute their segments at plan time by design). The
    observed counts then become a literal rows frame, and the SAME
    lag/pct Spark expressions produce the report — values identical
    to the aggregate spelling, hash-pinned by the corpus_funnel
    contract entry."""
    if observations is not None:
        last = stages[-1][1]
        # the ONE action, run through the LAST frame's own
        # QueryExecution so the same handle that executed the chain
        # also serves the tail segment's metric reads
        fqe = last._jdf.queryExecution()
        try:
            n_final = int(fqe.executedPlan().execute().count())
        except Exception:  # noqa: BLE001
            # version guard (round 15): executedPlan().execute() is an
            # internal surface; if a future Spark moves it, run the
            # public action instead — the observe metrics then never
            # fire on fqe, _read_metric returns None for every
            # boundary, and the aggregate fallback keeps values exact
            n_final = int(last.count())
        # eviction guard (round 15, ADVICE r14): the observe nodes sit
        # below the persists, so if a cached boundary partition is
        # evicted under memory pressure (or lost with an executor) and
        # RECOMPUTED during the action, its CollectMetrics accumulator
        # receives duplicate updates and the funnel would silently
        # over-count. The final boundary's observed n_docs has an
        # independent witness — the action's own row count. On
        # mismatch, distrust EVERY observed counter for this run and
        # fall back to per-boundary aggregates over the
        # already-materialized caches (values exact, one extra
        # metadata-sized job per boundary).
        last_ent = observations[-1] if observations else None
        if last_ent is not None:
            v = _read_metric(
                last_ent["reader"]
                if last_ent["reader"] is not None
                else fqe,
                last_ent["name"],
            )
            if v is not None and v[0] != n_final:
                observations = [None] * len(observations)
        rows = []
        for i, ((stage, frame, tc), ent) in enumerate(
            zip(stages, observations)
        ):
            vals = None
            if ent is not None:
                vals = _read_metric(
                    ent["reader"] if ent["reader"] is not None else fqe,
                    ent["name"],
                )
            if vals is not None:
                nd, nt = vals
            else:
                # fallback (and the un-observed prepended frames):
                # one aggregate riding the already-materialized cache
                r = frame.agg(
                    F.expr("count(1) AS n_docs"),
                    F.expr(
                        "CAST(coalesce(sum("
                        + text.token_count_expr(tc)
                        + "), 0) AS BIGINT) AS n_tokens"
                    ),
                ).first()
                nd, nt = int(r["n_docs"]), int(r["n_tokens"])
            rows.append((i, stage, nd, nt))
        # local_rows (r18): <= 13 single-row partials — one slice, not
        # a defaultParallelism-wide near-empty wave under the report's
        # lag() window
        from cryo_spark.operators.util import local_rows

        u = local_rows(
            last.sparkSession,
            rows, "stage_idx long, stage string, n_docs long, n_tokens long",
        )
        return _funnel_report(u)
    parts = []
    for i, (stage, frame, tc) in enumerate(stages):
        toks = text.token_count(tc)
        parts.append(
            frame.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(F.sum(toks), F.lit(0)).cast("long").alias("n_tokens"),
            ).select(
                F.lit(i).cast("long").alias("stage_idx"),
                F.lit(stage).alias("stage"),
                "n_docs",
                "n_tokens",
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return _funnel_report(u)


def _funnel_report(u: DataFrame) -> DataFrame:
    w = Window.orderBy("stage_idx")
    base = u.select(
        "stage_idx",
        "stage",
        F.coalesce(F.lag("n_docs").over(w), F.col("n_docs")).alias("docs_in"),
        F.col("n_docs").alias("docs_out"),
        F.coalesce(F.lag("n_tokens").over(w), F.col("n_tokens")).alias(
            "tokens_in"
        ),
        F.col("n_tokens").alias("tokens_out"),
    )
    pct = lambda o, i: F.when(  # noqa: E731
        F.col(i) == 0, F.lit(None).cast("double")
    ).otherwise(F.round(F.col(o) / F.col(i), 6))
    return base.select(
        "stage_idx", "stage", "docs_in", "docs_out", "tokens_in",
        "tokens_out",
        pct("docs_out", "docs_in").alias("pct_docs"),
        pct("tokens_out", "tokens_in").alias("pct_tokens"),
    )


def prepare_training_corpus_sql(
    table: str,
    text_col: str = "text",
    min_quality: float = 0.5,
    lang: str = "en",
    span_words: int = 10,
    budget: int | None = None,
    alpha: float = 0.5,
    max_epochs: int | None = None,
    seed: str = "corpus0",
    near_dup: bool = False,
    min_jaccard: float = 0.5,
    dsir_target_table: str | None = None,
    dsir_k: int | None = None,
    line_dedup: bool = False,
    line_min_docs: int = 2,
    url_col: str | None = None,
    domain_cap_n: int | None = None,
    url_blocklist=None,
    url_allowlist=None,
    semantic_dedup: bool = False,
    semantic_threshold: float = 0.95,
    semantic_dim: int = 64,
    semantic_k: int = 10,
    semantic_planes: int = 6,
    semantic_probes: int = 8,
) -> str:
    """DuckDB oracle: the identical stage chain as CTEs over the
    per-stage oracle builders (WITH RECURSIVE when the near-dup
    stage needs the component closure)."""
    with_kw, ctes, _, split = _corpus_sql_chain(
        table, text_col, min_quality, lang, span_words, budget, alpha,
        seed, near_dup, min_jaccard, dsir_target_table, dsir_k,
        line_dedup, line_min_docs, url_col, domain_cap_n,
        url_blocklist, url_allowlist, max_epochs=max_epochs,
        semantic_dedup=semantic_dedup,
        semantic_threshold=semantic_threshold,
        semantic_dim=semantic_dim, semantic_k=semantic_k,
        semantic_planes=semantic_planes,
        semantic_probes=semantic_probes,
    )
    return f"\n{with_kw}{ctes}\n{split}\n"


def _corpus_sql_chain(
    table: str,
    text_col: str = "text",
    min_quality: float = 0.5,
    lang: str = "en",
    span_words: int = 10,
    budget: int | None = None,
    alpha: float = 0.5,
    seed: str = "corpus0",
    near_dup: bool = False,
    min_jaccard: float = 0.5,
    dsir_target_table: str | None = None,
    dsir_k: int | None = None,
    line_dedup: bool = False,
    line_min_docs: int = 2,
    url_col: str | None = None,
    domain_cap_n: int | None = None,
    url_blocklist=None,
    url_allowlist=None,
    max_epochs: int | None = None,
    semantic_dedup: bool = False,
    semantic_threshold: float = 0.95,
    semantic_dim: int = 64,
    semantic_k: int = 10,
    semantic_planes: int = 6,
    semantic_probes: int = 8,
) -> tuple[str, str, list[tuple[str, str, str]], str]:
    """The shared CTE chain: (with_keyword, ctes_sql, boundaries,
    final_split_select). ``boundaries`` mirrors :func:`_corpus_stages`
    exactly — (stage_name, cte_or_table_name, text_col_at_boundary) —
    so the funnel oracle counts the same frames the pipeline oracle
    selects from."""
    from cryo_spark.operators import sampling, spans

    boundaries: list[tuple[str, str, str]] = [("input", table, text_col)]
    url_ctes = ""
    if (url_blocklist or url_allowlist or domain_cap_n) and url_col is None:
        raise ValueError(
            "url_blocklist/url_allowlist/domain_cap_n require url_col"
        )
    if url_col is not None:
        from cryo_spark.operators import web

        if url_blocklist:
            hb = web.url_host_filter_sql(
                table, url_blocklist, "block", url_col
            )
            url_ctes += f" hostblock AS MATERIALIZED ({hb}),"
            table = "hostblock"
            boundaries.append(("url_blocklist", table, text_col))
        if url_allowlist:
            ha = web.url_host_filter_sql(
                table, url_allowlist, "allow", url_col
            )
            url_ctes += f" hostallow AS MATERIALIZED ({ha}),"
            table = "hostallow"
            boundaries.append(("url_allowlist", table, text_col))
        ud = web.url_dedup_sql(table, url_col=url_col)
        url_ctes += f""" urlstage0 AS MATERIALIZED (
  SELECT t.* FROM {table} t
  JOIN (SELECT doc_id FROM ({ud}) WHERE NOT is_duplicate) u USING (doc_id)
),"""
        table = "urlstage0"
        boundaries.append(("url_dedup", table, text_col))
        if domain_cap_n:
            dc = web.domain_cap_sql("urlstage0", domain_cap_n, url_col=url_col)
            url_ctes += f""" urlstage AS MATERIALIZED (
  SELECT t.* FROM urlstage0 t
  JOIN (SELECT doc_id FROM ({dc}) WHERE kept) c USING (doc_id)
),"""
            table = "urlstage"
            boundaries.append(("domain_cap", table, text_col))

    q = text.quality_score_sql(table, text_col)
    l_ = text.lang_id_sql(table, text_col)
    d = dedup.exact_dedup_sql(table, text_col)
    boundaries.append(("quality_lang_exact", "filtered", text_col))
    # table name must not collide with dedup_spans_sql's internal CTE
    # names (toks/sp/kept/reb) — DuckDB binds same-list names first and
    # reports a circular reference
    if line_dedup:
        # stage 1b: dedup_lines rewrites text; its output column is
        # always 'text', aliased back to the caller's text_col so the
        # downstream span stage is name-agnostic
        ld0 = spans.dedup_lines_sql(
            "filtered", text_col, min_docs=line_min_docs
        )
        ld_ctes = f""", ld0 AS MATERIALIZED ({ld0}),
linefiltered AS MATERIALIZED (
  SELECT l.doc_id, l.text AS {text_col}, k.source
  FROM ld0 l JOIN filtered k USING (doc_id) WHERE l.text != ''
)"""
        span_src = "linefiltered"
        boundaries.append(("line_dedup", span_src, text_col))
    else:
        ld_ctes, span_src = "", "filtered"
    sd0 = spans.dedup_spans_sql(span_src, text_col, span_words)
    if near_dup:
        with_kw, sd_inner = "WITH RECURSIVE", "sd_all"
        pairs_sql = dedup.ngram_jaccard_all_pairs_sql(
            "sd_all", "text", min_jaccard=min_jaccard
        )
        nd_ctes = f""", pp AS ({pairs_sql}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pp UNION SELECT id_b, id_a FROM pp
), reach(u, v) AS (
  SELECT u, v FROM edges
  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), comp AS (
  SELECT u AS id, least(u, min(v)) AS component FROM reach GROUP BY u
), sd AS MATERIALIZED (
  SELECT s.* FROM sd_all s LEFT JOIN comp c ON c.id = s.doc_id
  WHERE coalesce(c.component, s.doc_id) = s.doc_id
)"""
    else:
        with_kw, sd_inner, nd_ctes = "WITH", "sd", ""
    boundaries.append(("span_dedup", sd_inner, "text"))
    if near_dup:
        boundaries.append(("near_dup", "sd", "text"))
    post_sd = "sd"
    sem_ctes = ""
    if semantic_dedup:
        # stage 2c mirror: the corpus's own text embeddings through
        # the graph-dedup twin — self-contained WITH RECURSIVE
        # subquery (graph_dedup_sql), survivors joined back
        from cryo_spark.operators import similarity as sim_mod
        from cryo_spark.operators import textembed as te_mod

        te = te_mod.text_embeddings_sql(
            "sd", "text", "doc_id", semantic_dim
        )
        gd = sim_mod.graph_dedup_sql(
            "__semte", threshold=semantic_threshold, k=semantic_k,
            id_col="doc_id", n_planes=semantic_planes, seed=42,
            n_probes=semantic_probes, dim=semantic_dim,
            prelude=f"__semte AS ({te}),",
        )
        sem_ctes = f""", semdd AS MATERIALIZED (
  SELECT s.* FROM sd s JOIN (
    SELECT doc_id FROM ({gd}) WHERE NOT is_duplicate
  ) __sem USING (doc_id)
)"""
        post_sd = "semdd"
        boundaries.append(("semantic_dedup", "semdd", "text"))
    # downstream of dedup_spans_sql the rewritten column is ALWAYS
    # named 'text' (its fixed output schema) — passing the caller's
    # text_col here would emit unexecutable SQL for non-default names
    red = text.redact_pii_sql(post_sd, "text")
    boundaries.append(("redact", "merged", "text"))
    mix_src = "merged"
    dsir_ctes = ""
    if dsir_target_table is not None and dsir_k:
        from cryo_spark.operators import dsir as dsir_mod

        inner = dsir_mod.dsir_select_sql(
            "merged", dsir_target_table, dsir_k,
            gumbel_seed=f"{seed}-dsir",
        )
        dsir_ctes = (
            ", targeted AS MATERIALIZED (\n  SELECT m.* FROM merged m JOIN ("
            + inner
            + ") __dsel USING (doc_id)\n)"
        )
        mix_src = "targeted"
        boundaries.append(("dsir", "targeted", "text"))
    if budget is not None and max_epochs:
        mixed = sampling.epoch_mix_sql(
            mix_src, budget, alpha, max_epochs,
            strata_col="source", seed=f"{seed}-mix",
        )
        boundaries.append(("epoch_mix", "mixed", "text"))
    elif budget is not None:
        mixed = sampling.temperature_mix_sql(
            mix_src, budget, alpha, strata_col="source", seed=f"{seed}-mix"
        )
        boundaries.append(("temperature_mix", "mixed", "text"))
    else:
        mixed = f"SELECT * FROM {mix_src}"
    split = sampling.split_assign_sql("mixed", seed=f"{seed}-split")
    boundaries.append(("split", "finalsplit", "text"))
    ctes = f"""{url_ctes} pass1 AS MATERIALIZED (
  SELECT q.doc_id FROM ({q}) q
  JOIN ({l_}) l ON l.doc_id = q.doc_id
  JOIN ({d}) d ON d.doc_id = q.doc_id
  WHERE NOT d.is_duplicate
    AND q.quality_score >= {min_quality} AND l.lang_guess = '{lang}'
), filtered AS MATERIALIZED (
  SELECT t.doc_id, t.{text_col}, t.source FROM {table} t
  JOIN pass1 USING (doc_id)
){ld_ctes}, sd0 AS MATERIALIZED ({sd0}),
{sd_inner} AS MATERIALIZED (
  SELECT s.doc_id, s.text, s.n_spans, s.n_kept, k.source
  FROM sd0 s JOIN filtered k USING (doc_id) WHERE s.text != ''
){nd_ctes}{sem_ctes}, red AS MATERIALIZED ({red}),
merged AS MATERIALIZED (
  SELECT {post_sd}.doc_id, red.redacted_text AS text, {post_sd}.source,
         {post_sd}.n_spans, {post_sd}.n_kept
  FROM {post_sd} JOIN red USING (doc_id)
){dsir_ctes}, mixed AS MATERIALIZED ({mixed})"""
    return with_kw, ctes, boundaries, split


def corpus_funnel_sql(
    table: str, text_col: str = "text", prelude: str = "", **kwargs
) -> str:
    """DuckDB oracle for :func:`corpus_funnel`: the IDENTICAL CTE
    chain as :func:`prepare_training_corpus_sql` (shared builder), with
    a per-boundary count/token-sum union and the same lag() window on
    top — stage names, order, and optionality all come from the one
    shared boundary list.

    ``prelude`` injects extra CTE clauses (``name AS (...),`` —
    trailing comma included) right after the WITH keyword, so a caller
    can derive ``table`` itself (e.g. synthesize a url column) without
    nesting the whole chain in a subquery."""
    with_kw, ctes, boundaries, split = _corpus_sql_chain(
        table, text_col, **kwargs
    )
    ctes = f" {prelude}{ctes}" if prelude else ctes
    counts = "\nUNION ALL\n".join(
        f"SELECT {i} AS stage_idx, '{stage}' AS stage, "
        f"count(*) AS n_docs, "
        f"coalesce(sum({text.token_count_sql(tc)}), 0)::BIGINT AS n_tokens "
        f"FROM {src}"
        for i, (stage, src, tc) in enumerate(boundaries)
    )
    return f"""
{with_kw}{ctes}, finalsplit AS MATERIALIZED ({split}),
counts AS ({counts}),
flow AS (
  SELECT stage_idx, stage,
    coalesce(lag(n_docs) OVER (ORDER BY stage_idx), n_docs) AS docs_in,
    n_docs AS docs_out,
    coalesce(lag(n_tokens) OVER (ORDER BY stage_idx), n_tokens) AS tokens_in,
    n_tokens AS tokens_out
  FROM counts
)
SELECT stage_idx::BIGINT AS stage_idx, stage,
  docs_in::BIGINT AS docs_in, docs_out::BIGINT AS docs_out,
  tokens_in::BIGINT AS tokens_in, tokens_out::BIGINT AS tokens_out,
  CASE WHEN docs_in = 0 THEN NULL
       ELSE round(docs_out / docs_in::DOUBLE, 6) END AS pct_docs,
  CASE WHEN tokens_in = 0 THEN NULL
       ELSE round(tokens_out / tokens_in::DOUBLE, 6) END AS pct_tokens
FROM flow
"""


def corpus_report(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One small frame of corpus health metrics — the summary a
    pipeline prints before/after each preparation stage: overall doc
    and token counts plus per-language and per-source breakdowns.

    Returns (dimension, key, n_docs, n_tokens, avg_tokens) where
    dimension is 'corpus' (key NULL), 'lang', or 'source'. ONE
    grouping-sets aggregation — a union of three groupBys would scan
    and tokenize the corpus three times (Spark does not share the
    scan across union branches); grouping sets computes all three
    breakdowns in a single pass with map-side partials. Output rows
    bounded by #langs + #sources + 1 — metadata-sized at any corpus
    scale. Engine-exact (counts + integer sums + round), so the test
    checks it against DuckDB bit-for-bit."""
    toks = text.token_count(text_col)
    base = spread(df).select(
        F.col("lang"), F.col("source"), toks.alias("_t")
    )
    gs = base.groupingSets(
        [[], ["lang"], ["source"]], "lang", "source"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_t").cast("long").alias("n_tokens"),
        F.round(F.avg("_t"), 4).alias("avg_tokens"),
        F.grouping("lang").alias("_gl"),
        F.grouping("source").alias("_gs"),
    )
    dim = (
        F.when(F.col("_gl") == 0, F.lit("lang"))
        .when(F.col("_gs") == 0, F.lit("source"))
        .otherwise(F.lit("corpus"))
    )
    return gs.select(
        dim.alias("dimension"),
        F.coalesce("lang", "source").alias("key"),
        "n_docs",
        "n_tokens",
        "avg_tokens",
    )


def corpus_report_sql(table: str, text_col: str = "text") -> str:
    t = text.token_count_sql(text_col)
    return f"""
SELECT 'corpus' AS dimension, CAST(NULL AS VARCHAR) AS key,
       count(*) AS n_docs, sum({t})::BIGINT AS n_tokens,
       round(avg({t}), 4) AS avg_tokens
FROM {table}
UNION ALL
SELECT 'lang', lang, count(*), sum({t})::BIGINT, round(avg({t}), 4)
FROM {table} GROUP BY lang
UNION ALL
SELECT 'source', source, count(*), sum({t})::BIGINT, round(avg({t}), 4)
FROM {table} GROUP BY source
"""

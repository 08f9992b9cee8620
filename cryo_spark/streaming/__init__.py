"""Structured Streaming extension: tail the chain.

The reference has no streaming; "tailing" is emulated by re-running
with idempotent skip-existing + a reorg buffer
(/root/reference/crates/freeze/src/freeze.rs:93-99,
crates/cli/src/parse/blocks.rs:360-384). Spark Structured Streaming
expresses the same loop natively (SURVEY §2.10):

- source: a landed-raw directory where the ingester drops one parquet
  file per fetched block batch (`readStream.parquet`); new files are
  discovered incrementally via the streaming file index,
- the reorg buffer maps to a watermark on block timestamp: late
  (re-orged / re-fetched) rows inside the buffer update their window,
  older ones are dropped.

The corpus CLI's ``--stream`` mode reads WARC drops through
:func:`stream_warc_documents`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cryo_spark.schemas import get_spec


def block_tail(spark: SparkSession, raw_dir: str) -> DataFrame:
    """Streaming scan of a landed-raw blocks directory. Schema comes
    from the dataset registry (streams cannot infer), so the stream
    and the batch transforms agree."""
    spec = get_spec("blocks")
    return spark.readStream.schema(spec.spark_schema()).parquet(raw_dir)


def windowed_rollup(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Tumbling-window per-window stats with late-data handling: the
    watermark is the streaming analog of the reorg buffer — rows
    arriving within it update their window, older rows are dropped.
    Output: window start/end epoch + block count + gas aggregate."""
    ts = F.col(ts_col).cast("timestamp")
    return (
        stream.withColumn("_event_time", ts)
        .withWatermark("_event_time", watermark)
        .groupBy(F.window("_event_time", window))
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum("gas_used").alias("sum_gas_used"),
            F.min("block_number").alias("min_block"),
            F.max("block_number").alias("max_block"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            F.unix_timestamp(F.col("window.end")).alias("window_end"),
            "n_blocks", "sum_gas_used", "min_block", "max_block",
        )
    )


def running_account_totals(stream: DataFrame):
    """Custom stateful streaming operator via applyInPandasWithState:
    per-sender running transaction count + total gas, maintained
    across micro-batches (the streaming analog of a cumulative
    groupBy — state lives in the state store, one row per address).

    Emits the updated running totals for every address seen in each
    micro-batch."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("from_address", T.BinaryType()),
            T.StructField("n_txs", T.LongType()),
            T.StructField("total_gas_used", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n_txs", T.LongType()),
            T.StructField("total_gas_used", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, gas = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            gas += int(pdf["gas_used"].fillna(0).sum())
        state.update((n, gas))
        yield pd.DataFrame(
            {"from_address": [key[0]], "n_txs": [n], "total_gas_used": [gas]}
        )

    return (
        stream.select("from_address", "gas_used")
        .groupBy("from_address")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    event_time_col: str | None = None,
    horizon: str = "1 hour",
) -> DataFrame:
    """Streaming exact-dedup for a continuously-arriving document
    stream (the ingest-side twin of ``operators.dedup.exact_dedup``):
    only the first arrival of each normalized-content md5 key passes;
    later copies are dropped inside the engine's dedup state store.

    State management is the 100 TB-stream concern: with
    ``event_time_col`` set, the key state is watermark-bounded via
    ``dropDuplicatesWithinWatermark`` — a key older than ``horizon``
    is evicted, so state size tracks the dedup horizon, not the
    stream's lifetime (the same late-data contract as the reorg
    buffer / windowed rollup). Without an event-time column the state
    is unbounded (exact global dedup) — correct, but only for
    bounded backfills; the docstring-level guidance mirrors
    dropDuplicates' own.

    Works identically on a batch DataFrame (Spark's unified
    semantics), which is what the stream/batch equivalence test
    pins: same distinct key set as the batch `exact_dedup` keeper
    rows."""
    key = F.md5(
        F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"[ \t\n\x0b\f\r]+", " ")
    )
    out = stream.withColumn("content_key", key)
    if event_time_col is not None:
        out = out.withColumn(
            "_event_time", F.col(event_time_col).cast("timestamp")
        ).withWatermark("_event_time", horizon)
        if out.isStreaming:
            return out.dropDuplicatesWithinWatermark(["content_key"]).drop(
                "_event_time"
            )
        return out.dropDuplicates(["content_key"]).drop("_event_time")
    return out.dropDuplicates(["content_key"])


def streaming_ingest_clean(
    stream: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.5,
    lang: str | None = "en",
    redact: bool = True,
    event_time_col: str | None = None,
    horizon: str = "1 hour",
    dsir_ratios: dict | None = None,
    dsir_threshold: float | None = None,
) -> DataFrame:
    """Ingest-side corpus cleaning: the stateless half of
    `operators.corpus.clean_corpus` (quality floor, language gate,
    in-place PII redaction) fused IN FRONT of the watermark-bounded
    exact-dedup — documents are filtered and scrubbed the moment they
    arrive instead of landing raw and waiting for a batch pass.

    Operator order is the scale design: the filters are narrow
    stateless projections, so they shrink the stream BEFORE the
    stateful dedup — the dedup state store only ever holds keys of
    documents that survived, and (with ``event_time_col``) only
    within the ``horizon``. Emits the arrival row plus
    (quality_score, lang_guess, content_key); the same call cleans a
    batch DataFrame identically (unified semantics — pinned by the
    stream/batch equivalence test).
    """
    from cryo_spark.operators import text as text_ops

    q = F.round(text_ops.quality_score_expr(text_col), 6)
    best = text_ops.lang_best_expr(text_col)
    out = stream.withColumn("quality_score", q).withColumn(
        "lang_guess", best["lang"]
    )
    out = out.filter(F.col("quality_score") >= min_quality)
    if lang is not None:
        out = out.filter(F.col("lang_guess") == lang)
    if redact:
        # in-place expression, not redact_pii's frame: a stream can't
        # join back to itself, and one subtree evaluation is the
        # point (see text.redact_text_expr)
        out = out.withColumn(text_col, text_ops.redact_text_expr(text_col))
    if dsir_ratios is not None:
        # importance scoring at ingest: dsir_apply_rows is a stateless
        # Arrow projection (no explode, no agg), so it is stream-legal
        # without a watermark; the ratio dict ships in the closure
        from cryo_spark.operators.dsir import dsir_apply_rows

        out = dsir_apply_rows(out, dsir_ratios, text_col=text_col)
        if dsir_threshold is not None:
            out = out.filter(F.col("logw") >= dsir_threshold)
    return streaming_exact_dedup(
        out, text_col=text_col, event_time_col=event_time_col,
        horizon=horizon,
    )


def stream_warc_documents(
    spark: SparkSession,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_member_bytes: int | None = None,
    full_entities: bool = False,
    min_chars: int = 1,
    main_content: bool = False,
    smooth: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAMING crawl ingestion: WARC members landing in ``path``
    flow to canonical clean-text documents as they arrive — the
    continuous-crawl shape (a fetcher drops ``.warc.gz`` members into
    a bucket; this stream turns each into documents within one
    trigger, no batch re-scan of the whole crawl).

    Same code as the batch path end to end: the binaryFile file-stream
    source lists new members (path+length only — content never enters
    the scan), ``documents.warc_records_from_listing`` parses each
    member in a stateless mapInPandas (stream-legal, no watermark
    needed), ``documents_from_records`` projects the canonical
    document frame with the SAME doc_id hash and ``capture_id`` the
    batch path derives — so a corpus bootstrapped by batch ingestion
    and continued by this stream has one id space. Compose with
    :func:`streaming_ingest_clean` for clean+dedup at ingest, or
    :func:`streaming_near_dup_candidates` for index-backed near-dup
    flagging.

    ``max_files_per_trigger`` paces a backlog (each member is one
    task, the WARC parallelism model — cap it near the cluster's task
    slots). Batch/stream equivalence is pinned by test."""
    from cryo_spark.sources import documents as docs_mod

    reader = spark.readStream.format("binaryFile")
    # file-stream sources require an explicit schema; binaryFile's is
    # fixed by the format
    reader = reader.schema(
        "path string, modificationTime timestamp, "
        "length long, content binary"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    files = reader.load(path).select("path", "length")
    recs = docs_mod.warc_records_from_listing(
        files, id_col,
        max_member_bytes or docs_mod.DEFAULT_MAX_MEMBER_BYTES,
    )
    return docs_mod.documents_from_records(
        recs, id_col=id_col, text_col=text_col,
        full_entities=full_entities, min_chars=min_chars,
        main_content=main_content, smooth=smooth,
    )


def streaming_near_dup_candidates(
    stream: DataFrame,
    index_table: str,
    out_path: str,
    checkpoint_dir: str,
    bands: int = 4,
    k: int = 16,
    append_to_index: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Round 8: bridge `streaming_ingest_clean` (exact dedup at
    ingest) and the daily incremental-minhash workflow — a
    `foreachBatch` stage that runs each micro-batch's NEAR-dup
    candidate generation against the persisted banded index
    (`incremental_pairs_from_table`), so fuzzy duplicates of the
    historical corpus are flagged the moment a document arrives
    instead of waiting for the nightly batch.

    Per micro-batch (all batch-API inside `foreachBatch`, so every
    already-tested operator applies unchanged):
    1. minhash-index the batch (one signature pass over arrivals),
    2. candidates = banded join vs the bucketed base table (base side
       reads straight from its buckets — only the batch shuffles) ∪
       within-batch signature pairs,
    3. append candidate (id_a, id_b) rows to ``out_path`` parquet,
    4. optionally append the batch's band rows INTO the index table,
       so batch N+2 also catches near-dups of batch N+1 — with this
       on, the union of per-batch candidates equals the one-shot
       batch run over base ∪ all arrivals (pinned by the
       stream/batch equivalence test in tests/test_streaming.py).

    State story at scale: unlike `streaming_exact_dedup` there is NO
    state-store growth — the "state" IS the banded index table
    (k longs + band rows per doc), exactly the artifact the nightly
    job maintains; a restart resumes from the checkpoint and the
    table, nothing to rebuild.

    Retry semantics (foreachBatch is at-least-once; a failed epoch is
    REPLAYED with the same epoch_id): the candidate sink is
    epoch-idempotent — rows land under an ``epoch_id=N`` partition via
    dynamic partition overwrite, so a replay rewrites its own
    partition instead of duplicating rows. The index append is guarded
    by a per-epoch commit marker written AFTER the append: a replay of
    a fully-committed epoch skips the append. The one remaining window
    (crash between append and marker) can leave duplicate band rows in
    the index; that inflates the banded join's work slightly but can
    never change results — `incremental_pairs_from_table` emits
    DISTINCT candidate pairs, so duplicated index rows produce the
    identical candidate set."""

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        _near_dup_batch(
            batch_df, epoch_id, index_table, out_path,
            bands=bands, k=k, append_to_index=append_to_index,
            text_col=text_col, id_col=id_col,
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def _sink_has_flat_parts(spark: SparkSession, out_path: str) -> bool:
    """True when ``out_path`` exists and holds flat ``part-*`` files
    directly (the pre-round-10 unpartitioned append layout). Resolved
    through the Hadoop FileSystem API so remote URIs (s3a://,
    hdfs://, …) are checked too — ``os.path.isdir`` is always False
    for those, which is exactly where production streaming sinks
    live. Listing errors other than not-found PROPAGATE: an
    unreachable sink should fail loudly here, not three stages later
    with a misleading parquet-layout error."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(out_path)
    fs = jpath.getFileSystem(hconf)
    if not fs.exists(jpath) or not fs.getFileStatus(jpath).isDirectory():
        return False
    for st in fs.listStatus(jpath):
        if st.getPath().getName().startswith("part-"):
            return True
    return False


def _near_dup_batch(
    batch_df: DataFrame,
    epoch_id: int,
    index_table: str,
    out_path: str,
    bands: int = 4,
    k: int = 16,
    append_to_index: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of `streaming_near_dup_candidates`, module-level
    so the retried-epoch test can invoke it directly with a pinned
    epoch_id (foreachBatch replays crashed epochs with the same id)."""
    from cryo_spark.operators import incremental, skew

    if not batch_df.take(1):
        return
    spark = batch_df.sparkSession
    # LAYOUT GUARD (before any batch work): this sink is
    # epoch_id-PARTITIONED (since round 10); pointing it at a
    # directory holding the pre-partitioning flat part-* files would
    # produce a mixed layout that spark.read.parquet rejects with a
    # misleading 'conflicting directory structures' later — fail fast
    # with the migration path instead. Resolved through the Hadoop
    # FileSystem API so the check also fires for s3://, hdfs:// and
    # other remote sink URIs — exactly where production streaming
    # sinks live; os.path.isdir is always False there and would leave
    # the hazard unguarded.
    if _sink_has_flat_parts(spark, out_path):
        raise ValueError(
            f"candidate sink {out_path} contains flat part-* files "
            "from the pre-round-10 append layout; migrate by reading "
            "the old directory and rewriting it partitioned by "
            "epoch_id (e.g. epoch_id=-1 for historic rows), or point "
            "the stream at a fresh directory"
        )
    marker_path = out_path.rstrip("/") + "_index_epochs"
    committed: set[int] = set()
    try:
        committed = {
            r.epoch_id for r in spark.read.parquet(marker_path).collect()
        }
    except Exception:
        pass  # no marker dir yet (first epoch)
    new_idx = incremental.minhash_index(
        batch_df, text_col=text_col, k=k, id_col=id_col
    ).localCheckpoint()  # consumed by the join AND the append
    cand = incremental.incremental_pairs_from_table(
        spark, index_table, new_idx, bands=bands,
        id_col=id_col, with_est=False,
    )
    # dynamic overwrite of THIS epoch's partition only: a replayed
    # epoch rewrites its own rows, committed epochs are untouched
    (
        cand.withColumn("epoch_id", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id")
        .parquet(out_path)
    )
    if append_to_index and int(epoch_id) not in committed:
        rows = incremental._band_rows(
            new_idx, bands, id_col, carry_cols=("sig",)
        ).withColumn("bands", F.lit(bands))
        skew.write_bucketed(
            rows, index_table, ["band_id", "band_hash"],
            mode="append",
        )
        # marker AFTER the append: a crash before this line replays
        # the append (duplicate band rows, candidate set unchanged);
        # a crash after it is fully committed
        spark.createDataFrame(
            [(int(epoch_id),)], "epoch_id long"
        ).write.mode("append").parquet(marker_path)


def streaming_embedding_candidates(
    stream: DataFrame,
    index_table: str,
    out_path: str,
    checkpoint_dir: str,
    min_cosine: float = 0.9,
    append_to_index: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Round 14: the embedding-tier symmetry partner of
    `streaming_near_dup_candidates` — per-micro-batch SEMANTIC
    near-dup candidate generation against the persisted
    `incremental.save_embedding_index` table, so embedding-level
    duplicates of the historical corpus (and of earlier micro-batches,
    with ``append_to_index``) are flagged on arrival.

    Per micro-batch (all batch-API inside `foreachBatch`):
    1. sign arrivals with the TABLE's stored (n_planes, seed, dim)
       (`embedding_index_for_table` — one metadata probe),
    2. candidates = bucket join vs the bucketed base table (base side
       reads straight from its buckets; only the batch shuffles) ∪
       within-batch bucket pairs, every candidate verified by exact
       round-8 cosine >= ``min_cosine``,
    3. append candidate (id_a, id_b, cosine) rows under an
       ``epoch_id=N`` partition (dynamic overwrite — replayed epochs
       rewrite their own partition, at-least-once safe),
    4. optionally append the batch's index rows INTO the table so
       batch N+2 catches near-dups of batch N+1 — with this on, the
       union of per-batch candidates equals the one-shot
       `embedding_signature_pairs` run over base ∪ all arrivals
       (pinned by the stream/batch equivalence test).

    State story: same as the minhash stage — NO state-store growth;
    the "state" IS the bucketed embedding index (vector bytes + one
    long per row), the artifact the nightly job maintains. The index
    append is guarded by a per-epoch commit marker; the one remaining
    crash window (between append and marker) can leave duplicate index
    rows, which inflate the bucket join slightly but can never change
    results — the pair stream is DISTINCT."""

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        _embedding_batch(
            batch_df, epoch_id, index_table, out_path,
            min_cosine=min_cosine, append_to_index=append_to_index,
            id_col=id_col, vec_col=vec_col,
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def _embedding_batch(
    batch_df: DataFrame,
    epoch_id: int,
    index_table: str,
    out_path: str,
    min_cosine: float = 0.9,
    append_to_index: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One micro-batch of `streaming_embedding_candidates`,
    module-level so the retried-epoch test can invoke it directly with
    a pinned epoch_id (foreachBatch replays crashed epochs with the
    same id)."""
    from cryo_spark.operators import incremental, skew

    if not batch_df.take(1):
        return
    spark = batch_df.sparkSession
    if _sink_has_flat_parts(spark, out_path):
        raise ValueError(
            f"candidate sink {out_path} contains flat part-* files "
            "from an unpartitioned append layout; migrate by reading "
            "the old directory and rewriting it partitioned by "
            "epoch_id (e.g. epoch_id=-1 for historic rows), or point "
            "the stream at a fresh directory"
        )
    marker_path = out_path.rstrip("/") + "_index_epochs"
    committed: set[int] = set()
    try:
        committed = {
            r.epoch_id for r in spark.read.parquet(marker_path).collect()
        }
    except Exception:
        pass  # no marker dir yet (first epoch)
    # signed with the TABLE's stored constants; consumed by the pair
    # join AND the append — one signature pass
    new_idx = incremental.embedding_index_for_table(
        spark, index_table, batch_df, id_col=id_col, vec_col=vec_col
    ).localCheckpoint()
    cand = incremental.incremental_embedding_pairs_from_table(
        spark, index_table, new_idx, min_cosine=min_cosine,
        id_col=id_col,
    )
    (
        cand.withColumn("epoch_id", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id")
        .parquet(out_path)
    )
    if append_to_index and int(epoch_id) not in committed:
        # append adopts the table's saved bucket spec (write_bucketed
        # reads the catalog)
        skew.write_bucketed(new_idx, index_table, ["bucket"], mode="append")
        # marker AFTER the append: a crash before this line replays
        # the append (duplicate index rows, candidate set unchanged —
        # the pair stream is distinct); after it, fully committed
        spark.createDataFrame(
            [(int(epoch_id),)], "epoch_id long"
        ).write.mode("append").parquet(marker_path)

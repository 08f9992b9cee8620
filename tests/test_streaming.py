"""Structured Streaming tests: block tail, watermark rollup, stateful
and dedup operators — run with availableNow triggers so they
terminate deterministically."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cryo_spark import streaming
from cryo_spark.fixtures import default_fixtures_dir
from cryo_spark.schemas import get_spec


@pytest.fixture()
def raw_dir(spark, tmp_path):
    """Landed-raw dir seeded with blocks 0-499 as one file (the
    ingester's first drop)."""
    d = str(tmp_path / "raw")
    os.makedirs(d)
    blocks = spark.read.parquet(
        os.path.join(default_fixtures_dir(), "fixture_blocks.parquet")
    )
    cols = get_spec("blocks").column_names()
    blocks.filter(F.col("block_number") < 500).select(*cols).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    return d


def test_windowed_rollup_memory_sink(spark, raw_dir, tmp_path):
    stream = streaming.block_tail(spark, raw_dir)
    rollup = streaming.windowed_rollup(stream, window="1 hour", watermark="30 minutes")
    q = (
        rollup.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows; with 500 blocks
    # x 12s = 100min of data, at least the first hour window closes
    out = spark.sql("SELECT * FROM rollup_test ORDER BY window_start").collect()
    assert len(out) >= 1
    first = out[0]
    # first window is partial (fixture epoch isn't hour-aligned):
    # ~33.5 min of 12s blocks
    assert 0 < first.n_blocks <= 301
    assert first.min_block == 0
    assert first.window_end - first.window_start == 3600

    # batch equivalence: same aggregation over the same files
    batch = (
        spark.read.parquet(raw_dir)
        .groupBy(F.window(F.col("timestamp").cast("timestamp"), "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_blocks"))
        .select(F.unix_timestamp("window.start").alias("ws"), "n_blocks")
    )
    batch_first = {r.ws: r.n_blocks for r in batch.collect()}
    assert batch_first[first.window_start] == first.n_blocks


def test_running_account_totals_stateful(spark, tmp_path):
    """applyInPandasWithState keeps per-address running totals across
    micro-batches; after draining, totals equal the batch groupBy."""
    d = str(tmp_path / "txraw")
    os.makedirs(d)
    txs = spark.read.parquet(
        os.path.join(default_fixtures_dir(), "fixture_transactions.parquet")
    )
    cols = get_spec("transactions").column_names()
    raw_cols = [c for c in cols if c in txs.columns]
    # two drops -> at least two micro-batches with maxFilesPerTrigger=1
    txs.filter(F.col("block_number") < 300).select(*raw_cols).coalesce(1) \
        .write.mode("append").parquet(d)
    txs.filter(
        (F.col("block_number") >= 300) & (F.col("block_number") < 600)
    ).select(*raw_cols).coalesce(1).write.mode("append").parquet(d)

    stream = spark.readStream.schema(
        spark.read.parquet(d).schema
    ).option("maxFilesPerTrigger", 1).parquet(d)
    q = (
        streaming.running_account_totals(stream)
        .writeStream.format("memory").queryName("acct_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last update per address = final running total
    got = {
        r.addr: (r.n_txs, r.total_gas_used)
        for r in spark.sql(
            """SELECT from_address AS addr, max(n_txs) AS n_txs,
                      max(total_gas_used) AS total_gas_used
               FROM acct_totals
               GROUP BY from_address"""
        ).collect()
    }
    expect = {
        r.addr: (r.n, r.gas)
        for r in spark.read.parquet(d)
        .groupBy(F.col("from_address").alias("addr"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("gas_used").alias("gas"))
        .collect()
    }
    assert got == expect


def test_events_hourly_stream_matches_scored_batch_entry(spark, tmp_path):
    """The scored `events_hourly` contract entry is the batch shape of
    a Structured Streaming rollup: the SAME hourly aggregation run as
    a stream over the driver events testdata (watermark + tumbling
    window, complete mode) must produce identical (hour, type, count,
    sum) rows. Pins batch/stream semantic equivalence on the real
    fixture, both ts encodings via the batch entry's adaptive reader."""
    import __spark_entry__ as entrymod

    sf_dir = "/root/testdata/sf0.001"
    batch = {
        (r.hour_epoch, r.event_type): (r.n_events, str(r.sum_value))
        for r in entrymod.q_events_hourly(spark, sf_dir).collect()
    }

    # file-source streams need a directory
    import shutil

    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "events.parquet")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(schema).parquet(str(stream_dir))
    rolled = (
        stream.withColumn("_t", F.col("ts").cast("timestamp"))
        .withWatermark("_t", "1 hour")
        .groupBy(F.window("_t", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(38,6)").alias("sum_value"),
        )
        .select(
            F.unix_timestamp("window.start").alias("hour_epoch"),
            "event_type", "n_events", "sum_value",
        )
    )
    q = (
        rolled.writeStream.format("memory").queryName("events_hourly_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_ev"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.hour_epoch, r.event_type): (r.n_events, str(r.sum_value))
        for r in spark.sql("SELECT * FROM events_hourly_stream").collect()
    }
    assert got == batch


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """Stream/batch equivalence for streaming_exact_dedup: the
    streamed survivor key set equals the batch exact_dedup keeper
    set, and each content key passes exactly once even when the
    duplicate arrives in a LATER micro-batch (engine dedup state,
    not per-batch dropDuplicates)."""
    from datetime import datetime

    from cryo_spark.operators.dedup import exact_dedup

    src = str(tmp_path / "docs")
    os.makedirs(src)
    schema = "doc_id long, text string, ts timestamp"
    first = [(1, "alpha beta", "2024-01-01 00:00:00"),
             (2, "gamma delta", "2024-01-01 00:01:00"),
             (3, "alpha  BETA ", "2024-01-01 00:02:00")]  # dup of 1
    later = [(4, "gamma delta", "2024-01-01 00:03:00"),   # dup of 2
             (5, "epsilon", "2024-01-01 00:04:00")]
    def _drop(rows):
        spark.createDataFrame(
            [
                (i, t, datetime.fromisoformat(ts)) for i, t, ts in rows
            ], schema
        ).coalesce(1).write.mode("append").parquet(src)

    _drop(first)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = streaming.streaming_exact_dedup(
        stream, event_time_col="ts", horizon="1 hour"
    )
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = out.writeStream.format("parquet").option(
            "path", sink
        ).option("checkpointLocation", ckpt).trigger(
            availableNow=True
        ).start()
        q.awaitTermination(120)

    run()
    _drop(later)
    run()  # second incremental pass picks up the later file

    got = spark.read.parquet(sink)
    keys = sorted(r.content_key for r in got.select("content_key").collect())
    assert len(keys) == len(set(keys)) == 3  # cross-batch dup dropped
    batch_docs = spark.createDataFrame(
        [(i, t) for i, t, _ in first + later], "doc_id long, text string"
    )
    batch_keepers = {
        r.doc_id for r in exact_dedup(batch_docs).filter(
            ~F.col("is_duplicate")
        ).collect()
    }
    assert {r.doc_id for r in got.collect()} == batch_keepers


def test_streaming_exact_dedup_batch_frame(spark):
    """Unified semantics: the same function on a batch frame dedups
    globally."""
    df = spark.createDataFrame(
        [(1, "x y"), (2, "x  Y"), (3, "z")], "doc_id long, text string"
    )
    out = streaming.streaming_exact_dedup(df)
    assert out.count() == 2
    assert sorted(r.content_key for r in out.collect())[0] is not None


def test_sessionize_streaming_subset_of_batch(spark, tmp_path):
    """sessionize() runs unchanged on a watermarked stream
    (session_window is a streaming-capable aggregation): every
    session the stream emits in append mode (i.e. closed before the
    final watermark) must match the batch answer exactly."""
    from cryo_spark.operators.sessions import sessionize

    src = str(tmp_path / "ev")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.coalesce(1).write.parquet(src)

    stream = (
        spark.readStream.schema(ev.schema).parquet(src)
        # events parquet carries TIMESTAMP_NTZ; watermarks need TIMESTAMP
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
    )
    out = sessionize(stream, gap_seconds=900)
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    sink = str(tmp_path / "out")
    q = out.writeStream.format("parquet").option("path", sink).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).outputMode("append").trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = {tuple(r) for r in spark.read.parquet(sink).collect()}
    batch = {tuple(r) for r in sessionize(ev, gap_seconds=900).collect()}
    assert got, "stream must emit the watermark-closed sessions"
    assert got <= batch
    # only sessions still open at the final watermark may be withheld
    assert len(batch) - len(got) < 50


def test_streaming_ingest_clean_filters_redacts_dedups(spark, tmp_path):
    """Composed ingest clean: quality floor and language gate drop
    junk BEFORE the stateful dedup, PII is scrubbed in place, and a
    cross-micro-batch duplicate of a surviving doc is dropped by the
    engine's dedup state. The same call on a batch frame yields the
    same survivor key set (unified semantics)."""
    from datetime import datetime

    good = (
        "the quick brown fox jumps over the lazy dog and runs to the "
        "old barn in the field that was green for miles with tall "
        "grass and the wind was soft in the morning light"
    )
    spam = "z$$ ### !!! 0101010 %%% ___ @@@ &&& *** ((( ))) ### $$$ !!!"
    french = (
        "le chat est dans la maison et les oiseaux dans le jardin pour "
        "une belle journee que nous aimons dans la ville les arbres et "
        "des fleurs pour le matin est dans que pour une les des"
    )
    pii = (
        "contact the admin and the office of the mayor to send mail in "
        "the city that was founded for everyone with help was "
        "admin@example.com and the office line in the town is "
        "555-123-4567 for the people that call"
    )
    schema = "doc_id long, text string, ts timestamp"
    first = [(1, good, "2024-01-01 00:00:00"),
             (2, spam, "2024-01-01 00:01:00"),
             (3, french, "2024-01-01 00:02:00")]
    later = [(4, pii, "2024-01-01 00:03:00"),
             (5, good.upper(), "2024-01-01 00:04:00")]  # dup of 1

    src = str(tmp_path / "docs")
    os.makedirs(src)

    def _drop(rows):
        spark.createDataFrame(
            [(i, t, datetime.fromisoformat(ts)) for i, t, ts in rows],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)

    _drop(first)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = streaming.streaming_ingest_clean(
        stream, event_time_col="ts", horizon="1 hour"
    )
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = out.writeStream.format("parquet").option(
            "path", sink
        ).option("checkpointLocation", ckpt).trigger(
            availableNow=True
        ).start()
        q.awaitTermination(120)

    run()
    _drop(later)
    run()

    got = {r.doc_id: r for r in spark.read.parquet(sink).collect()}
    assert set(got) == {1, 4}  # spam/lang dropped, cross-batch dup dropped
    assert "admin@example.com" not in got[4].text
    assert "555-123-4567" not in got[4].text
    assert got[1].lang_guess == "en" and got[1].quality_score >= 0.5

    batch = spark.createDataFrame(
        [
            (i, t, datetime.fromisoformat(ts))
            for i, t, ts in first + later
        ],
        schema,
    )
    batch_out = streaming.streaming_ingest_clean(
        batch, event_time_col="ts", horizon="1 hour"
    )
    assert {r.content_key for r in batch_out.collect()} == {
        r.content_key for r in got.values()
    }


def test_streaming_ingest_clean_with_dsir_scoring(spark, tmp_path):
    """DSIR importance scoring at ingest: the ratio dict trained
    batch-side scores each arriving doc in a stateless Arrow pass,
    and the threshold filters inside the stream."""
    from datetime import datetime

    from cryo_spark.operators import dsir

    target_like = (
        "the model result shows the method and the data analysis "
        "that was clear for the test in the report with the metrics"
    )
    off_target = (
        "the winner takes the prize in the game and the crowd was "
        "loud for the goal in the match with the final score"
    )
    schema = "doc_id long, text string, ts timestamp"
    train = spark.createDataFrame(
        [(i, target_like + f" v{i}") for i in range(5)]
        + [(100 + i, off_target + f" v{i}") for i in range(5)],
        "doc_id long, text string",
    )
    target = train.filter(F.col("doc_id") < 100)
    ratios = {
        r.bucket: r.log_ratio
        for r in dsir.dsir_ratios(train, target).collect()
    }

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, target_like + " fresh", datetime(2024, 1, 1)),
            (2, off_target + " fresh", datetime(2024, 1, 1, 0, 1)),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming.streaming_ingest_clean(
        stream,
        event_time_col="ts",
        dsir_ratios=ratios,
        dsir_threshold=-10.0,
    )
    sink = str(tmp_path / "out")
    q = out.writeStream.format("parquet").option("path", sink).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = {r.doc_id: r for r in spark.read.parquet(sink).collect()}
    assert set(got) == {1}  # target-like passes, off-target scored out
    assert got[1].logw > -10.0


def test_streaming_near_dup_candidates_equals_batch(spark, tmp_path):
    """Round-8 bridge: per-micro-batch near-dup candidate generation
    against the persisted banded index must, unioned with the known
    base-base pairs, equal the ONE-SHOT batch candidate run over
    base ∪ all arrivals — including pairs BETWEEN two different
    micro-batches (batch-1 band rows are appended to the index before
    batch 2 processes)."""
    from cryo_spark.operators import incremental

    a = "the quick brown fox jumps over the lazy dog in the field"
    b = "completely different text about spark shuffles and joins ok"
    c = "a third document body describing parquet bucketing layouts"
    d = "yet another unrelated document mentioning watermarks only"
    base = spark.createDataFrame(
        [(1, a), (2, b), (3, a)],  # (1,3) = known base-base pair
        "doc_id long, text string",
    )
    batch1 = [(101, a), (102, c)]          # 101 ~ base 1 and 3
    batch2 = [(201, c), (202, d)]          # 201 ~ batch-1's 102

    table = "r8_stream_band_idx"
    incremental.save_banded_index(
        incremental.minhash_index(base), table
    )
    src = str(tmp_path / "arrivals"); os.makedirs(src)
    out = str(tmp_path / "cands")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def _drop(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    _drop(batch1)
    _drop(batch2)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1  # two files -> two micro-batches
    ).parquet(src)
    q = streaming.streaming_near_dup_candidates(
        stream, table, out, ckpt
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r.id_a, r.id_b) for r in spark.read.parquet(out).collect()
    }
    # cross-index, within-batch AND batch-to-batch pairs all present
    assert {(1, 101), (3, 101), (102, 201)} <= got

    all_docs = base.unionByName(
        spark.createDataFrame(batch1 + batch2, schema)
    )
    batch_cands = {
        (r.id_a, r.id_b)
        for r in incremental.signature_pairs(
            incremental.minhash_index(all_docs), with_est=False
        ).collect()
    }
    base_pairs = {
        (r.id_a, r.id_b)
        for r in incremental.signature_pairs(
            incremental.minhash_index(base), with_est=False
        ).collect()
    }
    assert got | base_pairs == batch_cands
    spark.sql(f"DROP TABLE IF EXISTS {table}")

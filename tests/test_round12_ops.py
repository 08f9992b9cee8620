"""Round-12 hardening: the video/audio pair-join broadcast fix (no
forced corpus-cardinality build side), ADVICE regressions (cdx
size-guard visibility, delta-index bucket spec + retry idempotency,
hex chunk-size validation), and the round's new surfaces as they land.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


# ----------------- video/audio pair join: no corpus-sized broadcast


def _analyzed_plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_video_near_dups_no_forced_counts_broadcast(spark):
    """The per-item frame-count frame is corpus-cardinality (one row
    per media item): a forced broadcast of it OOMs at 10^8+ items.
    The pair join must carry NO BROADCAST hint anywhere. (Round 15:
    the banded SELF-join underneath carries a shuffle_hash pin — the
    opposite protection, keeping a stats misestimate from ever
    broadcasting a corpus side — so the assertion forbids broadcast
    hints specifically rather than hints in general.)"""
    from cryo_spark.operators import multimodal as mm

    vids = [
        (1, "video", b"shared video content", "video/mp4", None, None, 8000),
        (2, "video", b"shared video content", "video/mp4", None, None, 8000),
        (3, "video", b"unrelated clip data!", "video/mp4", None, None, 8000),
    ]
    media = spark.createDataFrame(vids, mm.MEDIA_SCHEMA)
    pairs = mm.video_near_dups(media, min_overlap=0.9)
    plan = _analyzed_plan(pairs)
    assert "BROADCAST" not in plan.upper().replace(
        "RESOLVEDHINT (STRATEGY=SHUFFLE_HASH)", ""
    ), "video_near_dups must not force a broadcast"
    assert plan.count("ResolvedHint") == plan.count(
        "ResolvedHint (strategy=shuffle_hash)"
    ), "only the self-join shuffle_hash pin is allowed"
    # and the results are unchanged by the strategy being AQE's pick
    got = {(r.id_a, r.id_b, r.overlap) for r in pairs.collect()}
    assert got == {(1, 2, 1.0)}


def test_audio_near_dups_no_forced_counts_broadcast(spark):
    from cryo_spark.operators import multimodal as mm

    rows = [
        (1, "audio", b"same song bytes", "audio/wav", None, None, 5000),
        (2, "audio", b"same song bytes", "audio/wav", None, None, 5000),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    pairs = mm.audio_near_dups(media, min_overlap=0.9)
    plan = _analyzed_plan(pairs)
    assert plan.count("ResolvedHint") == plan.count(
        "ResolvedHint (strategy=shuffle_hash)"
    )
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(1, 2)}


# ----------------------------- ADVICE: cdx fetch drop-policy scope


def _gz_member(payload: bytes, uri: str) -> bytes:
    import gzip

    sep = b"\r\n"
    rec = (
        b"WARC/1.0" + sep
        + b"WARC-Type: response" + sep
        + f"WARC-Target-URI: {uri}".encode() + sep
        + b"WARC-Date: 2026-08-14T00:00:00Z" + sep
        + f"Content-Length: {len(payload)}".encode() + sep
        + sep + payload + sep + sep
    )
    return gzip.compress(rec)


def _cdxj(urlkey: str, off: int, ln: int, fn: str) -> str:
    import json

    j = {"url": f"https://{urlkey}", "mime": "text/html", "status": "200",
         "length": str(ln), "offset": str(off), "filename": fn}
    return f"{urlkey} 20260814000000 {json.dumps(j)}"


def test_fetch_corrupt_record_dropped_and_counted(spark, tmp_path):
    """A corrupt member (bad gzip bytes at a valid index offset) is
    dropped, the fetch continues, and the optional accumulator counts
    the loss — no more invisible drops."""
    from cryo_spark.sources.cdx import fetch_cdx_records, read_cdx

    members = [_gz_member(b"HTTP/1.1 200 OK\r\n\r\nbody %d" % i,
                          f"site{i}.test/p") for i in range(3)]
    # corrupt the middle member in place (same length, garbage bytes)
    members[1] = b"\x00" * len(members[1])
    offs, pos = [], 0
    for m in members:
        offs.append((pos, len(m)))
        pos += len(m)
    (tmp_path / "a.warc.gz").write_bytes(b"".join(members))
    (tmp_path / "a.cdx").write_text("\n".join(
        _cdxj(f"site{i}.test/p", off, ln, "a.warc.gz")
        for i, (off, ln) in enumerate(offs)
    ))
    cdx = read_cdx(spark, str(tmp_path / "a.cdx"))
    acc = spark.sparkContext.accumulator(0)
    recs = fetch_cdx_records(
        spark, cdx, warc_root=str(tmp_path) + "/", dropped=acc
    ).collect()
    assert sorted(r.target_uri for r in recs) == [
        "site0.test/p", "site2.test/p"
    ]
    assert acc.value == 1


def test_fetch_gzip_bomb_raises_not_drops(spark, tmp_path):
    """A record whose COMPRESSED length passes the index pre-check but
    whose decompressed record exceeds the cap trips the deliberate
    size guard — it must RAISE (MemberTooLargeError), never be
    silently dropped by the corruption catch."""
    from cryo_spark.sources.cdx import fetch_cdx_records, read_cdx

    # 64 KiB of zeros compresses to well under 1 KiB
    m = _gz_member(b"HTTP/1.1 200 OK\r\n\r\n" + b"\x00" * 65536,
                   "bomb.test/p")
    assert len(m) < 1000
    (tmp_path / "b.warc.gz").write_bytes(m)
    (tmp_path / "b.cdx").write_text(_cdxj("bomb.test/p", 0, len(m),
                                          "b.warc.gz"))
    cdx = read_cdx(spark, str(tmp_path / "b.cdx"))
    acc = spark.sparkContext.accumulator(0)
    with pytest.raises(Exception, match="max_record_bytes"):
        fetch_cdx_records(
            spark, cdx, warc_root=str(tmp_path) + "/",
            max_member_bytes=1000, dropped=acc,
        ).collect()
    assert acc.value == 0


# ------------------------- ADVICE: strict hex chunk-size validation


def test_parse_size_line_rejects_non_hex_tokens():
    """int(x, 16) accepts signed/underscored forms that are not valid
    HTTP chunk sizes; a negative size would become a negative slice
    offset downstream. Only ^[0-9a-fA-F]+$ counts as framing."""
    from cryo_spark.sources.documents import _parse_size_line

    assert _parse_size_line(b"-5\r\nhello", 0) is None
    assert _parse_size_line(b"+5\r\nhello", 0) is None
    assert _parse_size_line(b"1_0\r\nhello", 0) is None
    assert _parse_size_line(b" - 5\r\nhello", 0) is None
    assert _parse_size_line(b"a3\r\nx", 0) == (0xA3, 4)
    assert _parse_size_line(b"A3;ext=1\r\nx", 0) == (0xA3, 10)
    assert _parse_size_line(b"0\n", 0) == (0, 2)


# ---------------- ADVICE: delta-index append bucket spec + retries


def _delta_docs(spark):
    def mk(i, txt):
        return (i, txt, f"src{i % 3}")

    base_txt = ("the quick brown fox jumps over the lazy dog and then "
                "writes a long enough document about spark bucketing")
    day1 = spark.createDataFrame(
        [mk(1, base_txt),
         mk(2, "a completely different first day article discussing "
               "arrow batches and vectorized python workers at scale")],
        "doc_id long, text string, source string",
    )
    day2 = spark.createDataFrame(
        [mk(100, base_txt),  # clone of shipped doc 1 -> drop
         mk(102, "entirely novel day two document about parquet "
                 "bucketing and co located join strategies in spark")],
        "doc_id long, text string, source string",
    )
    return day1, day2


def test_delta_append_adopts_saved_bucket_count(spark):
    """An index saved with a NON-default n_buckets must still accept
    the day-N append: write_bucketed reads the catalog spec instead of
    assuming 32 (Spark refuses appends with a mismatched spec)."""
    from cryo_spark.operators import corpus, incremental, skew

    day1, day2 = _delta_docs(spark)
    table = "r12_bucket_adopt_idx"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    incremental.save_banded_index(
        incremental.minhash_index(day1), table, bands=4, n_buckets=8
    )
    assert skew.table_bucket_spec(spark, table) == (
        8, ["band_id", "band_hash"]
    )
    final, _ = corpus.prepare_corpus_delta(
        day2, table, update_index=True, min_quality=0.0
    )
    assert {r.doc_id for r in final.select("doc_id").collect()} == {102}
    # the append kept the saved spec
    assert skew.table_bucket_spec(spark, table) == (
        8, ["band_id", "band_hash"]
    )
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_delta_append_retry_is_idempotent(spark):
    """A failed-then-retried day-N run whose index append already
    landed must not duplicate band rows: the second identical run
    appends nothing new and the index row count is unchanged."""
    from cryo_spark.operators import corpus, incremental

    day1, day2 = _delta_docs(spark)
    table = "r12_retry_idx"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    incremental.save_banded_index(
        incremental.minhash_index(day1), table, bands=4
    )
    final1, _ = corpus.prepare_corpus_delta(
        day2, table, update_index=True, min_quality=0.0
    )
    final1.count()  # run the pipeline like a real job would
    n_after_first = spark.table(table).count()
    # retry: same batch, index already holds its rows
    final2, _ = corpus.prepare_corpus_delta(
        day2, table, update_index=True, min_quality=0.0
    )
    # survivors identical (same-id band rows never self-pair)
    assert ({r.doc_id for r in final2.select("doc_id").collect()}
            == {r.doc_id for r in final1.select("doc_id").collect()})
    assert spark.table(table).count() == n_after_first
    # and no duplicate (doc_id, band_id) rows exist
    dup = (
        spark.table(table).groupBy("doc_id", "band_id").count()
        .filter(F.col("count") > 1).count()
    )
    assert dup == 0
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_write_bucketed_append_rejects_key_mismatch(spark):
    from cryo_spark.operators import skew

    table = "r12_key_mismatch"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    df = spark.range(10).withColumn("k", F.col("id") % 3)
    skew.write_bucketed(df, table, ["k"], n_buckets=4)
    with pytest.raises(ValueError, match="bucketed on"):
        skew.write_bucketed(df, table, ["id"], mode="append")
    spark.sql(f"DROP TABLE IF EXISTS {table}")


# --------------- hash-exact ANN: engine-neutral LSH tier (50th row)


def test_lsh_topk_matches_duckdb_twin(spark):
    """The LSH tier's integer-quantized signatures make the bucket of
    every row exact BIGINT math — the DuckDB twin must reproduce the
    row set and round-8 cosines bit-for-bit (the contract hash)."""
    import duckdb

    from cryo_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    query = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    got = [
        (r.vec_id, r.cosine)
        for r in similarity.lsh_topk(emb, query, k=10).collect()
    ]
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/embeddings.parquet')"
    )
    want = con.sql(similarity.lsh_topk_sql("embeddings", k=10)).fetchall()
    con.close()
    assert got == [(a, b) for a, b in want]
    # the bucket prefilter is not vacuous: recall vs exact is real
    exact = {
        r.vec_id
        for r in similarity.cosine_topk(emb, query, k=10).collect()
    }
    assert len(exact & {v for v, _ in got}) / 10 >= 0.5


def test_ann_topk_gate_rows_drop_on_recall_collapse(spark):
    """The k-means tiers' sentinel rows exist only while recall@10
    clears the floor — feed the gate helper a hits frame disjoint from
    the exact answer and the sentinel must disappear (the driver-side
    mismatch that makes an ANN collapse visible)."""
    import __spark_entry__ as E

    rows = E.queries()["llm_ann_topk"](spark, "/root/testdata/sf0.01")
    methods = [r.method for r in rows.collect()]
    assert methods.count("ivf_recall_ge_floor") == 1
    assert methods.count("ivfpq_recall_ge_floor") == 1
    assert methods.count("exact") == 10 and methods.count("lsh") == 10


# ------------------- real audio fingerprint path (stdlib wave+numpy)


def _wav_bytes(samples, rate=8000):
    import io
    import wave

    import numpy as np

    pcm = (np.clip(samples, -1, 1) * 32000).astype("<i2").tobytes()
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm)
    return buf.getvalue()


def test_real_audio_fingerprint_properties():
    """The decode->window->spectral-hash chain on real PCM WAV bytes:
    amplitude scaling preserves every band comparison (hamming 0),
    whole-window trims yield byte-identical windows, unrelated signals
    land far apart, and windows past the stream end are None."""
    import numpy as np

    from cryo_spark.operators.multimodal import real_audio_fingerprint

    rate = 8000
    base = np.random.default_rng(5).standard_normal(5 * rate) * 0.2
    a = _wav_bytes(base, rate)
    scaled = _wav_bytes(base * 0.9, rate)
    trimmed = _wav_bytes(base[2 * rate:], rate)
    other = _wav_bytes(
        np.random.default_rng(99).standard_normal(5 * rate) * 0.2, rate
    )
    fa = [real_audio_fingerprint(a, i) for i in range(6)]
    assert fa[5] is None and all(f is not None for f in fa[:5])
    assert fa[:5] == [real_audio_fingerprint(scaled, i) for i in range(5)]
    assert [real_audio_fingerprint(trimmed, i) for i in range(3)] == fa[2:5]

    def ham(x, y):
        return bin(((x & (2**64 - 1)) ^ (y & (2**64 - 1)))).count("1")

    fu = [real_audio_fingerprint(other, i) for i in range(5)]
    assert all(ham(x, y) > 7 for x, y in zip(fa, fu))


def test_audio_near_dups_real_fingerprints(spark):
    """Real fingerprints flow through audio_near_dups' banding
    unchanged (the audio member of the dedup triple on a REAL decode
    path): clone-scaled and window-trimmed recordings pair with the
    original, unrelated audio does not."""
    import numpy as np

    from cryo_spark.operators import multimodal as mm

    rate = 8000
    base = np.random.default_rng(5).standard_normal(5 * rate) * 0.2
    rows = [
        (1, "audio", _wav_bytes(base, rate), "audio/wav", None, None, 5000),
        (2, "audio", _wav_bytes(base * 0.9, rate), "audio/wav",
         None, None, 5000),
        (3, "audio", _wav_bytes(base[2 * rate:], rate), "audio/wav",
         None, None, 3000),
        (4, "audio",
         _wav_bytes(np.random.default_rng(99).standard_normal(5 * rate) * 0.2,
                    rate),
         "audio/wav", None, None, 5000),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    pairs = mm.audio_near_dups(
        media, min_overlap=0.9,
        sampler=mm.real_audio_window, hasher=mm.spectral_band_hash,
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}


# --------------- shared capture identity across ingestion paths


def test_capture_id_joins_whole_member_and_cdx_paths(spark, tmp_path):
    """The same fixture crawl ingested BOTH ways — whole-member
    read_warc_documents and CDX-selective reextract_documents — joins
    100% on capture_id (md5 of the record's own Target-URI + Date),
    even though the two paths' doc_ids hash different coordinates.
    The key rides through to the document frame on both sides."""
    import gzip
    import json

    from cryo_spark.sources.cdx import reextract_documents
    from cryo_spark.sources.documents import read_warc_documents

    body = "".join(
        f"<p>Capture paragraph {k} with enough ordinary prose to "
        "survive the extraction rules.</p>" for k in range(6)
    )
    lines, blobs, pos = [], [], 0
    for i in range(12):
        host = f"h{i % 3}.test"
        payload = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            + f"<html><body>{body}<p>doc {i}</p></body></html>".encode()
        )
        sep = b"\r\n"
        rec = (
            b"WARC/1.0" + sep
            + b"WARC-Type: response" + sep
            + f"WARC-Target-URI: https://{host}/p{i}".encode() + sep
            + f"WARC-Date: 2026-08-0{1 + i % 9}T00:00:00Z".encode() + sep
            + f"Content-Length: {len(payload)}".encode() + sep
            + sep + payload + sep + sep
        )
        m = gzip.compress(rec)
        lines.append(
            f"test,h{i % 3})/p{i} 2026080{1 + i % 9}000000 "
            + json.dumps(dict(
                url=f"https://{host}/p{i}", mime="text/html", status="200",
                length=str(len(m)), offset=str(pos), filename="c.warc.gz",
            ))
        )
        blobs.append(m)
        pos += len(m)
    (tmp_path / "c.warc.gz").write_bytes(b"".join(blobs))
    (tmp_path / "c.cdx").write_text("\n".join(lines))

    whole = read_warc_documents(spark, str(tmp_path / "c.warc.gz"))
    assert "capture_id" in whole.columns
    selective = reextract_documents(
        spark, str(tmp_path / "c.cdx"),
        warc_root=str(tmp_path) + "/", hosts=["h1.test"],
    )
    assert "capture_id" in selective.columns
    n_sel = selective.count()
    assert n_sel == 4  # 12 docs over 3 hosts
    joined = selective.select("capture_id", "url").join(
        whole.select("capture_id", F.col("url").alias("url_w")),
        "capture_id",
    )
    got = joined.collect()
    assert len(got) == n_sel  # 100% cross-path match
    assert all(r.url == r.url_w for r in got)
    # and doc_ids genuinely differ across paths (the key is the join)
    sel_ids = {r.doc_id for r in selective.select("doc_id").collect()}
    whole_ids = {r.doc_id for r in whole.select("doc_id").collect()}
    assert sel_ids.isdisjoint(whole_ids)


# --------- incremental re-extraction: exclude already-seen captures


def _mk_indexed_crawl(tmp_path, n=12):
    """n captures over 3 hosts in one multi-member .warc.gz + a CDX
    index with real byte offsets. Returns [(offset, length)] so tests
    can corrupt specific records in place."""
    import gzip
    import json

    body = "".join(
        f"<p>Capture paragraph {k} with enough ordinary prose to "
        "survive the extraction rules.</p>" for k in range(6)
    )
    lines, blobs, ranges, pos = [], [], [], 0
    for i in range(n):
        host = f"h{i % 3}.test"
        payload = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            + f"<html><body>{body}<p>doc {i}</p></body></html>".encode()
        )
        sep = b"\r\n"
        rec = (
            b"WARC/1.0" + sep
            + b"WARC-Type: response" + sep
            + f"WARC-Target-URI: https://{host}/p{i}".encode() + sep
            + f"WARC-Date: 2026-08-0{1 + i % 9}T00:00:00Z".encode() + sep
            + f"Content-Length: {len(payload)}".encode() + sep
            + sep + payload + sep + sep
        )
        m = gzip.compress(rec)
        lines.append(
            f"test,h{i % 3})/p{i} 2026080{1 + i % 9}000000 "
            + json.dumps(dict(
                url=f"https://{host}/p{i}", mime="text/html", status="200",
                length=str(len(m)), offset=str(pos), filename="c.warc.gz",
            ))
        )
        blobs.append(m)
        ranges.append((pos, len(m)))
        pos += len(m)
    (tmp_path / "c.warc.gz").write_bytes(b"".join(blobs))
    (tmp_path / "c.cdx").write_text("\n".join(lines))
    return ranges


def test_reextract_exclude_captures_prunes_on_the_index(spark, tmp_path):
    """exclude_captures anti-joins the INDEX, so an already-covered
    capture's bytes are never fetched: corrupt exactly the excluded
    records' byte ranges in the archive and the re-extraction still
    returns the remaining docs cleanly (dropped-counter stays 0 — the
    corrupt ranges were never read)."""
    from cryo_spark.sources.cdx import reextract_documents
    from cryo_spark.sources.documents import read_warc_documents

    ranges = _mk_indexed_crawl(tmp_path)
    # "prior ingest": whole-member docs for the EVEN captures (any
    # frame with a capture_id column works as the ledger) —
    # MATERIALIZED before the corruption below, like a real prior
    # ingest's persisted output (a lazy frame would re-read the
    # archive at join time)
    prior_ids = [
        r.capture_id
        for r in read_warc_documents(spark, str(tmp_path / "c.warc.gz"))
        .filter(F.col("url").rlike("/p(0|2|4|6|8|10)$"))
        .select("capture_id").collect()
    ]
    assert len(prior_ids) == 6
    prior = spark.createDataFrame(
        [(c,) for c in prior_ids], "capture_id string"
    )
    # corrupt the excluded (even) captures' ranges in place — if the
    # exclusion failed to prune at the index, the fetch would either
    # drop them (counter > 0) or return fewer docs
    raw = bytearray((tmp_path / "c.warc.gz").read_bytes())
    for i, (off, ln) in enumerate(ranges):
        if i % 2 == 0:
            raw[off:off + ln] = b"\x00" * ln
    (tmp_path / "c.warc.gz").write_bytes(bytes(raw))

    acc = spark.sparkContext.accumulator(0)
    docs = reextract_documents(
        spark, str(tmp_path / "c.cdx"), warc_root=str(tmp_path) + "/",
        exclude_captures=prior, dropped=acc,
    )
    got = sorted(r.url for r in docs.collect())
    assert got == sorted(
        f"https://h{i % 3}.test/p{i}" for i in (1, 3, 5, 7, 9, 11)
    )
    assert acc.value == 0  # excluded/corrupt ranges never touched
    # full exclusion fetches nothing at all
    full = reextract_documents(
        spark, str(tmp_path / "c.cdx"), warc_root=str(tmp_path) + "/",
        exclude_captures=docs.select("capture_id").union(prior),
    )
    assert full.count() == 0


def test_corpus_cli_cdx_exclude_captures(spark, tmp_path):
    """The CLI incremental recipe end to end: day-1 corpus run over
    one host; day-2 run over ALL hosts with --cdx-exclude-captures
    pointing at day-1's corpus output — day-2 processes only the
    captures day 1 did not cover."""
    import json

    from cryo_spark.api import main

    _mk_indexed_crawl(tmp_path)
    day1 = tmp_path / "day1"
    rc = main([
        "corpus", "--format", "cdx", "--input", str(tmp_path / "c.cdx"),
        "--warc-root", str(tmp_path) + "/", "--cdx-hosts", "h1.test",
        "--output", str(day1), "--min-quality", "0",
    ])
    assert rc == 0
    # every cdx run writes a <output>/captures ledger of the captures
    # it SELECTED (pre-pipeline, index-side — no second fetch)
    l1 = spark.read.parquet(str(day1 / "captures"))
    assert l1.count() == 4  # 12 captures over 3 hosts
    day2 = tmp_path / "day2"
    rc = main([
        "corpus", "--format", "cdx", "--input", str(tmp_path / "c.cdx"),
        "--warc-root", str(tmp_path) + "/",
        "--cdx-exclude-captures", str(day1 / "captures"),
        "--output", str(day2), "--min-quality", "0",
    ])
    assert rc == 0
    funnel = json.load(open(day2 / "funnel.json"))
    assert funnel[0]["docs_in"] == 8  # 12 - day-1's 4
    # the ledger is CUMULATIVE (this run's selection UNION the
    # incoming exclusion), so chaining needs only ONE flag — day 3
    # pointed at day 2's ledger must not re-fetch day 1's captures
    l2 = spark.read.parquet(str(day2 / "captures"))
    assert l2.count() == 12
    assert {r.capture_id for r in l1.collect()} <= {
        r.capture_id for r in l2.collect()
    }
    d2 = spark.read.parquet(str(day2 / "corpus"))
    assert d2.count() == 8
    day3 = tmp_path / "day3"
    rc = main([
        "corpus", "--format", "cdx", "--input", str(tmp_path / "c.cdx"),
        "--warc-root", str(tmp_path) + "/",
        "--cdx-exclude-captures", str(day2 / "captures"),
        "--output", str(day3), "--min-quality", "0",
    ])
    assert rc == 0
    assert json.load(open(day3 / "funnel.json"))[0]["docs_in"] == 0
    # flag rejected off-format
    rc = main([
        "corpus", "--input", str(tmp_path / "c.cdx"),
        "--output", str(tmp_path / "x"),
        "--cdx-exclude-captures", str(day1 / "captures"),
    ])
    assert rc == 2
    # and an exclusion path INSIDE the output dir is refused (the
    # ledger write would overwrite what the exclusion reads)
    rc = main([
        "corpus", "--format", "cdx", "--input", str(tmp_path / "c.cdx"),
        "--warc-root", str(tmp_path) + "/",
        "--cdx-exclude-captures", str(day2 / "captures"),
        "--output", str(day2), "--min-quality", "0",
    ])
    assert rc == 2


# ------------------- hard-negative mining (contrastive data prep)


def test_hard_negatives_planted_and_twin(spark):
    """Planted semantics: an identical vector with a DIFFERENT label
    is the top hard negative; same-label near-clones are excluded as
    false negatives; k bounds per-anchor rows. And the DuckDB twin
    reproduces the sf0.01 output bit-for-bit (the contract hash)."""
    import duckdb

    from cryo_spark.operators import similarity

    dim = 64
    base = [0.1 * ((i % 7) - 3) for i in range(dim)]
    far = [0.2 * ((i % 5) - 2) for i in range(dim)]
    rows = [
        (0, base, 0),
        (1, base, 1),           # identical, other label -> top negative
        (2, base, 0),           # identical, SAME label -> excluded
        (3, far, 1),            # different direction, other label
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {
        r.vec_id: (r.neg_id, r.cosine)
        for r in similarity.hard_negatives(
            emb, k=1, group_col="label", n_planes=2
        ).collect()
    }
    assert got[0] == (1, 1.0)  # the cross-label clone, not vec 2
    assert got[2] == (1, 1.0)
    assert got[1][0] == 0  # ties break by id: 0 before 2
    # k bounds rows per anchor
    k2 = similarity.hard_negatives(emb, k=2, group_col="label", n_planes=2)
    from collections import Counter

    per = Counter(r.vec_id for r in k2.collect())
    assert all(v <= 2 for v in per.values())

    # cross-engine twin on the real table
    real = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    got_rows = sorted(
        (r.vec_id, r.neg_id, r.cosine)
        for r in similarity.hard_negatives(
            real, k=2, group_col="label"
        ).collect()
    )
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/embeddings.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(
        similarity.hard_negatives_sql("embeddings", k=2, group_col="label")
    ).fetchall())
    con.close()
    assert got_rows == want and len(got_rows) > 900


# ---------- engine-neutral quantization: cross-engine property pin


def test_lsh_quantization_engine_neutral_property():
    """The hash-exact ANN/hard-neg tiers rest on one claim: floor(x *
    1024) of a float32 is the SAME integer in Python, DuckDB and the
    JVM (power-of-two scale => exact double arithmetic). Property-pin
    the Python==DuckDB half over adversarial float32s (negatives,
    tiny/huge magnitudes, exact-half boundaries, denormals)."""
    import math
    import struct

    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    con = duckdb.connect()

    f32 = st.floats(
        min_value=-1e6, max_value=1e6, width=32, allow_nan=False
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(f32, min_size=1, max_size=8))
    def prop(xs):
        # exact float32 round-trip (what parquet stores / Spark reads)
        xs = [struct.unpack("f", struct.pack("f", x))[0] for x in xs]
        py = [int(math.floor(x * 1024.0)) for x in xs]
        # per-element ::DOUBLE::FLOAT — DuckDB parses numeric
        # literals as DECIMAL, and DECIMAL->FLOAT divides in float32
        # (one ulp off for e.g. 16777.375); repr->DOUBLE is exact and
        # DOUBLE->FLOAT rounds correctly, which is also how values
        # actually enter DuckDB in production (parquet FLOAT columns,
        # ::DOUBLE[] query literals — never the decimal path)
        lit = "[" + ",".join(f"{x!r}::DOUBLE::FLOAT" for x in xs) + "]"
        duck = con.sql(
            f"SELECT list_transform({lit}, "
            "x -> CAST(floor(x::DOUBLE * 1024) AS BIGINT))"
        ).fetchone()[0]
        assert py == duck

    prop()
    # exact-half boundary: 2.5/1024 and -2.5/1024 are representable
    for v in (2.5 / 1024, -2.5 / 1024, 0.0, -0.0):
        py = int(math.floor(v * 1024.0))
        duck = con.sql(
            f"SELECT CAST(floor(({v!r}::FLOAT)::DOUBLE * 1024) AS BIGINT)"
        ).fetchone()[0]
        assert py == duck, v
    con.close()


def test_lsh_quantization_spark_matches_python(spark):
    """The JVM third of the neutrality claim: Spark's
    floor(cast(float as double) * 1024) matches Python's on the same
    adversarial values (the sf tables only exercise ordinary
    magnitudes)."""
    import math
    import struct

    vals = [
        0.0, -0.0, 2.5 / 1024, -2.5 / 1024, 1e-30, -1e-30,
        999999.9, -999999.9, 0.123456789, -0.987654321, 1.5e-7,
    ]
    vals = [struct.unpack("f", struct.pack("f", v))[0] for v in vals]
    df = spark.createDataFrame([(vals,)], "v array<float>")
    got = df.select(
        F.transform(
            "v", lambda x: F.floor(x.cast("double") * 1024).cast("long")
        ).alias("q")
    ).first()["q"]
    assert got == [int(math.floor(v * 1024.0)) for v in vals]


# ------------------------ streaming WARC ingestion (crawl stream)


def test_stream_warc_documents_matches_batch(spark, tmp_path):
    """Continuous-crawl ingestion: WARC members consumed through the
    binaryFile file-stream source yield EXACTLY the batch path's
    document rows — same doc_ids (one id space across bootstrap and
    stream) and same capture_ids. availableNow trigger drains the
    directory; a file added later arrives in the next run without
    reprocessing the old ones (checkpointed source state)."""
    import gzip

    from cryo_spark.sources.documents import read_warc_documents
    from cryo_spark.streaming import stream_warc_documents

    def member(i):
        body = "".join(
            f"<p>Stream paragraph {k} with enough ordinary prose to "
            "survive extraction.</p>" for k in range(6)
        )
        payload = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            + f"<html><body>{body}<p>m {i}</p></body></html>".encode()
        )
        sep = b"\r\n"
        return gzip.compress(
            b"WARC/1.0" + sep + b"WARC-Type: response" + sep
            + f"WARC-Target-URI: https://s.test/m{i}".encode() + sep
            + b"WARC-Date: 2026-08-15T00:00:00Z" + sep
            + f"Content-Length: {len(payload)}".encode() + sep
            + sep + payload + sep + sep
        )

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    for i in range(3):
        (crawl / f"m{i}.warc.gz").write_bytes(member(i))

    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def drain():
        q = (
            stream_warc_documents(spark, str(crawl))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    assert stream_warc_documents(spark, str(crawl)).isStreaming
    drain()
    got = spark.read.parquet(sink)
    batch = read_warc_documents(spark, str(crawl))
    key = lambda r: (r.doc_id, r.capture_id, r.url, r.text)  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, batch.collect()))
    assert got.count() == 3
    # late-arriving member: only the NEW file processes on the next
    # run (checkpointed source state), no reprocessing of old members
    (crawl / "m3.warc.gz").write_bytes(member(3))
    drain()
    got2 = spark.read.parquet(sink)
    assert got2.count() == 4
    assert sorted(r.url for r in got2.collect()) == [
        f"https://s.test/m{i}" for i in range(4)
    ]


def test_corpus_cli_stream_landing_zone(spark, tmp_path, capsys):
    """corpus --format warc --stream drains new members into the
    landing parquet incrementally across invocations, and the
    accumulated parquet feeds a normal batch pipeline run."""
    import gzip
    import json

    from cryo_spark.api import main

    def member(i):
        body = "".join(
            f"<p>Landing paragraph {k} with enough ordinary prose to "
            "survive extraction.</p>" for k in range(6)
        )
        payload = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            + f"<html><body>{body}<p>z {i}</p></body></html>".encode()
        )
        sep = b"\r\n"
        return gzip.compress(
            b"WARC/1.0" + sep + b"WARC-Type: response" + sep
            + f"WARC-Target-URI: https://z{i % 2}.test/d{i}".encode() + sep
            + b"WARC-Date: 2026-08-15T01:00:00Z" + sep
            + f"Content-Length: {len(payload)}".encode() + sep
            + sep + payload + sep + sep
        )

    crawl = tmp_path / "in"
    crawl.mkdir()
    for i in range(2):
        (crawl / f"w{i}.warc.gz").write_bytes(member(i))
    land = tmp_path / "land"
    rc = main(["corpus", "--format", "warc", "--stream",
               "--input", str(crawl), "--output", str(land)])
    assert rc == 0
    assert spark.read.parquet(str(land / "documents")).count() == 2
    capsys.readouterr()
    # second drain: only the new member lands
    (crawl / "w2.warc.gz").write_bytes(member(2))
    rc = main(["corpus", "--format", "warc", "--stream",
               "--input", str(crawl), "--output", str(land)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] == 3
    # the landing parquet feeds the normal batch pipeline
    final = tmp_path / "corpus_out"
    rc = main(["corpus", "--input", str(land / "documents"),
               "--url-col", "url",
               "--output", str(final), "--min-quality", "0"])
    assert rc == 0
    assert spark.read.parquet(str(final / "corpus")).count() == 3
    # flag rejected off-format
    rc = main(["corpus", "--format", "parquet", "--stream",
               "--input", str(land / "documents"),
               "--output", str(tmp_path / "x")])
    assert rc == 2


def test_stream_warc_composes_with_ingest_clean(spark, tmp_path):
    """The docstring's composition claim, proven: the WARC stream
    feeds streaming_ingest_clean (stateless clean + stateful exact
    dedup) in one streaming query — duplicate-content members collapse
    to one survivor at ingest."""
    import gzip

    from cryo_spark.streaming import (
        stream_warc_documents,
        streaming_ingest_clean,
    )

    def member(i, text_seed):
        body = "".join(
            f"<p>Composed paragraph {k} about {text_seed} with enough "
            "ordinary prose to survive extraction.</p>" for k in range(6)
        )
        payload = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            + f"<html><body>{body}</body></html>".encode()
        )
        sep = b"\r\n"
        return gzip.compress(
            b"WARC/1.0" + sep + b"WARC-Type: response" + sep
            + f"WARC-Target-URI: https://c.test/{i}".encode() + sep
            + b"WARC-Date: 2026-08-15T02:00:00Z" + sep
            + f"Content-Length: {len(payload)}".encode() + sep
            + sep + payload + sep + sep
        )

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    (crawl / "a.warc.gz").write_bytes(member(0, "spark"))
    (crawl / "b.warc.gz").write_bytes(member(1, "spark"))   # same content
    (crawl / "c.warc.gz").write_bytes(member(2, "parquet"))  # distinct

    cleaned = streaming_ingest_clean(
        stream_warc_documents(spark, str(crawl)),
        min_quality=0.0, lang=None,
    )
    q = (
        cleaned.writeStream.format("memory").queryName("r12_compose")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM r12_compose").collect()
    # 3 members, 2 distinct contents -> exact dedup keeps 2
    assert len(rows) == 2
    assert {"quality_score", "lang_guess", "content_key"} <= set(
        rows[0].asDict()
    )


# ----------------------- landing-zone compaction (small-file fix)


def test_compact_parquet_preserves_rows_and_shrinks_files(spark, tmp_path):
    """Compaction rewrites a many-small-files dataset (the streaming
    landing-zone shape) into few scan-sized files with identical rows;
    order_by clusters the rewrite; in-place compaction is refused."""
    from cryo_spark.maintenance import compact_parquet

    src = str(tmp_path / "landing")
    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("source"),
        F.md5(F.col("id").cast("string")).alias("text"),
    )
    docs.repartition(40).write.parquet(src)
    assert len(spark.read.parquet(src).inputFiles()) >= 40

    dest = str(tmp_path / "snap")
    stats = compact_parquet(spark, src, dest, target_mb=256)
    assert stats["rows"] == 2000
    assert stats["files_in"] >= 40
    assert stats["files_out"] <= 2
    a = {tuple(r) for r in spark.read.parquet(src).collect()}
    b = {tuple(r) for r in spark.read.parquet(dest).collect()}
    assert a == b

    # clustered rewrite: each output file holds a contiguous source
    # range (row groups prune on source filters)
    dest2 = str(tmp_path / "snap2")
    compact_parquet(spark, src, dest2, target_mb=1, order_by=["source"])
    per_file = (
        spark.read.parquet(dest2)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("source").alias("lo"), F.max("source").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in per_file)
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # ranges do not interleave

    with pytest.raises(ValueError, match="in-place"):
        compact_parquet(spark, src, src + "/")


def test_compact_bucketed_table_preserves_layout(spark):
    """Daily appends leave one file per bucket per day; compaction
    rewrites the index to ~one file per bucket with the SAME saved
    bucket spec (bucketed-read plans unchanged), same rows, and the
    delta candidate join still works on the compacted table."""
    from cryo_spark.operators import incremental, skew

    day1, day2 = _delta_docs(spark)
    table = "r12_compact_idx"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    incremental.save_banded_index(
        incremental.minhash_index(day1), table, bands=4, n_buckets=4
    )
    # simulate three daily appends
    for i in range(3):
        extra = day2.withColumn("doc_id", F.col("doc_id") + 1000 * i)
        rows = incremental._band_rows(
            incremental.minhash_index(extra), 4, "doc_id",
            carry_cols=("sig",),
        ).withColumn("bands", F.lit(4))
        skew.write_bucketed(
            rows, table, ["band_id", "band_hash"], mode="append"
        )
    before = spark.table(table).count()
    stats = skew.compact_bucketed_table(spark, table)
    assert stats["rows"] == before
    assert stats["files_out"] < stats["files_in"]
    assert stats["files_out"] <= 4  # one per bucket
    assert skew.table_bucket_spec(spark, table) == (
        4, ["band_id", "band_hash"]
    )
    assert spark.table(table).count() == before
    # the compacted index still serves the delta join
    pairs = incremental.incremental_pairs_from_table(
        spark, table, incremental.minhash_index(day2), min_est=0.5
    )
    assert pairs.count() > 0
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_hard_negatives_gemm_equals_fold(spark):
    """The scale path (one numpy GEMM per bucket) returns the exact
    rows of the contract fold path — same round-8 cosines, same
    (cosine desc, id) top-k, same NULL-group semantics."""
    from cryo_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    fold = sorted(
        (r.vec_id, r.neg_id, r.cosine)
        for r in similarity.hard_negatives(
            emb, k=3, group_col="label"
        ).collect()
    )
    gemm = sorted(
        (r.vec_id, r.neg_id, r.cosine)
        for r in similarity.hard_negatives(
            emb, k=3, group_col="label", method="gemm"
        ).collect()
    )
    # the CONTRACT pair is fold==DuckDB (exact); fold vs gemm may
    # differ by one rounding step when BLAS GEMM summation order lands
    # a half-way round-8 boundary on the other side (ADVICE r12), so
    # tolerate a 1e-8 delta on cosine while requiring identical pairs
    assert len(fold) > 900 and len(fold) == len(gemm)
    for (fa, fb, fc), (ga, gb, gc) in zip(fold, gemm):
        assert (fa, fb) == (ga, gb)
        assert abs(fc - gc) <= 1e-8 + 1e-12, ((fa, fb), fc, gc)
    # NULL-group rows exclude nothing on either path
    rows = [
        (0, [0.5] * 64, None),
        (1, [0.5] * 64, None),
        (2, [0.5] * 64, 1),
    ]
    nulls = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    for m in ("fold", "gemm"):
        got = {
            (r.vec_id, r.neg_id)
            for r in similarity.hard_negatives(
                nulls, k=2, group_col="label", n_planes=2, method=m
            ).collect()
        }
        assert got == {(0, 1), (0, 2), (1, 0), (1, 2), (2, 0), (2, 1)}, m


def test_hard_negatives_gemm_nonlong_ids(spark):
    """method='gemm' derives the output id type from the input schema
    (ADVICE r12: the hardcoded 'long' schema errored on string ids)."""
    from cryo_spark.operators import similarity

    rows = [(f"doc-{i}", [float(i % 3) + 0.5] * 8) for i in range(12)]
    emb = spark.createDataFrame(
        rows, "doc_id string, embedding array<float>"
    )
    for m in ("fold", "gemm"):
        out = similarity.hard_negatives(
            emb, k=2, id_col="doc_id", n_planes=2, method=m
        )
        assert out.schema["doc_id"].dataType.simpleString() == "string"
        assert out.schema["neg_id"].dataType.simpleString() == "string"
        assert out.count() > 0


# ------------------ page-change detection (freshness re-crawls)

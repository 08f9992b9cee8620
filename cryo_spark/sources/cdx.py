"""CDX(J) crawl-index ingestion + index-driven ranged record fetch.

A crawl the size of CommonCrawl ships an INDEX next to the archives:
CDXJ lines of ``<SURT urlkey> <timestamp> <JSON>`` where the JSON
carries the capture's url/mime/status/digest and — the part that
matters at 100 TB — the exact ``(filename, offset, length)`` of its
WARC record. (Format reference: the public CDXJ spec as used by
CommonCrawl's ``cc-index`` and pywb; each ``.warc.gz`` record is an
independent gzip member, which is what makes ranged fetch possible.)

Two operators:

- :func:`read_cdx` — parse index files into a typed frame. Pure JVM
  (``spark.read.text`` + two ``substring_index`` splits +
  ``from_json`` + casts): splittable for plain ``.cdx``, per-file
  tasks for ``.gz`` (same non-splittable caveat as every gzip text
  format — SCALE.md).

- :func:`fetch_cdx_records` — the scale path for SELECTIVE
  re-extraction: filter the index frame (a domain, a language, a
  mime, a crawl date range), then fetch ONLY those records by byte
  range instead of streaming whole multi-GB members. Each task sorts
  its slice by (filename, offset) and reuses one open file handle per
  filename run, so object-store reads are sequential-ish range GETs.
  Fetching 0.1% of a crawl touches ~0.1% of the bytes — the
  whole-member reader (``read_warc``) cannot do better than 100%.

The fetched frame has the exact :data:`~cryo_spark.sources.documents.
_WARC_SCHEMA` shape (plus ``doc_id``), so ``extract_documents`` /
``read_warc_documents``'s projection chain composes unchanged.
"""

from __future__ import annotations

import gzip
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cryo_spark.sources.documents import (
    DEFAULT_MAX_MEMBER_BYTES,
    _WARC_SCHEMA,
    MemberTooLargeError,
    _parse_warc_bytes,
    capture_id_expr,
)

#: JSON part of a CDXJ line — everything is a string in the wire
#: format (CommonCrawl quotes numbers); casts below make them typed
_CDX_JSON_SCHEMA = (
    "url string, mime string, `mime-detected` string, status string, "
    "digest string, length string, offset string, filename string, "
    "languages string, charset string, truncated string, "
    "redirect string"
)


def read_cdx(spark: SparkSession, path: str) -> DataFrame:
    """CDX(J) index files → typed capture frame: one row per capture
    with (urlkey, ts, url, mime, mime_detected, status, digest,
    length, offset, filename, languages, charset, truncated,
    redirect).

    Parsing is declarative JVM end to end: the urlkey and timestamp
    are the text before the first two spaces (SURT keys never contain
    spaces; the JSON may), the rest is one ``from_json``. Malformed
    lines (no JSON object, truncated) land with NULL parsed fields
    instead of failing the scan — filter ``url IS NOT NULL`` when the
    recipe requires clean rows. ``ts`` parses the 14-digit CDX
    timestamp to a real timestamp column so date-range pruning is a
    comparison, not a string hack."""
    lines = spark.read.text(path)
    # JSON = substring from the first '{' (the spec puts it last);
    # urlkey/ts = the first two space-separated tokens
    json_part = F.expr("substring(value, instr(value, '{'))")
    parsed = F.from_json(json_part, _CDX_JSON_SCHEMA)
    df = lines.select(
        F.substring_index("value", " ", 1).alias("urlkey"),
        F.substring_index(
            F.substring_index("value", " ", 2), " ", -1
        ).alias("ts_raw"),
        parsed.alias("j"),
    )
    return df.select(
        "urlkey",
        # try_to_timestamp: a malformed line's ts token must land NULL,
        # not throw under ANSI mode (Spark 4 default)
        F.try_to_timestamp(F.col("ts_raw"), F.lit("yyyyMMddHHmmss")).alias("ts"),
        F.col("j.url").alias("url"),
        F.col("j.mime").alias("mime"),
        F.col("j.`mime-detected`").alias("mime_detected"),
        F.col("j.status").try_cast("int").alias("status"),
        F.col("j.digest").alias("digest"),
        F.col("j.length").try_cast("long").alias("length"),
        F.col("j.offset").try_cast("long").alias("offset"),
        F.col("j.filename").alias("filename"),
        F.col("j.languages").alias("languages"),
        F.col("j.charset").alias("charset"),
        F.col("j.truncated").alias("truncated"),
        F.col("j.redirect").alias("redirect"),
    )


def cdx_capture_id_expr(url_col: str = "url", ts_col: str = "ts") -> "F.Column":
    """INDEX-side capture identity: the same md5(Target-URI, WARC-Date)
    key :func:`documents.capture_id_expr` derives from record headers,
    reconstructed from the CDX columns (``url`` + the 14-digit
    timestamp rendered back to WARC's second-precision UTC ISO form).
    Matches the header-derived key whenever the record's WARC-Date is
    the usual ``yyyy-MM-ddTHH:mm:ssZ`` the CDX timestamp is derived
    from (the CommonCrawl convention); a non-standard date renders a
    different key, so an exclusion anti-join simply fetches that
    capture — extra work, never data loss. Rendering uses
    ``date_format`` on the parsed ``ts``, which round-trips the
    session timezone the parse used."""
    iso = F.date_format(F.col(ts_col), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    return F.md5(
        F.concat(
            F.coalesce(F.col(url_col), F.lit("")),
            F.lit("\x1f"),
            F.coalesce(iso, F.lit("")),
        )
    )


def fetch_cdx_records(
    spark: SparkSession,
    cdx: DataFrame,
    warc_root: str = "",
    id_col: str = "doc_id",
    max_member_bytes: int = DEFAULT_MAX_MEMBER_BYTES,
    dropped=None,
    coalesce_bytes: int = 8 << 20,
) -> DataFrame:
    """Fetch exactly the WARC records a (filtered) CDX frame points
    at, by byte range — the selective-re-extraction path: pruning
    happens on the INDEX (KB per million captures), and only the
    selected records' bytes ever leave storage.

    ``dropped`` (optional): a Spark accumulator
    (``spark.sparkContext.accumulator(0)``) incremented once per
    corrupt-index record dropped by the framing catch below — read it
    after an action to audit silent loss. CAVEAT (accumulator
    semantics): the increment runs inside ``mapInPandas``, so it
    counts per EVALUATION — task retries, speculative execution, or a
    second action on the uncached returned frame re-run the fetch and
    inflate it. Only trust the value after exactly one action on a
    cached/checkpointed frame; for an evaluation-independent audit,
    compute ``selected index rows − fetched.select("path",
    "record_idx").distinct().count()`` instead (``record_idx`` holds
    the byte offset on this path). Size-cap violations
    (:class:`MemberTooLargeError`) are never dropped; they raise.

    ``warc_root`` prefixes the index's relative ``filename`` values
    (CommonCrawl publishes paths relative to the bucket root; '' when
    the index already holds absolute paths/URIs). Since round 16 the
    root may be an ``http(s)://`` url (e.g.
    ``https://data.commoncrawl.org/``): ranges fetch as HTTP Range
    GETs on one keep-alive connection per filename run
    (:class:`cryo_spark.fsutil.HttpRangeFile`) — no object-store
    mirror needed, and the byte bill is still exactly the selected
    ranges (served-bytes-accounting test). Rows missing any of
    filename/offset/length are dropped up front — they cannot be
    fetched.

    Scale shape: repartition on ``filename`` hash so one file's
    fetches co-locate, sort each task's slice by (filename, offset)
    for sequential-ish range reads, reuse one open handle per
    filename run, and COALESCE exactly-adjacent selected records into
    one ranged read of at most ``coalesce_bytes`` (8 MiB default; 0
    disables) — CommonCrawl writes a site's captures consecutively,
    so host/time selections often pick neighbors, and the round-trip
    count (the dominant cost of small-record fetches over HTTP or an
    object store) drops to one per run while the byte bill stays
    exactly the selected ranges (strict adjacency, no gap reads). Each fetched record is an independent gzip member
    (the ``.warc.gz`` contract that CDX offsets rely on), parsed with
    the shared in-memory parser under the same per-record size guard
    as streaming ingestion. Output is the ``read_warc`` frame shape —
    ``extract_documents`` composes directly. Ids are deterministic in
    (warc_root+filename, byte offset) — xxhash64 over exactly the
    metadata the index provides — and NOT comparable to
    ``read_warc``'s ids, which hash (listing-URI path, sequential
    record_idx): the two ingestion paths address records by different
    coordinates, so never join/dedup across them on ``doc_id``. For
    cross-path joins use ``capture_id`` (round 12) —
    md5(WARC-Target-URI, WARC-Date) from the record's OWN headers,
    attached identically by both paths
    (``documents.capture_id_expr``), so "did the whole-member ingest
    already cover this selectively re-extracted capture?" is an
    inner join on it."""
    sel = cdx.filter(
        F.col("filename").isNotNull()
        & F.col("offset").isNotNull()
        & F.col("length").isNotNull()
    ).select("filename", "offset", "length")

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one shared filesystem resolution policy (cryo_spark.fsutil):
        # file:-form normalization, s3a/s3n → pyarrow s3, remote
        # resolution failures PROPAGATE (no silent local fallback)
        def open_file(p: str):
            from cryo_spark.fsutil import resolve_fs

            fs, local = resolve_fs(p)
            return fs.open_input_file(local)

        cols = [
            "path", "record_idx", "warc_type", "target_uri",
            "warc_date", "content_length", "payload", "payload_digest",
            "identified_lang",
        ]
        out_rows: list[tuple] = []
        handle = None
        handle_path: str | None = None
        try:
            for pdf in batches:
                # rows arrive task-sorted by (filename, offset) via
                # sortWithinPartitions below — sorting per pandas
                # batch here would NOT order across batch boundaries,
                # and the handle-reuse run depends on global task order
                rows = list(pdf.itertuples(index=False))
                i = 0
                while i < len(rows):
                    fn, off, ln = rows[i]
                    p = warc_root + fn if warc_root else fn
                    if ln > max_member_bytes:
                        raise ValueError(
                            f"CDX record at {p}:{off} declares length "
                            f"{ln} (max_member_bytes={max_member_bytes})"
                            " — repair the index entry or raise the cap"
                        )
                    # coalesce EXACTLY-adjacent selected records into
                    # one ranged read (round 16): CommonCrawl writes a
                    # site's captures consecutively, so a host/time
                    # selection often picks neighbors — one round trip
                    # fetches the run instead of one per record, on
                    # HTTP and object stores alike. Adjacency is
                    # strict (off2 == off + len so far), so the byte
                    # bill stays EXACTLY the selected ranges; the run
                    # buffer is capped at coalesce_bytes.
                    run = [(int(off), int(ln))]
                    total = int(ln)
                    j = i + 1
                    while j < len(rows):
                        fn2, off2, ln2 = rows[j]
                        if (
                            fn2 != fn
                            or int(off2) != run[0][0] + total
                            or total + int(ln2) > coalesce_bytes
                        ):
                            break
                        if ln2 > max_member_bytes:
                            break  # its own iteration raises above
                        run.append((int(off2), int(ln2)))
                        total += int(ln2)
                        j += 1
                    if p != handle_path:
                        if handle is not None:
                            handle.close()
                        handle = open_file(p)
                        handle_path = p
                    handle.seek(run[0][0])
                    buf = bytes(handle.read(total))
                    pos = 0
                    for off_k, ln_k in run:
                        raw = buf[pos:pos + ln_k]
                        pos += ln_k
                        # a stale/corrupt index entry (wrong offset,
                        # bit rot, truncated archive) yields bytes
                        # that are not a gzip member or not
                        # WARC-framed — DROP that record instead of
                        # failing the task: one bad pointer must not
                        # kill a crawl-sized fetch (the same
                        # malformed-input policy as read_cdx's NULL
                        # rows; the capture is unusable either way).
                        # The catch is NARROW: only framing/decompress
                        # corruption drops. The deliberate size guard
                        # (MemberTooLargeError — e.g. a gzip bomb
                        # whose record decompresses past the cap) and
                        # anything unexpected still fail loudly with
                        # the documented max_member_bytes guidance.
                        try:
                            recs = list(
                                _parse_warc_bytes(raw, p, max_member_bytes)
                            )
                        except MemberTooLargeError:
                            raise
                        except (
                            ValueError,      # WARC framing / header parse
                            zlib.error,      # corrupt deflate stream
                            gzip.BadGzipFile,  # not a gzip member
                            EOFError,        # truncated member
                            UnicodeDecodeError,
                        ):
                            if dropped is not None:
                                dropped.add(1)
                            continue
                        for rec in recs:
                            # record_idx is meaningless for a ranged
                            # fetch (the index entry identifies ONE
                            # record); the byte offset is the stable
                            # identity
                            out_rows.append((p, off_k, *rec[2:]))
                    i = j
                    if len(out_rows) >= 2048:
                        yield pd.DataFrame(out_rows, columns=cols)
                        out_rows = []
        finally:
            if handle is not None:
                handle.close()
        yield pd.DataFrame(out_rows, columns=cols)

    fetched = (
        sel.repartition("filename")
        .sortWithinPartitions("filename", "offset")
        .mapInPandas(fetch, schema=_WARC_SCHEMA)
        .withColumn(id_col, F.xxhash64(F.col("path"), F.col("record_idx")))
        .withColumn("capture_id", capture_id_expr())
    )
    return fetched


def select_cdx(
    spark: SparkSession,
    cdx: DataFrame | str,
    hosts: list[str] | None = None,
    host_frame: DataFrame | None = None,
    languages: list[str] | None = None,
    mimes: list[str] | None = None,
    statuses: tuple[int, ...] | None = (200,),
    ts_from: str | None = None,
    ts_to: str | None = None,
    latest_per_url: bool = False,
    exclude_captures: DataFrame | None = None,
) -> DataFrame:
    """The INDEX-side selection half of :func:`reextract_documents`,
    exposed first-class: apply every selection to the CDX frame and
    return the selected index rows (KB per million captures) WITHOUT
    fetching a byte — for capture ledgers, selection dry-runs, and
    cost estimates (``sum(length)`` of the result is the exact byte
    bill of the fetch). See :func:`reextract_documents` for the
    selection semantics."""
    from cryo_spark.operators import web

    idx = read_cdx(spark, cdx) if isinstance(cdx, str) else cdx
    if hosts:
        # via='expr' pinned: the auto heuristic switches to the
        # broadcast-join strategy above 1000 domains, which keys on a
        # doc_id column the index frame does not have — and an index
        # row is KB-cheap to filter by expression at any domain count
        # that fits a broadcast anyway
        idx = web.url_host_filter(
            idx, hosts, mode="allow", url_col="url", via="expr"
        )
    if host_frame is not None:
        idx = (
            idx.withColumn("_rx_host", web.canonical_host("url"))
            .join(
                F.broadcast(
                    host_frame.select(F.col("host").alias("_rx_host"))
                ),
                "_rx_host",
                "left_semi",
            )
            .drop("_rx_host")
        )
    if languages:
        idx = idx.filter(
            F.size(
                F.array_intersect(
                    F.split(F.coalesce(F.col("languages"), F.lit("")), ","),
                    F.array(*[F.lit(x) for x in languages]),
                )
            )
            > 0
        )
    if mimes:
        idx = idx.filter(F.col("mime").isin(list(mimes)))
    if statuses:
        idx = idx.filter(F.col("status").isin(list(statuses)))

    def _ts(s: str, end: bool = False):
        # prefixes are INCLUSIVE on both ends: the start bound
        # zero-pads ('20260814' -> day start) and the end bound pads
        # with the maximum time digits ('20260814' -> 20260814235959)
        # — a zero-padded end would silently exclude everything after
        # midnight of the named day
        if len(s) not in (8, 10, 12, 14) or not s.isdigit():
            raise ValueError(
                f"timestamp prefix {s!r} must be 8/10/12/14 digits of "
                "yyyyMMddHHmmss — an odd-length prefix would silently "
                "shift the padded time digits"
            )
        if end:
            full = s + "235959"[len(s) - 8:] if len(s) < 14 else s
        else:
            full = s.ljust(14, "0")
        return F.to_timestamp(F.lit(full), "yyyyMMddHHmmss")

    if ts_from:
        idx = idx.filter(F.col("ts") >= _ts(ts_from))
    if ts_to:
        idx = idx.filter(F.col("ts") <= _ts(ts_to, end=True))
    if latest_per_url:
        from pyspark.sql import Window

        w = Window.partitionBy("urlkey").orderBy(
            F.col("ts").desc(), F.col("offset").desc()
        )
        idx = (
            idx.withColumn("_rx_rn", F.row_number().over(w))
            .filter(F.col("_rx_rn") == 1)
            .drop("_rx_rn")
        )
    if exclude_captures is not None:
        seen = exclude_captures.select(
            F.col("capture_id").alias("_rx_cap")
        ).distinct()
        idx = (
            idx.withColumn("_rx_cap", cdx_capture_id_expr())
            .join(seen, "_rx_cap", "left_anti")
            .drop("_rx_cap")
        )
    return idx


def reextract_documents(
    spark: SparkSession,
    cdx: DataFrame | str,
    warc_root: str = "",
    hosts: list[str] | None = None,
    host_frame: DataFrame | None = None,
    languages: list[str] | None = None,
    mimes: list[str] | None = None,
    statuses: tuple[int, ...] | None = (200,),
    ts_from: str | None = None,
    ts_to: str | None = None,
    latest_per_url: bool = False,
    exclude_captures: DataFrame | None = None,
    text_col: str = "text",
    main_content: bool = False,
    smooth: bool = False,
    max_member_bytes: int = DEFAULT_MAX_MEMBER_BYTES,
    dropped=None,
) -> DataFrame:
    """One-call SELECTIVE re-extraction: "re-extract this
    domain/language/date-slice" against a CDX-indexed crawl, without
    streaming the archives.

    Every selection below is applied to the INDEX frame (KB per
    million captures) so partition pruning and predicate pushdown do
    their work before a single archive byte moves; only the selected
    records' byte ranges are then fetched (:func:`fetch_cdx_records`)
    and fed through the SAME record→document projection chain
    whole-member ingestion uses
    (``documents.documents_from_records``) — selecting 0.1% of a
    crawl touches ~0.1% of its bytes (proven end to end in tests by
    corrupting every byte OUTSIDE the selected ranges and re-running).

    Selections (all optional, AND-composed):

    - ``hosts``: RefinedWeb-style domain/subdomain-suffix allowlist
      on the capture url (``operators.web.url_host_filter`` allow
      mode — ``ads.example.com`` matches a listed ``example.com``).
    - ``host_frame``: a (host, ...) frame — e.g.
      ``operators.robots.robots_sitemaps(robots_docs)`` to re-extract
      exactly the hosts that declare sitemaps — broadcast-semi-joined
      on the capture's canonical host; the index never shuffles.
    - ``languages``: crawler language verdicts (the index's
      comma-separated ``languages`` field intersects the list).
    - ``mimes`` / ``statuses``: content-type and HTTP status slices.
    - ``ts_from`` / ``ts_to``: capture-timestamp slice, compact
      ``yyyyMMddHHmmss`` strings; prefixes are INCLUSIVE on both ends
      ('20260814' as ts_to covers the whole of Aug 14, not just its
      midnight instant).
    - ``latest_per_url=True``: keep only each urlkey's newest capture
      (the standard re-crawl recipe) — a window over the index, still
      index-sized.
    - ``exclude_captures``: any frame with a ``capture_id`` column —
      typically a PRIOR ingest's document output (both ingestion
      paths attach the key) — anti-joined on the INDEX-side
      reconstruction of the same key (:func:`cdx_capture_id_expr`),
      so already-covered captures' bytes are never fetched: the
      incremental "re-extract only what last month's ingest missed"
      recipe. Applied AFTER ``latest_per_url`` (a url whose latest
      capture is covered yields nothing, not its stale runner-up).
      The ledger side can be corpus-sized, so it is NOT broadcast —
      this is one index-vs-ledger key shuffle.

    Returns the canonical document frame (doc_id, url, warc_date,
    content_type, status, noindex, title, html_lang, text,
    capture_id). :func:`select_cdx` is the selection half alone —
    the filtered index without a fetch."""
    from cryo_spark.sources.documents import documents_from_records

    idx = select_cdx(
        spark, cdx, hosts=hosts, host_frame=host_frame,
        languages=languages, mimes=mimes, statuses=statuses,
        ts_from=ts_from, ts_to=ts_to, latest_per_url=latest_per_url,
        exclude_captures=exclude_captures,
    )
    recs = fetch_cdx_records(
        spark, idx, warc_root=warc_root, max_member_bytes=max_member_bytes,
        dropped=dropped,
    )
    return documents_from_records(
        recs, text_col=text_col, main_content=main_content, smooth=smooth
    )

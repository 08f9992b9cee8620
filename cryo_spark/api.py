"""Entry points: collect() / freeze() / CLI.

Mirrors the reference Python API surface
(/root/reference/crates/python/rust/collect_adapter.rs:8-70,
python/cryo/_collect.py:53-82, _freeze.py) and the CLI lifecycle
(crates/cli/src/run.rs, freeze.rs:26-77): parse → validate → plan
work-list → transform → sort → (return | partitioned write + report).

The fetch stage is the replay source (landed raw tables); the rest is
pure DataFrame composition, so Catalyst pushes the block-range filter
and the column selection into the raw parquet scan.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame, SparkSession

from cryo_spark import io as cio
from cryo_spark import plan as cplan
from cryo_spark.datasets import TRANSFORMS
from cryo_spark import schemas
from cryo_spark.schema_select import apply_encoding, compute_used_columns
from cryo_spark.schemas import get_spec, resolve_name


# dim name -> candidate column names, tried in order (partitions.rs:8-33
# dims against each dataset's actual columns)
_DIM_COLUMNS = {
    "address": ["address", "contract_address", "erc20", "erc721"],
    "contract": ["contract_address", "erc20", "erc721", "address"],
    "from_address": ["from_address", "action_from"],
    "to_address": ["to_address", "action_to"],
    "topic0": ["topic0"], "topic1": ["topic1"], "topic2": ["topic2"],
    "topic3": ["topic3"], "slot": ["slot"],
    "transaction_hash": ["transaction_hash"],
    "call_data": ["call_data", "tx_call_data"],
}


def _dim_bytes(v) -> bytes:
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    s = str(v)
    return bytes.fromhex(s[2:] if s.startswith("0x") else s)


def _dim_stub(v) -> str:
    """First 8 chars of the 0x-hex value — the reference's file-label
    format for binary dims (binary_chunk.rs format_item)."""
    return ("0x" + _dim_bytes(v).hex())[:8]


def _partition_labels(df: DataFrame, spec, dims: dict, partition_by: list[str]):
    """label expression + expected label list for `--partition-by`
    dims (reference C3, partitions.rs:290-337): one output file per
    dim-value combination per chunk."""
    import itertools

    from pyspark.sql import functions as F

    exprs, value_lists = [], []
    for dim in partition_by:
        target = spec.arg_aliases.get(dim, dim)
        vals = dims.get(dim, dims.get(target))
        if vals is None:
            raise ValueError(f"partition_by dim {dim!r} has no values in the query")
        vals = vals if isinstance(vals, (list, tuple)) else [vals]
        col = next(
            (c for c in _DIM_COLUMNS.get(target, [target]) if c in df.columns), None
        )
        if col is None:
            raise ValueError(f"dataset has no column for partition_by dim {dim!r}")
        exprs.append(
            F.substring(F.concat(F.lit("0x"), F.lower(F.hex(F.col(col)))), 1, 8)
        )
        value_lists.append([_dim_stub(v) for v in vals])
    labels = ["__".join(combo) for combo in itertools.product(*value_lists)]
    expr = F.concat_ws("__", *exprs) if len(exprs) > 1 else exprs[0]
    return expr, labels


def _apply_dim_filters(df: DataFrame, spec, dims: dict) -> DataFrame:
    """Client-side dim predicates (reference P4-P6: pushed into the
    RPC filter online, plain column filters over the landed tables —
    Catalyst pushes them into the parquet scan)."""
    from pyspark.sql import functions as F

    for dim, values in dims.items():
        target = spec.arg_aliases.get(dim, dim)
        col = next(
            (c for c in _DIM_COLUMNS.get(target, [target]) if c in df.columns), None
        )
        if col is None:
            continue
        vals = values if isinstance(values, (list, tuple)) else [values]
        df = df.filter(F.col(col).isin([_dim_bytes(v) for v in vals]))
    return df


def _resolve_sort(spec, sort, n_datatypes: int) -> list[str] | None:
    """Sort-spec semantics (cli/parse/schemas.rs:167-194): default ->
    the dataset's declared sort; ['none'] -> unsorted; [] -> error;
    custom columns only apply to a single datatype."""
    if sort is True:
        return list(spec.sort)
    if sort is False or sort is None:
        return None
    cols = list(sort)
    if cols == ["none"]:
        return None
    if not cols:
        raise ValueError(
            "must specify columns to sort by, use `none` to disable sorting"
        )
    if n_datatypes > 1:
        raise ValueError("custom sort not supported for multiple datasets")
    return cols


def _tx_dimension_check(datatype: str) -> None:
    """Datasets without a transaction_hash column cannot be collected
    by transaction (CollectByTransaction::can_collect_by_transaction,
    collect_by_transaction.rs:63-66). Schema-driven (the transforms
    project exactly the spec columns), so it runs BEFORE any source
    mutation or frame construction — a rejected call must not degrade
    a reused OnlineSource's adopted state."""
    if "transaction_hash" not in get_spec(datatype).column_names():
        raise ValueError(
            f"dataset {datatype} cannot be collected by transaction"
        )


def _base_frame(
    spark: SparkSession,
    datatype: str,
    chunks: list[cplan.BlockChunk],
    *,
    columns=None,
    include_columns=None,
    exclude_columns=None,
    hex=False,
    u256_types=None,
    exclude_failed=False,
    event_signature=None,
    fixtures_dir=None,
    dims=None,
) -> DataFrame:
    name = resolve_name(datatype)
    spec = get_spec(name)
    df = TRANSFORMS[name](spark, fixtures_dir)
    if chunks:
        df = df.filter(cio.block_filter(chunks))
    if dims:
        df = _apply_dim_filters(df, spec, dims)
    if exclude_failed:
        if "success" in df.columns:
            df = df.filter(df["success"])
        elif "error" in df.columns:
            df = df.filter(df["error"].isNull())
    used = compute_used_columns(spec, include_columns, exclude_columns, columns)
    extra: list[str] = []
    if event_signature is not None:
        if name != "logs":
            raise ValueError("event_signature only applies to the logs dataset")
        from cryo_spark.functions.abi import decode_logs

        df = decode_logs(df, event_signature)
        # raw topic1-3/data are dropped when decoding
        # (to_df/src/lib.rs:165-166)
        used = [c for c in used if c not in ("topic1", "topic2", "topic3", "data")]
        extra = [c for c in df.columns if c.startswith("event__")]
    return apply_encoding(
        df, spec, used, hex_encode=hex, u256_reps=u256_types, extra=extra
    )


# MultiDatatype groups (reference multi.rs:25-50): members share one
# fetch; offline that is one raw-table scan, shared via Spark's cache
# (CacheManager substitutes any matching sub-plan, so persisting the
# raw scan once serves every member transform).
MULTI_DATATYPES = {
    "blocks_and_transactions": ["blocks", "transactions"],
    "call_trace_derivatives": ["contracts", "native_transfers", "traces"],
    "state_diffs": [
        "balance_diffs", "code_diffs", "nonce_diffs", "storage_diffs"
    ],
    "state_reads": [
        "balance_reads", "code_reads", "nonce_reads", "storage_reads"
    ],
    "geth_state_diffs": [
        "geth_balance_diffs", "geth_code_diffs",
        "geth_nonce_diffs", "geth_storage_diffs",
    ],
}

# raw table feeding each dataset's transform (the shared-fetch key —
# meta.rs cluster_datatypes groups scalars whose multi shares a scan).
# Multi-raw datasets (address_appearances) are deliberately absent.
_RAW_OF = {
    "blocks": "blocks", "transactions": "transactions",
    "contracts": "traces", "native_transfers": "traces", "traces": "traces",
    "geth_calls": "traces", "four_byte_counts": "traces",
    "logs": "logs", "logs_decoded": "logs", "erc20_transfers": "logs",
    "erc20_approvals": "logs", "erc721_transfers": "logs",
    "balances": "accounts", "nonces": "accounts", "codes": "accounts",
    "slots": "storage",
    "eth_calls": "calls", "erc20_metadata": "calls",
    "erc20_supplies": "calls", "erc20_balances": "calls",
    "erc721_metadata": "calls",
    "geth_opcodes": "opcodes", "vm_traces": "opcodes",
    "javascript_traces": "js_traces", "trace_calls": "trace_calls",
    **{f"{k}_diffs": "state_diffs" for k in ("balance", "code", "nonce", "storage")},
    **{f"geth_{k}_diffs": "state_diffs" for k in ("balance", "code", "nonce", "storage")},
    **{f"{k}_reads": "state_reads" for k in ("balance", "code", "nonce", "storage")},
}


def _adopt_chunks_into_active_source(chunks) -> None:
    """Give an active OnlineSource the planned block chunks (its fetch
    work-list) when the caller didn't pre-seed them — so
    ``collect(..., blocks=..., source=OnlineSource(...))`` needs the
    block spec in only one place. A reused source adopting a NEW range
    drops its memoized fetches (see OnlineSource.adopt_chunks)."""
    from cryo_spark import sources as _sources

    src = _sources._ACTIVE
    if src is not None and chunks and hasattr(src, "adopt_chunks"):
        src.adopt_chunks(chunks)


def _active_online_source():
    """The active source, when it can probe the live chain (an
    OnlineSource); None offline."""
    from cryo_spark import sources as _sources

    src = _sources._ACTIVE
    return src if hasattr(src, "latest_block_number") else None


def _parse_blocks_resolving_latest(blocks, latest):
    """parse_block_inputs, resolving a `latest` reference against the
    live chain when an OnlineSource is active and no explicit tip was
    given (the reference always resolves `latest` via the node,
    blocks.rs:131-146). Offline specs without `latest` never probe."""
    try:
        return cplan.parse_block_inputs(blocks, latest)
    except cplan.MissingChainTip:
        # retry ONLY the typed missing-tip signal — a malformed spec
        # surfaces its own ValueError, never a spurious probe failure
        src = _active_online_source()
        if latest is None and src is not None:
            return cplan.parse_block_inputs(blocks, src.latest_block_number())
        raise


def _adopt_tx_hashes_into_active_source(hashes) -> None:
    """Give an active OnlineSource the ``txs=`` hash list so its
    transactions raw table fetches by hash (CollectByTransaction)
    instead of needing a block work-list."""
    from cryo_spark import sources as _sources

    src = _sources._ACTIVE
    if src is not None and hashes and hasattr(src, "adopt_tx_hashes"):
        src.adopt_tx_hashes(hashes)


def persist_shared_raws(spark, names: list[str], fixtures_dir=None) -> list:
    """Persist each raw table consumed by >= 2 of ``names`` so their
    transforms share ONE scan via Spark's plan-cache substitution
    (reference MetaDatatype clustering, meta.rs:23-39). Returns the
    persisted frames (callers may unpersist)."""
    from collections import Counter

    from cryo_spark.sources import raw as raw_read

    shared = [
        t for t, n in Counter(_RAW_OF.get(n) for n in names).items()
        if t is not None and n >= 2
    ]
    return [raw_read(spark, t, fixtures_dir).persist() for t in shared]


def expand_datatypes(datatypes: list[str]) -> list[str]:
    """Expand multi-datatype names into their members (multi.rs:25-50)."""
    out: list[str] = []
    for d in datatypes:
        if d in MULTI_DATATYPES:
            out.extend(MULTI_DATATYPES[d])
        else:
            out.append(resolve_name(d))
    return out


def collect_multi(
    spark: SparkSession,
    datatypes: list[str],
    *,
    fixtures_dir: str | None = None,
    **kwargs,
) -> dict[str, DataFrame]:
    """Collect several datasets, sharing raw scans across members of
    the same fetch group (reference MetaDatatype clustering,
    meta.rs:23-39): when >=2 requested datasets read the same raw
    table, that scan is persisted once and every transform reuses it
    through the plan cache. With ``source=OnlineSource(...)`` the
    shared table is FETCHED once (the source memoizes per raw name)."""
    from cryo_spark.sources import use_source

    source = kwargs.pop("source", None)
    with use_source(source):
        names = expand_datatypes(datatypes)
        if source is None:
            # online, the source's per-raw memoization already
            # guarantees one fetch per shared table (and it has no
            # chunks yet at this point — they are adopted per collect)
            persist_shared_raws(spark, names, fixtures_dir)
        return {
            n: _collect_impl(spark, n, fixtures_dir=fixtures_dir, **kwargs)
            for n in names
        }


def collect(
    spark: SparkSession,
    datatype: str,
    *,
    source=None,
    **kwargs,
) -> DataFrame:
    """Collect one dataset (see :func:`_collect_impl` for the full
    parameter surface). ``source`` swaps the replay lake for an
    :class:`cryo_spark.sources.online.OnlineSource` — the transforms
    are source-agnostic, so the same plan runs over live RPC fetch
    stages (reference: Source passed into every dataset collector)."""
    from cryo_spark.sources import use_source

    with use_source(source):
        return _collect_impl(spark, datatype, **kwargs)


async def async_collect(
    spark: SparkSession,
    datatype: str,
    **kwargs,
) -> DataFrame:
    """Async twin of :func:`collect` (reference entry point
    `cryo.async_collect`, crates/python/python/cryo/_collect.py:60-83;
    there the async side is native and sync wraps it — here the
    inverse: Spark job submission is blocking, so the sync path runs
    on a worker thread, letting an event loop interleave other work
    while the cluster computes)."""
    import asyncio

    return await asyncio.to_thread(collect, spark, datatype, **kwargs)


async def async_freeze(
    spark: SparkSession,
    datatypes,
    **kwargs,
) -> dict:
    """Async twin of :func:`freeze` (reference `cryo.async_freeze`,
    crates/python/python/cryo/_freeze.py — same thread-executor
    inversion as :func:`async_collect`)."""
    import asyncio

    return await asyncio.to_thread(freeze, spark, datatypes, **kwargs)


def _collect_impl(
    spark: SparkSession,
    datatype: str,
    *,
    blocks: str | int | list | None = None,
    start_block: int | None = None,
    end_block: int | None = None,
    columns: list[str] | None = None,
    include_columns: list[str] | None = None,
    exclude_columns: list[str] | None = None,
    hex: bool = False,
    u256_types: list[str] | None = None,
    exclude_failed: bool = False,
    event_signature: str | None = None,
    timestamps: str | int | None = None,
    txs: list | str | None = None,
    sort: bool | list[str] | None = True,
    latest: int | None = None,
    fixtures_dir: str | None = None,
    output_format: str = "spark",
    **dims,
) -> DataFrame:
    """Collect one dataset as a DataFrame (reference `cryo.collect`;
    single partition semantics — _collect.py:66-67 forces one chunk).

    ``txs`` switches the time dimension to transactions
    (queries.rs:75-80): rows are keyed by the given transaction
    hashes instead of a block range. ``sort`` is True (dataset
    default), False/None/['none'] (unsorted), or a column list.

    ``output_format`` mirrors _collect.py:72-82: 'spark' (the native
    frame, reference 'polars' analog), 'pandas', 'list' (row dicts),
    'dict' (column lists)."""
    if blocks is None and start_block is not None:
        blocks = f"{start_block}:{end_block if end_block is not None else ''}"
    if txs is not None:
        tx_chunk = cplan.parse_tx_inputs(txs)
        chunks = []
        dims = dict(dims)
        dims["transaction_hash"] = tx_chunk.values()
        # validate FIRST (schema-only, no frames built), then route an
        # active OnlineSource through per-hash lookups
        _tx_dimension_check(resolve_name(datatype))
        _adopt_tx_hashes_into_active_source(tx_chunk.values())
    elif timestamps is not None:
        from cryo_spark import timestamps as cts

        src = _active_online_source()
        if src is not None:
            # live-chain bisection (timestamps.rs:274-310); the
            # landed lake may not even exist online
            chunks = cts.parse_timestamp_inputs_online(timestamps, src)
        else:
            blocks_table = TRANSFORMS["blocks"](spark, fixtures_dir)
            chunks = cts.parse_timestamp_inputs(timestamps, blocks_table)
    elif blocks is None and get_spec(datatype).default_blocks == "latest":
        # point-lookup datasets default to the chain tip
        # (balances.rs:26-28); online tip = eth_blockNumber
        # (blocks.rs:131-146), offline tip = max landed block
        src = _active_online_source()
        if src is not None:
            chunks = [cplan.BlockChunk(numbers=(src.latest_block_number(),))]
        else:
            from pyspark.sql import functions as F

            name = resolve_name(datatype)
            tip = TRANSFORMS[name](spark, fixtures_dir).agg(
                F.max("block_number")
            ).first()[0]
            chunks = [cplan.BlockChunk(numbers=(int(tip),))] if tip is not None else []
    else:
        chunks = (
            _parse_blocks_resolving_latest(blocks, latest)
            if blocks is not None else []
        )
    q = cplan.Query(
        datatypes=[resolve_name(datatype)],
        chunks=chunks,
        dims={k: v for k, v in dims.items() if v is not None},
    )
    q.validate()
    _adopt_chunks_into_active_source(chunks)
    df = _base_frame(
        spark, datatype, chunks,
        columns=columns, include_columns=include_columns,
        exclude_columns=exclude_columns, hex=hex, u256_types=u256_types,
        exclude_failed=exclude_failed, event_signature=event_signature,
        fixtures_dir=fixtures_dir, dims=q.dims,
    )
    sort_cols = _resolve_sort(get_spec(datatype), sort, 1)
    if sort_cols:
        keys = [c for c in sort_cols if c in df.columns]
        unknown = [c for c in sort_cols if c not in df.columns and sort is not True]
        if unknown:
            raise ValueError(f"unknown sort columns: {unknown}")
        if keys:
            df = df.orderBy(*keys)
    if output_format == "spark":
        return df
    pdf = df.toPandas()  # Arrow path (session enables arrow.pyspark)
    if output_format == "pandas":
        return pdf
    if output_format == "polars":
        # the reference's native return type (_collect.py:72-74);
        # gated — polars is not part of this engine's pinned deps
        try:
            import polars as pl
        except ImportError as exc:  # pragma: no cover - env-dependent
            raise ImportError(
                "output_format='polars' needs the polars package"
            ) from exc
        return pl.from_pandas(pdf)
    if output_format == "list":
        return pdf.to_dict(orient="records")
    if output_format == "dict":
        return pdf.to_dict(orient="list")
    raise ValueError("output_format must be spark|polars|pandas|list|dict")


def freeze(
    spark: SparkSession,
    datatypes: str | list[str],
    *,
    output_dir: str,
    source=None,
    **kwargs,
) -> dict:
    """Freeze datasets to chunked files (see :func:`_freeze_impl`).
    ``source`` swaps the replay lake for a live OnlineSource, making
    this the reference's primary workflow — online extraction to
    sorted chunk files. When the source's work list holds each chunk
    in one partition and the dataset plan does not shuffle, each
    chunk's file is written by the task that fetched it (one Spark
    stage, no exchange); otherwise the write shuffles rows to one
    partition per chunk first (``summary["write_paths"]`` records
    which path each dataset took). Freeze is a
    terminal action, so the source's persisted fetch frames are
    released afterwards (collect() keeps them — its result is lazy)."""
    from cryo_spark.sources import use_source

    try:
        with use_source(source):
            return _freeze_impl(spark, datatypes, output_dir=output_dir, **kwargs)
    finally:
        if source is not None:
            source.unpersist()


def _freeze_impl(
    spark: SparkSession,
    datatypes: str | list[str],
    *,
    output_dir: str,
    blocks: str | int | list | None = None,
    chunk_size: int = cplan.DEFAULT_CHUNK_SIZE,
    n_chunks: int | None = None,
    align: bool = False,
    network: str = "ethereum",
    file_format: str = "parquet",
    file_suffix: str | None = None,
    subdirs: list[str] | None = None,
    overwrite: bool = False,
    hex: bool = False,
    columns: list[str] | None = None,
    include_columns: list[str] | None = None,
    exclude_columns: list[str] | None = None,
    u256_types: list[str] | None = None,
    exclude_failed: bool = False,
    event_signature: str | None = None,
    reorg_buffer: int = 0,
    chunk_order: str = "normal",
    latest: int | None = None,
    fixtures_dir: str | None = None,
    report: bool = True,
    partition_by: list[str] | None = None,
    timestamps: str | int | None = None,
    txs: list | str | None = None,
    sort: bool | list[str] | None = True,
    compression: str | None = None,
    row_group_size: int | None = None,
    n_row_groups: int | None = None,
    stats: bool = True,
    report_dir: str | None = None,
    max_concurrent_chunks: int = 4,
    **dims,
) -> dict:
    """Freeze datasets to chunked files (reference `cryo.freeze` /
    CLI): one file per chunk named
    `{network}__{datatype}__{stub}.{ext}`, skip-existing unless
    overwrite, JSON run report. Up to ``max_concurrent_chunks``
    datatypes freeze at once. Returns the summary dict
    (FreezeSummary — reports.rs:18-23)."""
    if isinstance(datatypes, str):
        datatypes = [datatypes]
    # CSV/JSON force hex rendering of binary (cli/parse/schemas.rs:37-40)
    hex = hex or file_format in ("csv", "json")
    tx_chunk = None
    if txs is not None:
        # transactions time dimension (queries.rs:75-80): one file per
        # hash chunk, stub = 0x-prefix range (binary_chunk.rs:16-24)
        tx_chunk = cplan.parse_tx_inputs(txs)
        dims = dict(dims)
        dims["transaction_hash"] = tx_chunk.values()
        # validate every requested dataset BEFORE adopting anything
        # into an active source (a rejected call must not degrade it)
        for dt in expand_datatypes(datatypes):
            _tx_dimension_check(dt)
    if tx_chunk is not None:
        # transactions time dimension: there are no block chunks to
        # resolve — skip chunk resolution AND postprocess entirely
        # (the default-blocks else branch would otherwise probe the
        # chain tip just to throw the answer away)
        chunks = []
    elif timestamps is not None:
        from cryo_spark import timestamps as cts

        src = _active_online_source()
        if src is not None:
            chunks = cts.parse_timestamp_inputs_online(timestamps, src)
        else:
            blocks_table = TRANSFORMS["blocks"](spark, fixtures_dir)
            chunks = cts.parse_timestamp_inputs(timestamps, blocks_table)
    elif blocks is not None:
        chunks = _parse_blocks_resolving_latest(blocks, latest)
    else:
        # no block spec: 0:latest (get_default_block_chunks,
        # blocks.rs:131-146) — online the tip comes from the node
        if latest is None:
            src = _active_online_source()
            if src is not None:
                latest = src.latest_block_number()
        chunks = [cplan.BlockChunk(start=0, end=(latest if latest is not None else 999))]
    if tx_chunk is None:
        # align -> subchunk -> reorg buffer, the reference's postprocess
        # order (blocks.rs:107-127): the buffer drops whole tip CHUNKS
        if align:
            chunks = [a for c in chunks if (a := cplan.align_chunk(c, chunk_size))]
        if n_chunks:
            chunks = cplan.subchunk_by_count(chunks, n_chunks)
        else:
            chunks = cplan.subchunk_by_size(chunks, chunk_size)
        if reorg_buffer:
            # the reference always resolves the chain tip for the buffer
            # (blocks.rs:368-374); online tip = eth_blockNumber, offline
            # tip = max landed block
            if latest is None:
                src = _active_online_source()
                if src is not None:
                    latest = src.latest_block_number()
                else:
                    from pyspark.sql import functions as F

                    latest = TRANSFORMS["blocks"](spark, fixtures_dir).agg(
                        F.max("block_number")
                    ).first()[0]
            chunks = cplan.apply_reorg_buffer(chunks, latest, reorg_buffer)
        chunks = cplan.order_chunks(chunks, chunk_order)

    q = cplan.Query(
        datatypes=expand_datatypes(datatypes),
        chunks=chunks,
        dims={k: v for k, v in dims.items() if v is not None},
    )
    q.validate()
    _adopt_chunks_into_active_source(chunks)
    if tx_chunk is not None:
        _adopt_tx_hashes_into_active_source(tx_chunk.values())

    # row-group sizing (cli/parse/file_output.rs:138-149): explicit
    # rows, else chunk_size split into n groups
    if row_group_size is None and n_row_groups:
        row_group_size = -(-chunk_size // n_row_groups)
    sink = cio.FileOutput(
        output_dir=output_dir, prefix=network, suffix=file_suffix,
        format=file_format, overwrite=overwrite, subdirs=subdirs or [],
        compression=compression, row_group_size=row_group_size, stats=stats,
    )
    summary: dict = {"completed_paths": [], "skipped_paths": [], "errored_paths": []}

    # write in place (no shuffle) only when the active OnlineSource's
    # work list holds each chunk in one partition AND the dataset's
    # plan keeps rows in their work-list partition; everything else
    # (offline lake scans, by-hash work lists, Window/groupBy
    # datasets, n_partitions that split chunks) takes the shuffle
    src = _active_online_source()
    chunk_local = src is not None and src.chunks_in_one_partition(chunks)

    def _freeze_one(datatype: str) -> dict:
        df = _base_frame(
            spark, datatype, chunks,
            columns=columns, include_columns=include_columns,
            exclude_columns=exclude_columns, hex=hex, u256_types=u256_types,
            exclude_failed=exclude_failed, event_signature=event_signature,
            fixtures_dir=fixtures_dir, dims=q.dims,
        )
        sort_cols = _resolve_sort(get_spec(datatype), sort, len(q.datatypes))
        write_chunks = [tx_chunk] if tx_chunk is not None else chunks
        label_expr = labels = None
        if partition_by:
            label_expr, labels = _partition_labels(
                df, get_spec(datatype), q.dims, partition_by
            )
        return cio.write_chunked(
            df, datatype, write_chunks, sink, sort=sort_cols is not None,
            sort_cols=sort_cols, label_expr=label_expr, labels=labels,
            in_place=chunk_local and cio.keeps_work_list_partitions(df),
        )

    # datatypes freeze CONCURRENTLY (reference: chunks run under a
    # max_concurrent_chunks semaphore, sources.rs:113): Spark job
    # submission is thread-safe and concurrent jobs share the
    # executors, overlapping one dataset's write/commit latency with
    # another's compute. Results merge in declaration order so
    # summaries stay deterministic.
    width = min(len(q.datatypes), max_concurrent_chunks)
    if width > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=width) as ex:
            results = list(ex.map(_freeze_one, q.datatypes))
    else:
        results = [_freeze_one(dt) for dt in q.datatypes]
    summary["write_paths"] = {}
    for dt, res in zip(q.datatypes, results):
        summary["completed_paths"] += res["completed_paths"]
        summary["skipped_paths"] += res["skipped_paths"]
        summary["n_rows"] = summary.get("n_rows", 0) + res.get("n_rows", 0)
        summary["write_paths"][dt] = "in_place" if res["in_place"] else "shuffle"
    summary["n_completed"] = len(summary["completed_paths"])
    summary["n_skipped"] = len(summary["skipped_paths"])
    # chunk stats fold for the run summary (A2, chunk_ops.rs:83-103)
    if chunks:
        summary["chunk_stats"] = {
            "n_chunks": len(chunks),
            "min_block": min(c.min_value() for c in chunks),
            "max_block": max(c.max_value() for c in chunks),
            "total_blocks": sum(c.size() for c in chunks),
        }
    if report:
        summary["report_path"] = cio.write_report(report_dir or output_dir, summary)
    return summary


def main(argv: list[str] | None = None) -> int:
    """CLI: `python -m cryo_spark <datatypes...> [-b BLOCKS] ...`."""
    p = argparse.ArgumentParser(
        prog="cryo_spark",
        description="PySpark-native chain-data extraction (cryo-equivalent surface)",
    )
    p.add_argument("datatypes", nargs="*")
    p.add_argument("-b", "--blocks", default=None)
    p.add_argument("-o", "--output-dir", default=".")
    p.add_argument("--chunk-size", type=int, default=cplan.DEFAULT_CHUNK_SIZE)
    p.add_argument("--n-chunks", type=int, default=None)
    p.add_argument("--align", action="store_true")
    p.add_argument("--network", default="ethereum")
    p.add_argument("--csv", action="store_true")
    p.add_argument("--json", action="store_true")
    p.add_argument("--hex", action="store_true")
    p.add_argument("--overwrite", action="store_true")
    p.add_argument("--columns", nargs="+", default=None)
    p.add_argument("-i", "--include-columns", nargs="+", default=None)
    p.add_argument("-e", "--exclude-columns", nargs="+", default=None)
    p.add_argument("--u256-types", nargs="+", default=None)
    p.add_argument("--exclude-failed", action="store_true")
    p.add_argument("--event-signature", dest="event_signature", default=None)
    p.add_argument("--txs", nargs="+", default=None)
    p.add_argument("--sort", nargs="+", default=None,
                   help="sort columns, or `none` to disable (default: dataset sort)")
    p.add_argument("--reorg-buffer", type=int, default=0)
    p.add_argument("--file-suffix", default=None)
    p.add_argument("--subdirs", nargs="+", default=None)
    p.add_argument("--contract", nargs="+", default=None)
    p.add_argument("--address", nargs="+", default=None)
    p.add_argument("--to-address", dest="to_address", nargs="+", default=None)
    p.add_argument("--from-address", dest="from_address", nargs="+", default=None)
    p.add_argument("--call-data", dest="call_data", nargs="+", default=None)
    p.add_argument("--function", nargs="+", default=None)
    p.add_argument("--inputs", nargs="+", default=None)
    p.add_argument("--slot", nargs="+", default=None)
    for i in range(4):
        p.add_argument(f"--topic{i}", dest=f"topic{i}", nargs="+", default=None)
    p.add_argument("--partition-by", nargs="+", default=None)
    p.add_argument("--timestamps", default=None)
    p.add_argument("--chunk-order", default="normal",
                   choices=["normal", "reverse", "random"])
    p.add_argument("--label", default=None,
                   help="filename suffix (reference --label; same as "
                        "--file-suffix)")
    p.add_argument("--no-report", action="store_true")
    p.add_argument("--report-dir", default=None)
    p.add_argument("--compression", default=None,
                   help="parquet codec: lz4|zstd|snappy|gzip|uncompressed")
    p.add_argument("--row-group-size", type=int, default=None,
                   help="rows per parquet row group (approximate; "
                        "byte-based flush underneath)")
    p.add_argument("--n-row-groups", type=int, default=None)
    p.add_argument("--no-stats", action="store_true")
    p.add_argument("--js-tracer", dest="js_tracer", default=None,
                   help="custom tracer source for javascript_traces "
                        "(executed by the node online; recorded in the "
                        "run report offline)")
    # RPC source config (cli/parse/source.rs). --rpc (or --online with
    # ETH_RPC_URL/MESC) switches extraction to the live fetch stages;
    # the default stays the replay lake (--offline forces it)
    p.add_argument("-r", "--rpc", default=None)
    p.add_argument("--online", action="store_true",
                   help="fetch over JSON-RPC (resolved via --rpc, MESC, "
                        "or ETH_RPC_URL) instead of the replay lake")
    p.add_argument("--offline", action="store_true",
                   help="force the replay lake even when --rpc is given")
    p.add_argument("--requests-per-second", type=float, default=None)
    p.add_argument("--max-retries", type=int, default=5)
    p.add_argument("--initial-backoff", type=float, default=0.5)
    p.add_argument("--max-concurrent-requests", type=int, default=100)
    p.add_argument("--max-concurrent-chunks", type=int, default=4)
    p.add_argument("--compute-units-per-second", type=int, default=None)
    p.add_argument("--inner-request-size", type=int, default=100)
    p.add_argument("--batch-size", type=int, default=1,
                   help="requests per JSON-RPC batch POST (1 disables; "
                        "typical nodes accept 100-1000)")
    p.add_argument("--verbose", action="store_true")
    p.add_argument("--remember", action="store_true",
                   help="save this command as the directory's default "
                        "(replayed when run without datatypes)")
    p.add_argument("--dry", action="store_true")
    argv = list(sys.argv[1:] if argv is None else argv)

    # corpus subcommand routing (the training-corpus pipeline surface,
    # checked before chain-extraction parsing so its flags never clash)
    if argv and argv[0] == "corpus":
        from cryo_spark import corpus_cli

        return corpus_cli.main(argv[1:])
    if argv and argv[0] == "langid-train":
        from cryo_spark import corpus_cli

        return corpus_cli.langid_train_main(argv[1:])

    args = p.parse_args(argv)

    # help subcommand routing (reference run.rs:76-90: `cryo help`,
    # `help syntax`, `help datasets`, `help <DATASET...>`) — checked
    # before anything else so `help` is never treated as a datatype
    if args.datatypes and args.datatypes[0] == "help":
        from cryo_spark import help as chelp

        rc = chelp.handle_help(args.datatypes[1:])
        if rc == 1:  # bare `help`: the general argparse usage
            p.print_help()
            rc = 0
        return rc
    # validate datatype names up front: a typo answers with a one-line
    # error + close-name suggestions, not a KeyError traceback
    if args.datatypes:
        try:
            expand_datatypes(args.datatypes)
        except schemas.UnknownDatasetError as exc:
            print(f"error: {exc}", file=sys.stderr)
            print("run `cryo_spark help datasets` to list available "
                  "datasets", file=sys.stderr)
            return 2

    # --remember / replay (reference crates/cli/src/remember.rs +
    # run.rs:14-26): one default command per output directory, loaded
    # only when datatypes are omitted; current args take precedence
    # over remembered ones
    from cryo_spark import remember as cremember

    if not args.datatypes:
        remembered = cremember.load_remembered_command(args.output_dir)
        base = p.parse_args(remembered["command"])
        defaults = vars(p.parse_args([]))
        merged = vars(base)
        for k, v in vars(args).items():
            if v != defaults[k]:
                merged[k] = v
        merged["remember"] = False
        args = argparse.Namespace(**merged)
        print("remembering previous command: cryo_spark "
              + " ".join(remembered["command"]))
    if args.remember:
        cremember.save_remembered_command(
            args.output_dir, [a for a in argv if a != "--remember"]
        )
        print("remembering this command for future use")

    fmt = "csv" if args.csv else "json" if args.json else "parquet"
    call_data = cplan.parse_call_datas(args.call_data, args.function, args.inputs)
    dims = {
        k: v for k, v in
        dict(contract=args.contract, address=args.address,
             to_address=args.to_address, from_address=args.from_address,
             call_data=call_data, slot=args.slot,
             **{f"topic{i}": getattr(args, f"topic{i}") for i in range(4)}).items()
        if v is not None
    }
    source = None
    go_online = (args.online or args.rpc is not None) and not args.offline
    if go_online or "ETH_RPC_URL" in __import__("os").environ:
        from cryo_spark.sources.rpc import RpcConfig

        rpc_cfg = RpcConfig.from_env(
            args.rpc,
            max_concurrent_requests=args.max_concurrent_requests,
            requests_per_second=args.requests_per_second,
            max_retries=args.max_retries,
            initial_backoff_s=args.initial_backoff,
            compute_units_per_second=args.compute_units_per_second,
            inner_request_size=args.inner_request_size,
            batch_size=args.batch_size,
        )
        if go_online:
            from cryo_spark.sources.online import OnlineSource

            source = OnlineSource(
                config=rpc_cfg,
                addresses=[_dim_bytes(a) for a in (args.address or [])] or None,
                slots=[_dim_bytes(s) for s in (args.slot or [])] or None,
                contracts=[_dim_bytes(c) for c in (args.contract or [])] or None,
                call_datas=[_dim_bytes(c) for c in (call_data or [])] or None,
                js_tracer=args.js_tracer,
            )
    if args.dry:
        # dry runs never start Spark: pure planner + path layout
        chunks = cplan.parse_block_inputs(args.blocks or "0:1000")
        chunks = cplan.subchunk_by_size(chunks, args.chunk_size)
        for d in expand_datatypes(args.datatypes):
            sink = cio.FileOutput(args.output_dir, prefix=args.network, format=fmt)
            for c in chunks:
                print(sink.path_for(d, c.stub()))
        return 0
    from cryo_spark.session import get_spark

    spark = get_spark()
    summary = freeze(
        spark, args.datatypes, output_dir=args.output_dir, blocks=args.blocks,
        chunk_size=args.chunk_size, n_chunks=args.n_chunks, align=args.align,
        network=args.network, file_format=fmt,
        file_suffix=args.file_suffix or args.label,
        subdirs=args.subdirs, overwrite=args.overwrite, hex=args.hex,
        columns=args.columns, include_columns=args.include_columns,
        exclude_columns=args.exclude_columns, u256_types=args.u256_types,
        exclude_failed=args.exclude_failed, reorg_buffer=args.reorg_buffer,
        event_signature=args.event_signature, txs=args.txs,
        sort=True if args.sort is None else args.sort,
        partition_by=args.partition_by, timestamps=args.timestamps,
        chunk_order=args.chunk_order, report=not args.no_report,
        report_dir=args.report_dir, compression=args.compression,
        row_group_size=args.row_group_size, n_row_groups=args.n_row_groups,
        stats=not args.no_stats, source=source,
        max_concurrent_chunks=args.max_concurrent_chunks,
        **dims,
    )
    print(f"completed: {summary['n_completed']}, skipped: {summary['n_skipped']}")
    if args.verbose:
        for path in summary["completed_paths"]:
            print(" ", path)
    return 0


if __name__ == "__main__":
    sys.exit(main())

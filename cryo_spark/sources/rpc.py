"""Online fetch stage: JSON-RPC over a planned work-list DataFrame.

Mirrors the reference source layer
(/root/reference/crates/freeze/src/types/sources.rs):
- provider + retry/backoff + rate limit + request semaphore
  (sources.rs:119-150, cli/parse/source.rs:14-71) → per-executor
  token bucket + bounded concurrency inside a ``mapInPandas`` stage,
- 40+ typed fetch methods (sources.rs:229-983) → request builders +
  response flatteners per dataset; the landed rows match the replay
  source's raw-table schemas exactly, so every downstream transform
  is identical online and offline.

The Spark scheduler replaces the reference's tokio chunk/request task
tree (C5): one work-list partition = one task; within a task the
fetcher batches rows, paces requests and keeps up to
``max_concurrent_requests`` of them in flight. That bound applies per
fetch task, the same scope as the token bucket: one task runs per
Python worker, so a ``local[N]`` run keeps up to
N x ``max_concurrent_requests`` requests in flight. The transport is
injectable and unit tests use a deterministic fake; the default
transport is stdlib urllib.
"""

from __future__ import annotations

import json
import threading
import time
from collections.abc import Callable, Iterator
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

Transport = Callable[[str, list], dict]


def _mesc_config() -> dict | None:
    """Load MESC config if enabled (the public MESC standard the
    reference resolves first — cli/parse/source.rs:74-88). Enabled
    when MESC_MODE/MESC_PATH/MESC_ENV is set and mode != DISABLED;
    MESC_ENV holds inline JSON, MESC_PATH (or mode PATH) a JSON file.
    Errors are non-fatal — resolution falls through to ETH_RPC_URL,
    matching the reference's eprintln-and-continue behavior."""
    import os

    mode = os.environ.get("MESC_MODE", "").upper()
    if mode == "DISABLED":
        return None
    try:
        if mode == "ENV" or (not mode and os.environ.get("MESC_ENV")):
            return json.loads(os.environ["MESC_ENV"])
        path = os.environ.get("MESC_PATH")
        if mode == "PATH" and not path:
            return None
        if path:
            with open(path) as f:
                return json.load(f)
    except Exception:
        return None
    return None


def _mesc_endpoint_url(config: dict, query: str | None) -> str | None:
    """Minimal get_endpoint_by_query / get_default_endpoint: an
    explicit query matches an endpoint NAME, then a chain id via
    network_defaults; no query resolves the profile default for
    "cryo" then the global default_endpoint."""
    endpoints = config.get("endpoints") or {}

    def url_of(name):
        ep = endpoints.get(name)
        return ep.get("url") if ep else None

    if query:
        if query in endpoints:
            return url_of(query)
        by_chain = (config.get("network_defaults") or {}).get(query)
        if by_chain:
            return url_of(by_chain)
        return None
    profile = (config.get("profiles") or {}).get("cryo") or {}
    return url_of(profile.get("default_endpoint")
                  or config.get("default_endpoint"))


def resolve_rpc_url(url: str | None = None) -> str:
    """RPC URL resolution (cli/parse/source.rs:72-108): MESC first
    (explicit arg as an endpoint/network query, else the default
    endpoint), then the explicit arg as a literal URL, then the
    ETH_RPC_URL env var, else an error. Bare host[:port] values get
    an http:// prefix."""
    import os

    mesc = _mesc_config()
    resolved = _mesc_endpoint_url(mesc, url) if mesc else None
    if resolved:
        url = resolved
    elif url is None:
        url = os.environ.get("ETH_RPC_URL")
    if not url:
        raise ValueError(
            "must provide an rpc url, set up MESC, or set ETH_RPC_URL"
        )
    if not url.startswith(("http", "ws")) and not url.endswith(".ipc"):
        url = "http://" + url
    return url


@dataclass(frozen=True)
class RpcConfig:
    """sources.rs:105-117 defaults; url via :func:`resolve_rpc_url`
    when constructed through :meth:`from_env`."""

    url: str = "http://localhost:8545"
    # requests (or batch POSTs) in flight per fetch task, the scope of
    # the token bucket below; a local[N] run keeps up to N x this many
    max_concurrent_requests: int = 100
    requests_per_second: float | None = None
    max_retries: int = 5
    initial_backoff_s: float = 0.5
    timeout_s: float = 30.0
    # CU-based retry throttle (RetryBackoffLayer's third arg,
    # cli/parse/source.rs:17-21): on failure, back off at least long
    # enough to re-earn one request's compute units
    compute_units_per_second: int | None = None
    compute_units_per_request: int = 100
    # blocks per ranged request (eth_getLogs), sources.rs:110
    inner_request_size: int = 100
    # requests per JSON-RPC batch POST (eth JSON-RPC batching): 1
    # disables batching; typical nodes accept 100-1000. Batching cuts
    # round-trips ~batch_size x for point-lookup-heavy extractions.
    batch_size: int = 1

    def __post_init__(self):
        if self.max_concurrent_requests < 1:
            raise ValueError("max_concurrent_requests must be at least 1")

    @classmethod
    def from_env(cls, url: str | None = None, **kwargs) -> "RpcConfig":
        return cls(url=resolve_rpc_url(url), **kwargs)


def http_transport(config: RpcConfig) -> Transport:  # pragma: no cover - needs network
    import urllib.request

    def _post(payload) -> dict | list:
        req = urllib.request.Request(
            config.url, data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=config.timeout_s) as resp:
            return json.loads(resp.read())

    def call(method: str, params: list) -> dict:
        out = _post({"jsonrpc": "2.0", "id": 1, "method": method, "params": params})
        if "error" in out:
            raise RuntimeError(f"rpc error: {out['error']}")
        return out["result"]

    def batch(reqs: list[tuple[str, list]]) -> list:
        """One POST carrying a JSON-RPC batch array; responses are
        matched by id (the spec allows servers to reorder)."""
        payload = [
            {"jsonrpc": "2.0", "id": i, "method": m, "params": p}
            for i, (m, p) in enumerate(reqs)
        ]
        by_id = {}
        for out in _post(payload):
            if "error" in out:
                raise RuntimeError(f"rpc error: {out['error']}")
            by_id[out["id"]] = out["result"]
        return [by_id[i] for i in range(len(reqs))]

    call.batch = batch  # type: ignore[attr-defined]
    return call


class _Pacer:
    """Token-bucket rate limiter + retry/backoff + bounded request
    concurrency (the per-executor analog of governor +
    RetryBackoffLayer + the request semaphore, cli/parse/source.rs:17-40,
    sources.rs:105-117)."""

    def __init__(self, config: RpcConfig):
        self.config = config
        self._next_ok = 0.0
        self._lock = threading.Lock()

    def call(self, transport: Transport, method: str, params: list,
             weight: int = 1) -> dict:
        cfg = self.config
        if cfg.requests_per_second:
            # reserve the slot under the lock, sleep outside it, so
            # concurrent callers queue in slot order
            with self._lock:
                now = time.monotonic()
                start = max(now, self._next_ok)
                self._next_ok = start + weight / cfg.requests_per_second
            if start > now:
                time.sleep(start - now)
        backoff = cfg.initial_backoff_s
        if cfg.compute_units_per_second:
            # RetryBackoffLayer semantics: a failed call waits at
            # least one request's worth of compute units
            backoff = max(
                backoff, cfg.compute_units_per_request / cfg.compute_units_per_second
            )
        for attempt in range(cfg.max_retries + 1):
            try:
                return transport(method, params)
            except Exception:
                if attempt == cfg.max_retries:
                    raise
                time.sleep(backoff)
                backoff *= 2
        raise AssertionError("unreachable")

    def call_many(self, transport: Transport, reqs: list[tuple[str, list]]) -> list:
        """Dispatch a request list, results in request order. A unit is
        one request, or one JSON-RPC batch POST of ``batch_size``
        requests when both the transport (``.batch``) and the config
        support it; up to ``max_concurrent_requests`` units are in
        flight, each with its own pacing and retry. A batch POST
        charges the token bucket for EVERY inner request it carries —
        CU-metered providers (most) meter per inner request, not per
        HTTP round-trip, so weighting by 1 would overrun the quota by
        up to batch_size x. A failed batch retries whole — nodes
        treat them atomically."""
        cfg = self.config
        batch = getattr(transport, "batch", None)
        if batch is None or cfg.batch_size <= 1:
            return self._dispatch([
                lambda m=m, p=p: self.call(transport, m, p) for m, p in reqs
            ])
        chunks = [reqs[i:i + cfg.batch_size] for i in range(0, len(reqs), cfg.batch_size)]
        results = self._dispatch([
            lambda c=c: self.call(lambda _m, _p: batch(c), "batch", [], weight=len(c))
            for c in chunks
        ])
        return [r for res in results for r in res]

    def _dispatch(self, units: list[Callable[[], object]]) -> list:
        """Run ``units`` with at most ``max_concurrent_requests`` in
        flight and return their results in order. The first unit to
        exhaust its retries fails the call: queued units are cancelled
        and the pool's threads are joined before the error propagates."""
        width = min(self.config.max_concurrent_requests, len(units))
        if width <= 1:
            return [u() for u in units]
        pool = ThreadPoolExecutor(max_workers=width)
        try:
            futures = [pool.submit(u) for u in units]
            wait(futures, return_when=FIRST_EXCEPTION)
        finally:
            # cancels only units still queued (none once all have run)
            # and joins the threads
            pool.shutdown(cancel_futures=True)
        # the pool starts units first-in first-out, so every failed
        # unit precedes every cancelled one: this raises a unit's error
        return [f.result() for f in futures]


def _hex_to_bytes(h: str | None) -> bytes | None:
    if h is None:
        return None
    h = h[2:] if h.startswith("0x") else h
    if len(h) % 2:
        h = "0" + h
    return bytes.fromhex(h)


def _hex_to_int(h: str | None) -> int | None:
    return None if h is None else int(h, 16)


BLOCK_RAW_SCHEMA = T.StructType(
    [
        T.StructField("block_number", T.IntegerType()),
        T.StructField("block_hash", T.BinaryType()),
        T.StructField("parent_hash", T.BinaryType()),
        T.StructField("author", T.BinaryType()),
        T.StructField("state_root", T.BinaryType()),
        T.StructField("transactions_root", T.BinaryType()),
        T.StructField("receipts_root", T.BinaryType()),
        T.StructField("uncles_hash", T.BinaryType()),
        T.StructField("mix_hash", T.BinaryType()),
        T.StructField("logs_bloom", T.BinaryType()),
        T.StructField("extra_data", T.BinaryType()),
        T.StructField("nonce", T.BinaryType()),
        T.StructField("timestamp", T.IntegerType()),
        T.StructField("gas_used", T.LongType()),
        T.StructField("gas_limit", T.LongType()),
        T.StructField("difficulty", T.LongType()),
        T.StructField("total_difficulty", T.BinaryType()),
        T.StructField("size", T.LongType()),
        T.StructField("base_fee_per_gas", T.LongType()),
        T.StructField("withdrawals_root", T.BinaryType()),
        T.StructField("chain_id", T.LongType()),
    ]
)


def _u256_word(h: str | None) -> bytes | None:
    return None if h is None else int(h, 16).to_bytes(32, "big")


def flatten_block(raw: dict, chain_id: int) -> dict:
    """eth_getBlockByNumber result → one raw-table row, full header
    surface (datasets/blocks.rs process_block flatten) — the landed
    row matches the replay fixture_blocks schema column for column."""
    return {
        "block_number": _hex_to_int(raw.get("number")),
        "block_hash": _hex_to_bytes(raw.get("hash")),
        "parent_hash": _hex_to_bytes(raw.get("parentHash")),
        "author": _hex_to_bytes(raw.get("miner")),
        "state_root": _hex_to_bytes(raw.get("stateRoot")),
        "transactions_root": _hex_to_bytes(raw.get("transactionsRoot")),
        "receipts_root": _hex_to_bytes(raw.get("receiptsRoot")),
        "uncles_hash": _hex_to_bytes(raw.get("sha3Uncles")),
        "mix_hash": _hex_to_bytes(raw.get("mixHash")),
        "logs_bloom": _hex_to_bytes(raw.get("logsBloom")),
        "extra_data": _hex_to_bytes(raw.get("extraData")),
        "nonce": _hex_to_bytes(raw.get("nonce")),
        "timestamp": _hex_to_int(raw.get("timestamp")),
        "gas_used": _hex_to_int(raw.get("gasUsed")),
        "gas_limit": _hex_to_int(raw.get("gasLimit")),
        "difficulty": _hex_to_int(raw.get("difficulty")),
        "total_difficulty": _u256_word(raw.get("totalDifficulty")),
        "size": _hex_to_int(raw.get("size")),
        "base_fee_per_gas": _hex_to_int(raw.get("baseFeePerGas")),
        "withdrawals_root": _hex_to_bytes(raw.get("withdrawalsRoot")),
        "chain_id": chain_id,
    }


def _fetch_stage(
    work_list: DataFrame,
    in_cols: list[str],
    schema: T.StructType,
    reqs_fn: Callable[..., list[tuple[str, list]]],
    assemble_fn: Callable[..., list[dict]],
    config: RpcConfig | None,
    transport_factory: Callable[[RpcConfig], Transport] | None,
    keys_fn: Callable[[pd.DataFrame, Callable[[list], list]], list[tuple]] | None = None,
) -> DataFrame:
    """The fetch scaffold every online family runs on: a
    ``mapInPandas`` stage over the work-list's ``in_cols``. Per batch,
    ``keys_fn(pdf, call_many)`` (default: the rows' ``in_cols``
    tuples) gives the fetch keys, and may send a lookup round of its
    own through ``call_many``; ``reqs_fn(*key)`` yields each key's
    (method, params) requests; all of the batch's requests dispatch
    through ONE ``_Pacer.call_many`` (bounded concurrency, JSON-RPC
    batching, pacing, retry); and ``assemble_fn(*key, results)``
    builds the key's raw-table rows from its result slice, in key
    order. One work-list partition = one task. ``transport_factory``
    is resolved on the EXECUTOR (it must be picklable); default is the
    stdlib HTTP transport."""
    cfg = config or RpcConfig()
    factory = transport_factory or http_transport
    cols = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        transport = factory(cfg)
        pacer = _Pacer(cfg)

        def call_many(reqs: list) -> list:
            return pacer.call_many(transport, reqs)

        for pdf in batches:
            keys = (
                keys_fn(pdf, call_many) if keys_fn
                else list(pdf[in_cols].itertuples(index=False))
            )
            per_key = [reqs_fn(*k) for k in keys]
            results = call_many([r for rs in per_key for r in rs])
            rows: list[dict] = []
            i = 0
            for k, rs in zip(keys, per_key):
                rows.extend(assemble_fn(*k, results[i:i + len(rs)]))
                i += len(rs)
            yield pd.DataFrame(rows, columns=cols)

    return work_list.select(*in_cols).mapInPandas(run, schema)


def fetch_blocks(
    spark: SparkSession,
    work_list: DataFrame,
    config: RpcConfig | None = None,
    transport_factory: Callable[[RpcConfig], Transport] | None = None,
    chain_id: int = 1,
) -> DataFrame:
    """Fetch block headers for every ``block_number`` in the work-list
    (one request per row, paced per executor). The result schema
    matches the replay raw table, so ``datasets.blocks.transform``
    applies unchanged."""
    return _fetch_stage(
        work_list, ["block_number"], BLOCK_RAW_SCHEMA,
        lambda n: [("eth_getBlockByNumber", [hex(n), False])],
        lambda n, results: [flatten_block(results[0], chain_id)],
        config, transport_factory,
    )


LOG_RAW_SCHEMA = T.StructType(
    [
        T.StructField("block_number", T.IntegerType()),
        T.StructField("transaction_index", T.IntegerType()),
        T.StructField("log_index", T.IntegerType()),
        T.StructField("transaction_hash", T.BinaryType()),
        T.StructField("block_hash", T.BinaryType()),
        T.StructField("address", T.BinaryType()),
        T.StructField("topic0", T.BinaryType()),
        T.StructField("topic1", T.BinaryType()),
        T.StructField("topic2", T.BinaryType()),
        T.StructField("topic3", T.BinaryType()),
        T.StructField("data", T.BinaryType()),
        T.StructField("chain_id", T.LongType()),
    ]
)


def flatten_log(raw: dict, chain_id: int) -> dict:
    """eth_getLogs entry → one raw-table row (logs.rs process_logs)."""
    topics = raw.get("topics") or []
    t = [_hex_to_bytes(x) for x in topics] + [None] * (4 - len(topics))
    return {
        "block_number": _hex_to_int(raw.get("blockNumber")),
        "transaction_index": _hex_to_int(raw.get("transactionIndex")),
        "log_index": _hex_to_int(raw.get("logIndex")),
        "transaction_hash": _hex_to_bytes(raw.get("transactionHash")),
        "block_hash": _hex_to_bytes(raw.get("blockHash")),
        "address": _hex_to_bytes(raw.get("address")),
        "topic0": t[0], "topic1": t[1], "topic2": t[2], "topic3": t[3],
        "data": _hex_to_bytes(raw.get("data")),
        "chain_id": chain_id,
    }


def fetch_logs(
    spark: SparkSession,
    work_list: DataFrame,
    config: RpcConfig | None = None,
    transport_factory: Callable[[RpcConfig], Transport] | None = None,
    chain_id: int = 1,
    address: bytes | None = None,
    topic0: bytes | None = None,
) -> DataFrame:
    """Ranged eth_getLogs fetch (C4/P4 online): each task folds its
    contiguous block slice into ceil(n / inner_request_size)-many
    ranged requests — the reference's `--inner-request-size` request
    re-splitting (number_chunk.rs:52-74) — and the address/topic0
    predicates are pushed into the RPC filter object
    (rpc_params.rs:99-131), so filtering happens node-side exactly as
    the landed-table path pushes them into the parquet scan."""
    flt_base: dict = {}
    if address is not None:
        flt_base["address"] = "0x" + address.hex()
    if topic0 is not None:
        flt_base["topics"] = ["0x" + topic0.hex()]
    size = (config or RpcConfig()).inner_request_size

    def ranges(pdf: pd.DataFrame, _call_many) -> list[tuple[int, int]]:
        """Longest contiguous runs of at most inner_request_size blocks."""
        out: list[tuple[int, int]] = []
        for n in sorted(int(b) for b in pdf["block_number"]):
            if out and n == out[-1][1] + 1 and n - out[-1][0] < size:
                out[-1] = (out[-1][0], n)
            else:
                out.append((n, n))
        return out

    def reqs(lo: int, hi: int) -> list[tuple[str, list]]:
        return [("eth_getLogs", [{**flt_base, "fromBlock": hex(lo), "toBlock": hex(hi)}])]

    def assemble(lo: int, hi: int, results: list) -> list[dict]:
        return [flatten_log(raw, chain_id) for raw in results[0]]

    return _fetch_stage(
        work_list, ["block_number"], LOG_RAW_SCHEMA, reqs, assemble,
        config, transport_factory, keys_fn=ranges,
    )


def fake_transport_factory(config: RpcConfig) -> Transport:
    """Deterministic fake node for offline tests (the reference tests
    its source layer against a mock IPC server the same way —
    cli/parse/blocks.rs:394-440): block n has timestamp
    1600000000+12n, gasUsed 21000*n, miner derived from n."""

    def call(method: str, params: list) -> dict:
        if method == "eth_getLogs":
            flt = params[0]
            lo, hi = int(flt["fromBlock"], 16), int(flt["toBlock"], 16)
            want_addr = flt.get("address")
            want_t0 = (flt.get("topics") or [None])[0]
            out = []
            for n in range(lo, hi + 1):
                # block n emits n%3 logs — but ONLY when it has
                # transactions to emit them from (the full fake models
                # n%4 txs per block, and a 0-tx block cannot log);
                # log k attaches to tx (k mod ntx), so every log's
                # transactionHash decodes to a transaction the per-tx
                # methods actually serve
                ntx = n % 4
                for k in range(n % 3 if ntx else 0):
                    addr = "0x" + ((n + k) % 7).to_bytes(1, "big").hex() * 20
                    t0 = "0x" + bytes([k]).hex() * 32
                    if want_addr is not None and addr != want_addr:
                        continue
                    if want_t0 is not None and t0 != want_t0:
                        continue
                    txi = k % ntx
                    out.append({
                        "blockNumber": hex(n),
                        "transactionIndex": hex(txi),
                        "logIndex": hex(k),
                        # same (block, index) hash encoding as the full
                        # fake's transactions
                        "transactionHash": "0x" + ((n * 1000 + txi).to_bytes(8, "big") * 4).hex(),
                        "blockHash": "0x" + (n.to_bytes(4, "big") * 8).hex(),
                        "address": addr,
                        "topics": [t0],
                        "data": "0x" + bytes([n % 256]).hex() * 32,
                    })
            return out
        if method == "eth_blockNumber":
            return hex(9999)  # fake chain tip
        if method != "eth_getBlockByNumber":
            raise ValueError(f"fake node does not serve {method}")
        n = int(params[0], 16)
        return {
            "number": hex(n),
            "hash": "0x" + (n.to_bytes(4, "big") * 8).hex(),
            "parentHash": "0x" + ((n - 1).to_bytes(4, "big", signed=True) * 8).hex(),
            "miner": "0x" + (n % 16).to_bytes(1, "big").hex() * 20,
            "stateRoot": "0x" + (n % 7).to_bytes(1, "big").hex() * 32,
            "transactionsRoot": "0x" + (n % 11).to_bytes(1, "big").hex() * 32,
            "receiptsRoot": "0x" + (n % 13).to_bytes(1, "big").hex() * 32,
            "sha3Uncles": "0x" + "1d" * 32,
            "mixHash": "0x" + (n % 5).to_bytes(1, "big").hex() * 32,
            "logsBloom": "0x" + "00" * 256,
            "nonce": "0x" + (n % 9).to_bytes(1, "big").hex() * 8,
            "difficulty": hex(0 if n >= 100 else 10**12 + n),
            "totalDifficulty": hex(10**15 + n),
            "size": hex(500 + 13 * (n % 97)),
            "withdrawalsRoot": ("0x" + (n % 3).to_bytes(1, "big").hex() * 32)
            if n >= 100 else None,
            "timestamp": hex(1_600_000_000 + 12 * n),
            "gasUsed": hex(21_000 * n),
            "gasLimit": hex(30_000_000),
            "baseFeePerGas": hex(10**9) if n >= 100 else None,
            "extraData": "0x",
        }

    return call


class RangeCappedFakeFactory:
    """fake_transport_factory wrapper enforcing eth_getLogs range
    discipline: every request's span must be <= cap blocks (tests the
    inner_request_size re-splitting executor-side)."""

    def __init__(self, cap: int):
        self.cap = cap

    def __call__(self, config: RpcConfig) -> Transport:
        inner = fake_transport_factory(config)

        def call(method: str, params: list):
            if method == "eth_getLogs":
                flt = params[0]
                span = int(flt["toBlock"], 16) - int(flt["fromBlock"], 16) + 1
                if span > self.cap:
                    raise AssertionError(f"range {span} exceeds cap {self.cap}")
            return inner(method, params)

        return call


class FlakyTransportFactory:
    """fake_transport_factory wrapper failing the first N calls per
    executor — exercises the retry/backoff path."""

    def __init__(self, fail_first: int):
        self.fail_first = fail_first

    def __call__(self, config: RpcConfig) -> Transport:
        inner = fake_transport_factory(config)
        state = {"n": 0}
        lock = threading.Lock()  # call_many dispatches concurrently

        def call(method: str, params: list) -> dict:
            with lock:
                state["n"] += 1
                n = state["n"]
            if n <= self.fail_first:
                raise ConnectionError("flaky")
            return inner(method, params)

        return call


def work_list_df(spark: SparkSession, chunks, n_partitions: int | None = None) -> DataFrame:
    """Block work-list DataFrame from planner chunks: the fetch
    stage's input, one ``block_number`` row per block.

    One narrow plan, no shuffle: ``spark.range`` over chunk indexes,
    one partition per chunk, exploded to block numbers through
    ``sequence`` over literal bound arrays (``element_at`` over literal
    lists for ``numbers`` chunks). Partition i holds chunk i's blocks
    in ascending order, so one fetch task = one chunk and the chunked
    write can run in that same task (``io.write_chunked`` in place).
    The plan size does not grow with the chunk count: the bounds are
    three array literals, not a union of one frame per chunk.

    ``n_partitions`` overrides the partition count. Fewer partitions
    than chunks keep whole chunks together (contiguous runs of chunk
    indexes per partition); more partitions split chunks and cost a
    ``repartitionByRange`` shuffle."""
    from pyspark.sql import functions as F

    def arr(items) -> str:
        return f"array({', '.join(map(str, items))})"

    n = len(chunks)
    i = "CAST(id AS INT) + 1"
    blocks = (
        f"sequence(element_at({arr(c.start if c.is_range else 0 for c in chunks)}, {i}), "
        f"element_at({arr(c.end if c.is_range else 0 for c in chunks)}, {i}))"
    )
    if not all(c.is_range for c in chunks):
        nums = arr("NULL" if c.is_range else arr(sorted(map(int, c.numbers))) for c in chunks)
        blocks = f"coalesce(element_at({nums}, {i}), {blocks})"
    parts = min(n_partitions or n, n)
    out = spark.range(0, n, 1, parts).select(
        F.explode(F.expr(blocks).cast("array<int>")).alias("block_number")
    )
    if n_partitions and n_partitions > n:
        out = out.repartitionByRange(n_partitions, "block_number")
    return out

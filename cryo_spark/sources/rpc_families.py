"""Online fetchers for every dataset family beyond blocks/logs.

Mirrors the reference's typed fetch surface
(/root/reference/crates/freeze/src/types/sources.rs:229-983):

- transactions: get_block(full) + get_block_receipts
  (sources.rs:345,368; receipt fetch is elidable like
  datasets/transactions.rs:124-135 schema-driven cost elision)
- traces: trace_block (sources.rs:377)
- state diffs: trace_replayBlockTransactions(stateDiff)
  (sources.rs:247)
- state reads: debug_traceBlockByNumber prestateTracer
  (sources.rs:677 geth_debug_trace_block_prestate)
- geth call frames: debug_traceBlockByNumber callTracer
  (sources.rs:715)
- opcodes: debug_traceBlockByNumber structLogs (sources.rs:604)
- js tracer passthrough: debug_traceBlockByNumber {tracer: <js>}
  (sources.rs:569)
- point lookups: eth_getBalance / eth_getTransactionCount /
  eth_getCode (sources.rs:421-443), eth_getStorageAt
  (sources.rs:445), eth_call (sources.rs:395), trace_call
  (sources.rs:405)

Every fetcher is the same Spark shape as ``rpc.fetch_logs``: a
work-list DataFrame (one row per block, or per point-lookup tuple)
feeds a ``mapInPandas`` stage (``rpc._fetch_stage``) whose tasks
dispatch all their requests through one ``rpc._Pacer.call_many``
(bounded concurrency, batching, pacing, retry); landed rows match
the replay raw-table schemas exactly (cryo_spark.fixtures), so every
dataset transform applies unchanged online and offline. At cluster
scale the work-list's partitioning IS the fetch parallelism —
contiguous block ranges per task, no driver-side loop — and
``max_concurrent_requests`` is the request concurrency within a task.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from cryo_spark.sources.rpc import (
    LOG_RAW_SCHEMA,
    RpcConfig,
    Transport,
    _hex_to_bytes,
    _hex_to_int,
    _fetch_stage,
    fake_transport_factory,
    flatten_log,
)


def _u256_bytes(h) -> bytes | None:
    """hex quantity/word -> canonical 32-byte big-endian u256."""
    if h is None:
        return None
    if isinstance(h, int):
        return h.to_bytes(32, "big")
    return int(h, 16).to_bytes(32, "big")


def _schema(spec: str) -> T.StructType:
    kinds = {
        "int": T.IntegerType(), "long": T.LongType(), "bin": T.BinaryType(),
        "str": T.StringType(), "bool": T.BooleanType(),
    }
    fields = []
    for part in spec.split():
        name, kind = part.rsplit(":", 1)
        fields.append(T.StructField(name, kinds[kind]))
    return T.StructType(fields)


TX_RAW_SCHEMA = _schema(
    "block_number:int transaction_index:int transaction_hash:bin nonce:long "
    "from_address:bin to_address:bin value:bin input:bin gas_limit:long "
    "gas_used:long gas_price:long max_fee_per_gas:long "
    "max_priority_fee_per_gas:long transaction_type:int success:bool "
    "block_hash:bin timestamp:int r:bin s:bin v:bool chain_id:long"
)

TRACE_RAW_SCHEMA = _schema(
    "block_number:int block_hash:bin transaction_index:int "
    "transaction_hash:bin trace_address:str subtraces:int action_type:str "
    "action_from:bin action_to:bin action_value:bin action_gas:long "
    "result_gas_used:long action_input:bin action_init:bin result_output:bin "
    "result_code:bin action_call_type:str action_reward_type:str "
    "result_address:bin error:str chain_id:long"
)

STATE_DIFF_RAW_SCHEMA = _schema(
    "block_number:int transaction_index:int transaction_hash:bin address:bin "
    "kind:str slot:bin from_value:bin to_value:bin chain_id:long"
)

STATE_READ_RAW_SCHEMA = _schema(
    "block_number:int transaction_index:int transaction_hash:bin address:bin "
    "kind:str slot:bin value:bin chain_id:long"
)

ACCOUNT_RAW_SCHEMA = _schema(
    "block_number:int address:bin balance:bin nonce:long code:bin "
    "chain_id:long"
)

STORAGE_RAW_SCHEMA = _schema(
    "block_number:int address:bin slot:bin value:bin chain_id:long"
)

CALL_RAW_SCHEMA = _schema(
    "block_number:int contract:bin call_data:bin output:bin chain_id:long"
)

TRACE_CALL_RAW_SCHEMA = _schema(
    "block_number:int transaction_index:int action_from:bin action_to:bin "
    "action_value:bin action_gas:int action_input:bin action_call_type:str "
    "action_init:bin action_reward_type:str action_type:str "
    "result_gas_used:int result_output:bin result_code:bin "
    "result_address:bin trace_address:str subtraces:int error:str "
    "tx_to_address:bin tx_call_data:bin chain_id:long"
)

JS_TRACE_RAW_SCHEMA = _schema(
    "block_number:int transaction_index:int transaction_hash:bin output:str "
    "chain_id:long"
)

OPCODE_RAW_SCHEMA = _schema(
    "block_number:int transaction_index:int transaction_hash:bin "
    "trace_address:str depth:long step:int pc:long op:str gas:long "
    "gas_cost:long used:long refund_counter:long error:str memory:str "
    "stack:str storage:str return_data:bin push:bin mem_off:int mem_data:bin "
    "storage_key:bin storage_val:bin chain_id:long"
)


# ---------------------------------------------------------------------------
# flatteners: JSON-RPC response -> raw-table rows
# ---------------------------------------------------------------------------


def flatten_transactions(block: dict, receipts: list | None, chain_id: int) -> list[dict]:
    """Full block + (optional) receipts -> transaction raw rows.
    Receipt-derived columns (gas_used/success/effective gas price)
    are NULL when receipts were elided — the schema-driven cost
    elision of datasets/transactions.rs:124-135."""
    by_hash = {}
    for rc in receipts or []:
        by_hash[rc.get("transactionHash")] = rc
    ts = _hex_to_int(block.get("timestamp"))
    rows = []
    for tx in block.get("transactions") or []:
        rc = by_hash.get(tx.get("hash"))
        gas_price = _hex_to_int(tx.get("gasPrice"))
        if rc is not None and rc.get("effectiveGasPrice") is not None:
            gas_price = _hex_to_int(rc["effectiveGasPrice"])
        status = None if rc is None else _hex_to_int(rc.get("status"))
        v = _hex_to_int(tx.get("v"))
        rows.append({
            "block_number": _hex_to_int(tx.get("blockNumber")),
            "transaction_index": _hex_to_int(tx.get("transactionIndex")),
            "transaction_hash": _hex_to_bytes(tx.get("hash")),
            "nonce": _hex_to_int(tx.get("nonce")),
            "from_address": _hex_to_bytes(tx.get("from")),
            "to_address": _hex_to_bytes(tx.get("to")),
            "value": _u256_bytes(tx.get("value")),
            "input": _hex_to_bytes(tx.get("input")),
            "gas_limit": _hex_to_int(tx.get("gas")),
            "gas_used": None if rc is None else _hex_to_int(rc.get("gasUsed")),
            "gas_price": gas_price,
            "max_fee_per_gas": _hex_to_int(tx.get("maxFeePerGas")),
            "max_priority_fee_per_gas": _hex_to_int(tx.get("maxPriorityFeePerGas")),
            "transaction_type": _hex_to_int(tx.get("type")) or 0,
            "success": None if status is None else status == 1,
            "block_hash": _hex_to_bytes(tx.get("blockHash")),
            "timestamp": ts,
            "r": _hex_to_bytes(tx.get("r")),
            "s": _hex_to_bytes(tx.get("s")),
            "v": None if v is None else bool(v % 2),
            "chain_id": chain_id,
        })
    return rows


def flatten_trace(t: dict, chain_id: int) -> dict:
    """One trace_block entry -> traces raw row (traceAddress ints
    join with '_', the reference's trace_address rendering)."""
    action = t.get("action") or {}
    result = t.get("result") or {}
    return {
        "block_number": _hex_to_int(t.get("blockNumber")) if isinstance(t.get("blockNumber"), str) else t.get("blockNumber"),
        "block_hash": _hex_to_bytes(t.get("blockHash")),
        "transaction_index": t.get("transactionPosition"),
        "transaction_hash": _hex_to_bytes(t.get("transactionHash")),
        "trace_address": "_".join(str(i) for i in t.get("traceAddress") or []),
        "subtraces": t.get("subtraces") or 0,
        "action_type": t.get("type"),
        "action_from": _hex_to_bytes(action.get("from") or action.get("author")),
        "action_to": _hex_to_bytes(action.get("to") or action.get("address")),
        "action_value": _u256_bytes(action.get("value")),
        "action_gas": _hex_to_int(action.get("gas")),
        "result_gas_used": _hex_to_int(result.get("gasUsed")),
        "action_input": _hex_to_bytes(action.get("input")),
        "action_init": _hex_to_bytes(action.get("init")),
        "result_output": _hex_to_bytes(result.get("output")),
        "result_code": _hex_to_bytes(result.get("code")),
        "action_call_type": action.get("callType"),
        "action_reward_type": action.get("rewardType"),
        "result_address": _hex_to_bytes(result.get("address")),
        "error": t.get("error"),
        "chain_id": chain_id,
    }


_DIFF_KINDS = ("balance", "nonce", "code", "storage")


def _diff_sides(change):
    """trace stateDiff change -> (from, to) hex-or-None pair.
    Forms: "=" unchanged, {"+": v} created, {"-": v} deleted,
    {"*": {"from": f, "to": t}} modified."""
    if change == "=" or change is None:
        return None
    if "+" in change:
        return (None, change["+"])
    if "-" in change:
        return (change["-"], None)
    star = change["*"]
    return (star.get("from"), star.get("to"))


def flatten_state_diffs(replay: dict, block_number: int, txi: int, chain_id: int) -> list[dict]:
    """One trace_replayBlockTransactions stateDiff entry -> rows."""
    txh = _hex_to_bytes(replay.get("transactionHash"))
    rows = []
    for addr, diff in (replay.get("stateDiff") or {}).items():
        address = _hex_to_bytes(addr)
        for kind in ("balance", "nonce"):
            sides = _diff_sides(diff.get(kind))
            if sides is None:
                continue
            rows.append({
                "block_number": block_number, "transaction_index": txi,
                "transaction_hash": txh, "address": address, "kind": kind,
                "slot": None, "from_value": _u256_bytes(sides[0]),
                "to_value": _u256_bytes(sides[1]), "chain_id": chain_id,
            })
        sides = _diff_sides(diff.get("code"))
        if sides is not None:
            rows.append({
                "block_number": block_number, "transaction_index": txi,
                "transaction_hash": txh, "address": address, "kind": "code",
                "slot": None, "from_value": _hex_to_bytes(sides[0]),
                "to_value": _hex_to_bytes(sides[1]), "chain_id": chain_id,
            })
        for slot, change in (diff.get("storage") or {}).items():
            sides = _diff_sides(change)
            if sides is None:
                continue
            rows.append({
                "block_number": block_number, "transaction_index": txi,
                "transaction_hash": txh, "address": address, "kind": "storage",
                "slot": _hex_to_bytes(slot), "from_value": _u256_bytes(sides[0]),
                "to_value": _u256_bytes(sides[1]), "chain_id": chain_id,
            })
    return rows


def flatten_state_reads(prestate: dict, block_number: int, txi: int, txh, chain_id: int) -> list[dict]:
    """prestateTracer result -> state-read rows (the pre-image every
    touched account/slot was read at)."""
    rows = []
    for addr, acct in (prestate or {}).items():
        address = _hex_to_bytes(addr)
        base = {
            "block_number": block_number, "transaction_index": txi,
            "transaction_hash": txh, "address": address, "chain_id": chain_id,
        }
        if "balance" in acct:
            rows.append({**base, "kind": "balance", "slot": None,
                         "value": _u256_bytes(acct["balance"])})
        if "nonce" in acct:
            rows.append({**base, "kind": "nonce", "slot": None,
                         "value": _u256_bytes(acct["nonce"])})
        if "code" in acct:
            rows.append({**base, "kind": "code", "slot": None,
                         "value": _hex_to_bytes(acct["code"])})
        for slot, val in (acct.get("storage") or {}).items():
            rows.append({**base, "kind": "storage",
                         "slot": _hex_to_bytes(slot), "value": _u256_bytes(val)})
    return rows


def flatten_call_frames(frame: dict, block_number: int, txi: int, txh, chain_id: int, trace_address: list | None = None) -> list[dict]:
    """callTracer frame tree -> traces-shaped rows (depth-first,
    trace_address from the recursion path)."""
    ta = trace_address or []
    row = {
        "block_number": block_number, "block_hash": None,
        "transaction_index": txi, "transaction_hash": txh,
        "trace_address": "_".join(str(i) for i in ta),
        "subtraces": len(frame.get("calls") or []),
        "action_type": (frame.get("type") or "CALL").lower(),
        "action_from": _hex_to_bytes(frame.get("from")),
        "action_to": _hex_to_bytes(frame.get("to")),
        "action_value": _u256_bytes(frame.get("value") or "0x0"),
        "action_gas": _hex_to_int(frame.get("gas")),
        "result_gas_used": _hex_to_int(frame.get("gasUsed")),
        "action_input": _hex_to_bytes(frame.get("input")),
        "action_init": None, "result_output": _hex_to_bytes(frame.get("output")),
        "result_code": None, "action_call_type": (frame.get("type") or "call").lower(),
        "action_reward_type": None, "result_address": None,
        "error": frame.get("error"), "chain_id": chain_id,
    }
    rows = [row]
    for i, child in enumerate(frame.get("calls") or []):
        rows.extend(flatten_call_frames(child, block_number, txi, txh, chain_id, ta + [i]))
    return rows


def flatten_opcodes(trace: dict, block_number: int, txi: int, txh, chain_id: int) -> list[dict]:
    """structLog steps -> opcode raw rows."""
    rows = []
    for step, lg in enumerate(trace.get("structLogs") or []):
        rows.append({
            "block_number": block_number, "transaction_index": txi,
            "transaction_hash": txh, "trace_address": "",
            "depth": lg.get("depth"), "step": step, "pc": lg.get("pc"),
            "op": lg.get("op"), "gas": lg.get("gas"),
            "gas_cost": lg.get("gasCost"), "used": lg.get("gasUsed"),
            "refund_counter": lg.get("refund"), "error": lg.get("error"),
            "memory": json.dumps(lg["memory"]) if lg.get("memory") else None,
            "stack": json.dumps(lg["stack"]) if lg.get("stack") else None,
            "storage": json.dumps(lg["storage"]) if lg.get("storage") else None,
            "return_data": None, "push": None, "mem_off": None,
            "mem_data": None, "storage_key": None, "storage_val": None,
            "chain_id": chain_id,
        })
    return rows


# ---------------------------------------------------------------------------
# fetch stages
# ---------------------------------------------------------------------------


def fetch_transactions(
    spark, work_list: DataFrame,
    config: RpcConfig | None = None, transport_factory=None,
    chain_id: int = 1, include_receipts: bool = True,
) -> DataFrame:
    """get_block(full txs) + get_block_receipts per block
    (sources.rs:345,368). Pass ``include_receipts=False`` when the
    selected schema needs no receipt column — halves the request
    count (transactions.rs:124-135)."""
    def reqs(n):
        out = [("eth_getBlockByNumber", [hex(n), True])]
        if include_receipts:
            out.append(("eth_getBlockReceipts", [hex(n)]))
        return out

    def assemble(n, results):
        receipts = results[1] if include_receipts else None
        return flatten_transactions(results[0], receipts, chain_id)

    return _fetch_stage(
        work_list, ["block_number"], TX_RAW_SCHEMA, reqs, assemble,
        config, transport_factory,
    )


def _lookup_txs(call_many, hashes: list[str]) -> list[dict]:
    """Batched eth_getTransactionByHash round for by-hash families
    whose rows need the landed (block_number, transaction_index)
    context; an unknown or pending hash fails loudly."""
    txs = call_many([("eth_getTransactionByHash", [h]) for h in hashes])
    for h, tx in zip(hashes, txs):
        if tx is None:  # transactions.rs:170 "transaction not found"
            raise ValueError(f"transaction not found: {h}")
        if tx.get("blockNumber") is None:
            # pending/mempool tx (transactions.rs:179 "no block number
            # for tx") — never land a context-less row
            raise ValueError(f"no block number for tx: {h}")
    return txs


def _hashes(pdf: pd.DataFrame) -> list[str]:
    return ["0x" + bytes(h).hex() for h in pdf["transaction_hash"]]


def fetch_transactions_by_hash(
    spark, work_list: DataFrame,
    config: RpcConfig | None = None, transport_factory=None,
    chain_id: int = 1, include_receipts: bool = True,
) -> DataFrame:
    """Per-hash transaction fetch — the reference's
    CollectByTransaction path (collect_by_transaction.rs:11-67;
    datasets/transactions.rs:161-189): eth_getTransactionByHash, an
    elidable eth_getTransactionReceipt (only when a receipt-borne
    column is selected, transactions.rs:171-175), and the landed
    block header for the timestamp context.

    Work-list = one row per ``transaction_hash`` (binary). Requests
    dispatch through ``_Pacer.call_many`` so they batch into JSON-RPC
    batch POSTs — the round-trip win matters here because a by-hash
    extraction is all point lookups. The reference fetches the block
    once per TX; here each task fetches each distinct block ONCE for
    its whole hash slice (same results, fewer requests). Rows land in
    TX_RAW_SCHEMA via the same flattener as the per-block path, so
    schema and gas-price semantics (receipt effectiveGasPrice first)
    are identical by construction."""
    def keys(pdf, call_many):
        hashes = _hashes(pdf)
        txs = _lookup_txs(call_many, hashes)
        bns = sorted({_hex_to_int(t["blockNumber"]) for t in txs})
        headers = dict(zip(bns, call_many(
            [("eth_getBlockByNumber", [hex(n), False]) for n in bns]
        )))
        return [
            (h, tx, headers[_hex_to_int(tx["blockNumber"])])
            for h, tx in zip(hashes, txs)
        ]

    def reqs(h, _tx, _header):
        return [("eth_getTransactionReceipt", [h])] if include_receipts else []

    def assemble(h, tx, header, results):
        if include_receipts and results[0] is None:
            # the tx was served mined above, so a null receipt is
            # provider lag / pruning — fail clearly, never an
            # AttributeError in the flattener
            raise ValueError(f"receipt not found for mined tx: {h}")
        return flatten_transactions(
            {**header, "transactions": [tx]},
            results if include_receipts else None, chain_id,
        )

    return _fetch_stage(
        work_list, ["transaction_hash"], TX_RAW_SCHEMA, reqs, assemble,
        config, transport_factory, keys_fn=keys,
    )


def _by_hash_fetcher(
    work_list: DataFrame,
    schema: T.StructType,
    reqs_fn,
    assemble_fn,
    config: RpcConfig | None,
    transport_factory,
    need_tx: bool = False,
):
    """Per-hash scaffold (CollectByTransaction,
    collect_by_transaction.rs:11-67): the work-list is one row per
    ``transaction_hash``; ``reqs_fn(hash_hex)`` yields the family's
    requests and ``assemble_fn(hash_hex, tx, results)`` builds raw
    rows from its slice. ``need_tx`` prefixes a (batched)
    eth_getTransactionByHash round for families whose raw rows need
    the landed (block_number, transaction_index) context the per-tx
    RPC response omits. All requests ride ``call_many`` — by-hash
    extraction is point-lookup-heavy, so JSON-RPC batching is the
    round-trip win."""
    def keys(pdf, call_many):
        hashes = _hashes(pdf)
        txs = _lookup_txs(call_many, hashes) if need_tx else [None] * len(hashes)
        return list(zip(hashes, txs))

    return _fetch_stage(
        work_list, ["transaction_hash"], schema,
        lambda h, _tx: reqs_fn(h), assemble_fn, config, transport_factory,
        keys_fn=keys,
    )


def fetch_logs_by_hash(
    spark, work_list: DataFrame,
    config: RpcConfig | None = None, transport_factory=None, chain_id: int = 1,
) -> DataFrame:
    """Logs by transaction hash via the receipt's log list
    (logs.rs:82-93 get_transaction_logs)."""
    def reqs(h):
        return [("eth_getTransactionReceipt", [h])]

    def assemble(h, _tx, results):
        rc = results[0]
        if rc is None:
            # nodes return null for unknown AND pending hashes alike
            raise ValueError(f"transaction not found or pending: {h}")
        return [flatten_log(raw, chain_id) for raw in rc.get("logs") or []]

    return _by_hash_fetcher(
        work_list, LOG_RAW_SCHEMA, reqs, assemble, config, transport_factory
    )


def fetch_traces_by_hash(
    spark, work_list: DataFrame,
    config: RpcConfig | None = None, transport_factory=None, chain_id: int = 1,
) -> DataFrame:
    """trace_transaction per hash (traces.rs:62-75)."""
    def reqs(h):
        return [("trace_transaction", [h])]

    def assemble(h, _tx, results):
        if results[0] is None:
            raise ValueError(f"transaction not found: {h}")
        return [flatten_trace(t, chain_id) for t in results[0]]

    return _by_hash_fetcher(
        work_list, TRACE_RAW_SCHEMA, reqs, assemble, config, transport_factory
    )


def fetch_state_diffs_by_hash(
    spark, work_list: DataFrame,
    config: RpcConfig | None = None, transport_factory=None, chain_id: int = 1,
) -> DataFrame:
    """trace_replayTransaction(stateDiff) per hash
    (sources.rs:295-311; balance_diffs.rs:47-58 shape). The
    (block_number, transaction_index) context comes from the batched
    tx-lookup phase — the replay response does not carry it."""
    def reqs(h):
        return [("trace_replayTransaction", [h, ["stateDiff"]])]

    def assemble(h, tx, results):
        replay = dict(results[0] or {})
        replay.setdefault("transactionHash", h)
        return flatten_state_diffs(
            replay, _hex_to_int(tx["blockNumber"]),
            _hex_to_int(tx["transactionIndex"]), chain_id,
        )

    return _by_hash_fetcher(
        work_list, STATE_DIFF_RAW_SCHEMA, reqs, assemble, config,
        transport_factory, need_tx=True,
    )


def _debug_by_hash(work_list, schema, tracer_opts, assemble_result,
                   config, transport_factory):
    """Shared debug_traceTransaction shape (sources.rs:806-899):
    per-tx geth tracer + the batched tx-lookup phase for landed
    context."""
    def reqs(h):
        return [("debug_traceTransaction", [h, tracer_opts])]

    def assemble(h, tx, results):
        return assemble_result(
            results[0], _hex_to_int(tx["blockNumber"]),
            _hex_to_int(tx["transactionIndex"]), _hex_to_bytes(h),
        )

    return _by_hash_fetcher(
        work_list, schema, reqs, assemble, config, transport_factory,
        need_tx=True,
    )


def fetch_state_reads_by_hash(
    spark, work_list: DataFrame,
    config: RpcConfig | None = None, transport_factory=None, chain_id: int = 1,
) -> DataFrame:
    """debug_traceTransaction(prestateTracer) per hash
    (sources.rs:806-838 prestate shape)."""
    return _debug_by_hash(
        work_list, STATE_READ_RAW_SCHEMA, {"tracer": "prestateTracer"},
        lambda res, bn, txi, txh: flatten_state_reads(res, bn, txi, txh, chain_id),
        config, transport_factory,
    )


def fetch_geth_calls_by_hash(
    spark, work_list: DataFrame,
    config: RpcConfig | None = None, transport_factory=None, chain_id: int = 1,
) -> DataFrame:
    """debug_traceTransaction(callTracer) per hash."""
    return _debug_by_hash(
        work_list, TRACE_RAW_SCHEMA, {"tracer": "callTracer"},
        lambda res, bn, txi, txh: flatten_call_frames(res or {}, bn, txi, txh, chain_id),
        config, transport_factory,
    )


def fetch_opcodes_by_hash(
    spark, work_list: DataFrame,
    config: RpcConfig | None = None, transport_factory=None, chain_id: int = 1,
) -> DataFrame:
    """debug_traceTransaction(structLogs) per hash
    (sources.rs:863-882)."""
    return _debug_by_hash(
        work_list, OPCODE_RAW_SCHEMA, {},
        lambda res, bn, txi, txh: flatten_opcodes(res or {}, bn, txi, txh, chain_id),
        config, transport_factory,
    )


def fetch_js_traces_by_hash(
    spark, work_list: DataFrame, tracer_js: str,
    config: RpcConfig | None = None, transport_factory=None, chain_id: int = 1,
) -> DataFrame:
    """debug_traceTransaction({tracer: <user js>}) per hash
    (sources.rs:840-861)."""
    return _debug_by_hash(
        work_list, JS_TRACE_RAW_SCHEMA, {"tracer": tracer_js},
        lambda res, bn, txi, txh: [{
            "block_number": bn, "transaction_index": txi,
            "transaction_hash": txh,
            "output": json.dumps(res, sort_keys=True),
            "chain_id": chain_id,
        }],
        config, transport_factory,
    )


def fetch_traces(
    spark, work_list: DataFrame,
    config: RpcConfig | None = None, transport_factory=None, chain_id: int = 1,
) -> DataFrame:
    """trace_block per block (sources.rs:377)."""
    return _fetch_stage(
        work_list, ["block_number"], TRACE_RAW_SCHEMA,
        lambda n: [("trace_block", [hex(n)])],
        lambda n, results: [flatten_trace(t, chain_id) for t in results[0]],
        config, transport_factory,
    )


def fetch_state_diffs(
    spark, work_list: DataFrame,
    config: RpcConfig | None = None, transport_factory=None, chain_id: int = 1,
) -> DataFrame:
    """trace_replayBlockTransactions(stateDiff) per block
    (sources.rs:247)."""
    def assemble(n, results):
        rows: list[dict] = []
        for txi, replay in enumerate(results[0]):
            rows.extend(flatten_state_diffs(replay, n, txi, chain_id))
        return rows

    return _fetch_stage(
        work_list, ["block_number"], STATE_DIFF_RAW_SCHEMA,
        lambda n: [("trace_replayBlockTransactions", [hex(n), ["stateDiff"]])],
        assemble, config, transport_factory,
    )


def _debug_per_block(work_list, schema, tracer_opts, assemble_result,
                     config, transport_factory):
    """Shared debug_traceBlockByNumber shape (sources.rs:569-715): one
    geth tracer call per block, ``assemble_result(result, block_number,
    transaction_index, transaction_hash)`` per traced transaction."""
    def assemble(n, results):
        rows: list[dict] = []
        for txi, entry in enumerate(results[0]):
            rows.extend(assemble_result(
                entry.get("result"), n, txi, _hex_to_bytes(entry.get("txHash")),
            ))
        return rows

    return _fetch_stage(
        work_list, ["block_number"], schema,
        lambda n: [("debug_traceBlockByNumber", [hex(n), tracer_opts])],
        assemble, config, transport_factory,
    )


def fetch_state_reads(
    spark, work_list: DataFrame,
    config: RpcConfig | None = None, transport_factory=None, chain_id: int = 1,
) -> DataFrame:
    """debug_traceBlockByNumber(prestateTracer) per block
    (sources.rs:677)."""
    return _debug_per_block(
        work_list, STATE_READ_RAW_SCHEMA, {"tracer": "prestateTracer"},
        lambda res, bn, txi, txh: flatten_state_reads(res, bn, txi, txh, chain_id),
        config, transport_factory,
    )


def fetch_geth_calls(
    spark, work_list: DataFrame,
    config: RpcConfig | None = None, transport_factory=None, chain_id: int = 1,
) -> DataFrame:
    """debug_traceBlockByNumber(callTracer) per block
    (sources.rs:715) — call-frame trees flattened depth-first."""
    return _debug_per_block(
        work_list, TRACE_RAW_SCHEMA, {"tracer": "callTracer"},
        lambda res, bn, txi, txh: flatten_call_frames(res or {}, bn, txi, txh, chain_id),
        config, transport_factory,
    )


def fetch_opcodes(
    spark, work_list: DataFrame,
    config: RpcConfig | None = None, transport_factory=None, chain_id: int = 1,
) -> DataFrame:
    """debug_traceBlockByNumber(structLogs) per block
    (sources.rs:604)."""
    return _debug_per_block(
        work_list, OPCODE_RAW_SCHEMA, {},
        lambda res, bn, txi, txh: flatten_opcodes(res or {}, bn, txi, txh, chain_id),
        config, transport_factory,
    )


def fetch_js_traces(
    spark, work_list: DataFrame, tracer_js: str,
    config: RpcConfig | None = None, transport_factory=None, chain_id: int = 1,
) -> DataFrame:
    """debug_traceBlockByNumber({tracer: <user js>}) per block
    (sources.rs:569) — results passed through as JSON strings, the
    reference's javascript-tracer passthrough semantics."""
    return _debug_per_block(
        work_list, JS_TRACE_RAW_SCHEMA, {"tracer": tracer_js},
        lambda res, bn, txi, txh: [{
            "block_number": bn, "transaction_index": txi,
            "transaction_hash": txh,
            "output": json.dumps(res, sort_keys=True),
            "chain_id": chain_id,
        }],
        config, transport_factory,
    )


def fetch_accounts(
    spark, work_list: DataFrame,
    config: RpcConfig | None = None, transport_factory=None, chain_id: int = 1,
) -> DataFrame:
    """Point lookups per (block_number, address): balance + nonce +
    code (sources.rs:421-443). The work-list is the param-set product
    the planner builds for address-dimension queries (C4); the three
    calls per row batch into the task's JSON-RPC batch stream."""
    def reqs(bn, address):
        tag, addr_hex = hex(int(bn)), "0x" + bytes(address).hex()
        return [
            ("eth_getBalance", [addr_hex, tag]),
            ("eth_getTransactionCount", [addr_hex, tag]),
            ("eth_getCode", [addr_hex, tag]),
        ]

    def assemble(bn, address, results):
        bal, nonce, code = results
        return [{
            "block_number": int(bn), "address": bytes(address),
            "balance": _u256_bytes(bal), "nonce": _hex_to_int(nonce),
            "code": _hex_to_bytes(code), "chain_id": chain_id,
        }]

    return _fetch_stage(
        work_list, ["block_number", "address"], ACCOUNT_RAW_SCHEMA,
        reqs, assemble, config, transport_factory,
    )


def fetch_storage(
    spark, work_list: DataFrame,
    config: RpcConfig | None = None, transport_factory=None, chain_id: int = 1,
) -> DataFrame:
    """eth_getStorageAt per (block_number, address, slot)
    (sources.rs:445)."""
    def reqs(bn, address, slot):
        return [("eth_getStorageAt", [
            "0x" + bytes(address).hex(), "0x" + bytes(slot).hex(), hex(int(bn)),
        ])]

    def assemble(bn, address, slot, results):
        return [{
            "block_number": int(bn), "address": bytes(address),
            "slot": bytes(slot), "value": _u256_bytes(results[0]),
            "chain_id": chain_id,
        }]

    return _fetch_stage(
        work_list, ["block_number", "address", "slot"], STORAGE_RAW_SCHEMA,
        reqs, assemble, config, transport_factory,
    )


def fetch_calls(
    spark, work_list: DataFrame,
    config: RpcConfig | None = None, transport_factory=None, chain_id: int = 1,
) -> DataFrame:
    """eth_call per (block_number, contract, call_data)
    (sources.rs:395) — historical contract reads, the eth_calls
    dataset's online path."""
    def reqs(bn, contract, call_data):
        return [("eth_call", [
            {"to": "0x" + bytes(contract).hex(),
             "data": "0x" + bytes(call_data).hex()},
            hex(int(bn)),
        ])]

    def assemble(bn, contract, call_data, results):
        return [{
            "block_number": int(bn), "contract": bytes(contract),
            "call_data": bytes(call_data), "output": _hex_to_bytes(results[0]),
            "chain_id": chain_id,
        }]

    return _fetch_stage(
        work_list, ["block_number", "contract", "call_data"], CALL_RAW_SCHEMA,
        reqs, assemble, config, transport_factory,
    )


def fetch_trace_calls(
    spark, work_list: DataFrame,
    config: RpcConfig | None = None, transport_factory=None, chain_id: int = 1,
) -> DataFrame:
    """trace_call per (block_number, tx_to_address, tx_call_data)
    (sources.rs:405) — simulate a call at each block and land its
    trace tree, the trace_calls dataset's online path."""
    def reqs(bn, to_addr, call_data):
        return [("trace_call", [
            {"to": "0x" + bytes(to_addr).hex(),
             "data": "0x" + bytes(call_data).hex()},
            ["trace"], hex(int(bn)),
        ])]

    def assemble(bn, to_addr, call_data, results):
        rows = []
        for t in results[0].get("trace") or []:
            flat = flatten_trace({**t, "blockNumber": int(bn)}, chain_id)
            flat.pop("block_hash", None)
            flat.pop("transaction_hash", None)
            flat["transaction_index"] = None
            flat["tx_to_address"] = bytes(to_addr)
            flat["tx_call_data"] = bytes(call_data)
            rows.append(flat)
        return rows

    return _fetch_stage(
        work_list, ["block_number", "tx_to_address", "tx_call_data"],
        TRACE_CALL_RAW_SCHEMA, reqs, assemble, config, transport_factory,
    )


# ---------------------------------------------------------------------------
# deterministic fake node covering the full method surface
# ---------------------------------------------------------------------------


class StressFakeFactory:
    """full fake + injected latency and periodic 429s, with a
    file-backed dispatch log (executors are separate processes).

    Models a CU-metered provider under contention: every POST costs
    ``latency_s`` wall-clock and every ``fail_every``-th dispatch
    raises a retryable 429 — exercising pacing, JSON-RPC batch
    dispatch, retry/backoff, and eth_getLogs re-splitting at
    work-list scale (results in SCALE.md)."""

    def __init__(self, log_path: str, latency_s: float = 0.001,
                 fail_every: int = 0):
        self.log_path = log_path
        self.latency_s = latency_s
        self.fail_every = fail_every

    def stats(self) -> dict:
        import collections
        out: dict = collections.Counter()
        try:
            with open(self.log_path) as f:
                for line in f:
                    kind, n = line.split()
                    out[kind] += int(n)
        except FileNotFoundError:
            pass
        return dict(out)

    def __call__(self, config: RpcConfig) -> Transport:
        import threading
        import time

        inner = full_fake_transport_factory(config)
        state = {"n": 0}
        lock = threading.Lock()  # call_many dispatches concurrently
        path, latency, fail_every = self.log_path, self.latency_s, self.fail_every

        def log(kind: str, n: int) -> None:
            with open(path, "a") as f:
                f.write(f"{kind} {n}\n")

        def gate(n_inner: int) -> None:
            with lock:
                state["n"] += 1
                n = state["n"]
            if latency:
                time.sleep(latency)
            if fail_every and n % fail_every == 0:
                log("429", 1)
                raise ConnectionError("429 too many requests")
            log("post", 1)
            log("inner", n_inner)

        def call(method: str, params: list):
            gate(1)
            return inner(method, params)

        def batch(reqs: list) -> list:
            gate(len(reqs))
            return [inner(m, p) for m, p in reqs]

        call.batch = batch  # type: ignore[attr-defined]
        return call


class PendingTxFakeFactory:
    """full fake whose transactions all look PENDING (blockNumber
    null, as mempool txs are served) — exercises the by-hash
    fetchers' no-block-number guard."""

    def __call__(self, config: RpcConfig) -> Transport:
        inner = full_fake_transport_factory(config)

        def call(method: str, params: list):
            res = inner(method, params)
            if method == "eth_getTransactionByHash" and res is not None:
                res = {**res, "blockNumber": None}
            return res

        return call


class ProbeLogFakeFactory:
    """full fake + an in-memory method log. Counts the DRIVER's probe
    calls (tip resolution, timestamp bisection); executor tasks
    unpickle a COPY of the factory, so fetch-stage calls never reach
    ``calls`` — exactly the accounting the tip-resolution tests
    need."""

    def __init__(self):
        self.calls: list[str] = []

    def __call__(self, config: RpcConfig) -> Transport:
        inner = full_fake_transport_factory(config)

        def call(method: str, params: list):
            self.calls.append(method)
            return inner(method, params)

        return call


class BatchCountingFakeFactory:
    """full fake + JSON-RPC batch support, recording every dispatch
    (kind + request count) to a log file — python workers are separate
    PROCESSES, so in-memory counters never reach the driver; tests
    read the log via :meth:`counts`."""

    def __init__(self, log_path: str):
        self.log_path = log_path

    def counts(self) -> dict:
        out = {"batch": 0, "single": 0}
        try:
            with open(self.log_path) as f:
                for line in f:
                    kind, _n = line.split()
                    out[kind] += 1
        except FileNotFoundError:
            pass
        return out

    def __call__(self, config: RpcConfig) -> Transport:
        inner = full_fake_transport_factory(config)
        path = self.log_path

        def log(kind: str, n: int) -> None:
            with open(path, "a") as f:
                f.write(f"{kind} {n}\n")

        def call(method: str, params: list):
            log("single", 1)
            return inner(method, params)

        def batch(reqs: list) -> list:
            log("batch", len(reqs))
            return [inner(m, p) for m, p in reqs]

        call.batch = batch  # type: ignore[attr-defined]
        return call


def full_fake_transport_factory(config: RpcConfig) -> Transport:
    """Extends rpc.fake_transport_factory to every fetch method above
    (the reference tests its source layer against a mock server the
    same way — crates/cli tests). Deterministic in block number."""
    base = fake_transport_factory(config)

    def addr(i: int) -> str:
        return "0x" + (i % 251).to_bytes(1, "big").hex() * 20

    def word(i: int) -> str:
        return hex(i)

    def tx_hash(n: int, k: int) -> str:
        return "0x" + ((n * 1000 + k).to_bytes(8, "big") * 4).hex()

    def txs_in_block(n: int) -> int:
        return n % 4

    def call(method: str, params: list):
        if method == "eth_getBlockByNumber" and len(params) > 1 and params[1]:
            n = int(params[0], 16)
            blk = base("eth_getBlockByNumber", [params[0], False])
            blk["transactions"] = [{
                "blockNumber": hex(n), "transactionIndex": hex(k),
                "hash": tx_hash(n, k), "nonce": hex(k),
                "from": addr(n + k), "to": None if (n + k) % 17 == 0 else addr(n - k),
                "value": hex((n * 31 + k) * 10**15), "input": "0x" + "ab" * (k % 5),
                "gas": hex(21000 + 1000 * k), "gasPrice": hex(10**9 + n),
                "maxFeePerGas": hex(2 * 10**9) if n % 2 else None,
                "maxPriorityFeePerGas": hex(10**8) if n % 2 else None,
                "type": hex(2 if n % 2 else 0),
                "blockHash": blk["hash"], "r": "0x" + "11" * 32,
                "s": "0x" + "22" * 32, "v": hex(k % 2),
            } for k in range(txs_in_block(n))]
            return blk
        if method == "eth_getBlockReceipts":
            n = int(params[0], 16)
            # receipt logs mirror eth_getLogs for the block, sliced by
            # transactionIndex — the per-tx logs fetch (receipt.logs)
            # must agree with the per-block ranged fetch row for row
            blk_logs = base("eth_getLogs", [
                {"fromBlock": hex(n), "toBlock": hex(n)}
            ])
            return [{
                "transactionHash": tx_hash(n, k), "gasUsed": hex(21000 + 500 * k),
                "status": hex(0 if (n + k) % 13 == 0 else 1),
                "effectiveGasPrice": hex(10**9 + n // 2),
                "logs": [
                    lg for lg in blk_logs
                    if int(lg["transactionIndex"], 16) == k
                ],
            } for k in range(txs_in_block(n))]
        if method == "trace_block":
            n = int(params[0], 16)
            out = []
            for k in range(txs_in_block(n)):
                out.append({
                    "blockNumber": n, "blockHash": "0x" + (n.to_bytes(4, "big") * 8).hex(),
                    "transactionPosition": k, "transactionHash": tx_hash(n, k),
                    "traceAddress": [], "subtraces": 1, "type": "call",
                    "action": {"from": addr(n + k), "to": addr(n - k),
                               "value": hex(n * 7), "gas": hex(100000),
                               "input": "0x1234", "callType": "call"},
                    "result": {"gasUsed": hex(50000), "output": "0x01"},
                })
                out.append({
                    "blockNumber": n, "blockHash": "0x" + (n.to_bytes(4, "big") * 8).hex(),
                    "transactionPosition": k, "transactionHash": tx_hash(n, k),
                    "traceAddress": [0], "subtraces": 0, "type": "create",
                    "action": {"from": addr(n - k), "value": "0x0",
                               "gas": hex(60000), "init": "0x6001"},
                    "result": {"gasUsed": hex(40000), "code": "0x6002",
                               "address": addr(n * 3 + k)},
                })
            return out
        if method == "trace_replayBlockTransactions":
            n = int(params[0], 16)
            return [{
                "transactionHash": tx_hash(n, k),
                "stateDiff": {
                    addr(n + k): {
                        "balance": {"*": {"from": hex(n * 100), "to": hex(n * 100 + 1)}},
                        "nonce": {"*": {"from": hex(k), "to": hex(k + 1)}},
                        "code": "=",
                        "storage": {
                            "0x" + word(n)[2:].rjust(64, "0"): {"*": {
                                "from": hex(n), "to": hex(n + k)}},
                        },
                    },
                    addr(n * 2 + k): {
                        "balance": {"+": hex(5)}, "nonce": "=", "code": "=",
                        "storage": {},
                    },
                },
            } for k in range(txs_in_block(n))]
        if method == "debug_traceBlockByNumber":
            n = int(params[0], 16)
            tracer = (params[1] or {}).get("tracer")
            if tracer == "prestateTracer":
                return [{
                    "txHash": tx_hash(n, k),
                    "result": {
                        addr(n + k): {"balance": hex(n * 100), "nonce": k,
                                      "code": "0x6003",
                                      "storage": {"0x" + "00" * 31 + "01": hex(n)}},
                    },
                } for k in range(txs_in_block(n))]
            if tracer == "callTracer":
                return [{
                    "txHash": tx_hash(n, k),
                    "result": {
                        "type": "CALL", "from": addr(n + k), "to": addr(n - k),
                        "value": hex(n), "gas": hex(90000), "gasUsed": hex(30000),
                        "input": "0xdead", "output": "0xbeef",
                        "calls": [{
                            "type": "STATICCALL", "from": addr(n - k),
                            "to": addr(n + 2 * k), "gas": hex(40000),
                            "gasUsed": hex(10000), "input": "0x01",
                        }],
                    },
                } for k in range(txs_in_block(n))]
            if tracer:  # user js tracer passthrough
                return [{
                    "txHash": tx_hash(n, k),
                    "result": {"js": True, "block": n, "tx": k},
                } for k in range(txs_in_block(n))]
            return [{  # structLogs
                "txHash": tx_hash(n, k),
                "result": {"gas": 21000, "failed": False, "structLogs": [
                    {"pc": s, "op": "PUSH1", "gas": 90000 - s, "gasCost": 3,
                     "depth": 1, "stack": ["0x1"]} for s in range(n % 3 + 1)
                ]},
            } for k in range(txs_in_block(n))]
        if method == "trace_call":
            req, _tracers, tag = params
            n = int(tag, 16)
            return {"output": "0x01", "trace": [{
                "traceAddress": [], "subtraces": 0, "type": "call",
                "action": {"from": addr(n), "to": req["to"],
                           "value": "0x0", "gas": hex(80000),
                           "input": req["data"], "callType": "call"},
                "result": {"gasUsed": hex(25000), "output": "0x02"},
            }]}
        def tx_loc(h: str):
            # fake hashes encode (block, index): (n*1000+k) repeated
            v = int(h[2:18], 16)
            n, k = divmod(v, 1000)
            return (n, k) if k < txs_in_block(n) else None

        if method == "eth_getTransactionByHash":
            loc = tx_loc(params[0])
            if loc is None:
                return None  # unknown hash: nodes return null
            n, k = loc
            return call("eth_getBlockByNumber", [hex(n), True])["transactions"][k]
        if method == "eth_getTransactionReceipt":
            loc = tx_loc(params[0])
            if loc is None:
                return None
            n, k = loc
            return call("eth_getBlockReceipts", [hex(n)])[k]
        if method == "trace_transaction":
            loc = tx_loc(params[0])
            if loc is None:
                return None
            n, k = loc
            return [t for t in call("trace_block", [hex(n)])
                    if t["transactionPosition"] == k]
        if method == "trace_replayTransaction":
            loc = tx_loc(params[0])
            if loc is None:
                return None
            n, k = loc
            return call("trace_replayBlockTransactions", [hex(n), params[1]])[k]
        if method == "debug_traceTransaction":
            loc = tx_loc(params[0])
            if loc is None:
                return None
            n, k = loc
            return call("debug_traceBlockByNumber", [hex(n), params[1]])[k]["result"]
        if method == "eth_getBalance":
            return hex(int(params[1], 16) * 1000 + int(params[0][2:4], 16))
        if method == "eth_getTransactionCount":
            return hex(int(params[1], 16) % 50)
        if method == "eth_getCode":
            return "0x6004" if int(params[0][2:4], 16) % 2 else "0x"
        if method == "eth_getStorageAt":
            return "0x" + hex(int(params[2], 16) + int(params[1][2:4], 16))[2:].rjust(64, "0")
        if method == "eth_call":
            return "0x" + params[0]["data"][2:6].rjust(8, "0")
        return base(method, params)

    return call

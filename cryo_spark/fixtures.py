"""Deterministic chain-shaped fixture tables (FIXTURES.md).

The reference tests against a live Ethereum node
(/root/reference/crates/python/python_tests/test_datatypes.py:25-38).
We replace the node with seeded synthetic *raw* tables that play the
role of RPC responses; every dataset transform is then checked against
a DuckDB oracle over the same parquet.

Generation is pure numpy + pyarrow (no Spark needed), seed=42,
~1,000 blocks. Run ``python -m cryo_spark.fixtures [outdir]``;
default outdir is ``<repo>/fixtures``.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
N_BLOCKS = 1000
CHAIN_ID = 1
BASE_TS = 1_600_000_000

# keccak256("Transfer(address,address,uint256)") — public constant, see
# /root/reference/crates/freeze/src/datasets/erc20_transfers.rs
TRANSFER_SIG = bytes.fromhex(
    "ddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
)
# keccak256("Approval(address,address,uint256)")
APPROVAL_SIG = bytes.fromhex(
    "8c5be1e5ebec7d5bd14f71427d1e84f3dd0314c0f7b2291e5b200ac8c7c3b925"
)

SEL_NAME = bytes.fromhex("06fdde03")  # name()
SEL_SYMBOL = bytes.fromhex("95d89b41")  # symbol()
SEL_DECIMALS = bytes.fromhex("313ce567")  # decimals()
SEL_TOTAL_SUPPLY = bytes.fromhex("18160ddd")  # totalSupply()
SEL_BALANCE_OF = bytes.fromhex("70a08231")  # balanceOf(address)

SAMPLE_BLOCKS = list(range(0, N_BLOCKS, 100)) + [N_BLOCKS - 1]


def _rand_bytes(rng: np.random.Generator, n_rows: int, width: int) -> list[bytes]:
    buf = rng.integers(0, 256, size=n_rows * width, dtype=np.uint8).tobytes()
    return [buf[i * width : (i + 1) * width] for i in range(n_rows)]


def _u256_bytes(value: int) -> bytes:
    return int(value).to_bytes(32, "big")


def _addr_topic(addr: bytes) -> bytes:
    return b"\x00" * 12 + addr


def _u256blob(values: list) -> pa.Array:
    """u256 quantities land as canonical 32-byte big-endian words (the
    carrier the engine keeps end-to-end; value magnitudes stay below
    1e38 so the DuckDB oracle's DECIMAL(38,0) decode remains exact)."""
    return pa.array(
        [None if v is None else _u256_bytes(v) for v in values], pa.binary()
    )


class FixtureBuilder:
    def __init__(self) -> None:
        self.rng = np.random.default_rng(SEED)
        # address pools
        self.validators = _rand_bytes(self.rng, 16, 20)
        self.eoas = _rand_bytes(self.rng, 200, 20)
        self.contracts = _rand_bytes(self.rng, 20, 20)
        self.selectors = _rand_bytes(self.rng, 50, 4)
        self.other_topics = _rand_bytes(self.rng, 10, 32)
        self.tables: dict[str, pa.Table] = {}

    # ---------------- blocks ----------------
    def build_blocks(self) -> None:
        rng = self.rng
        n = N_BLOCKS
        block_hash = _rand_bytes(rng, n, 32)
        parent_hash = [b"\x00" * 32] + block_hash[:-1]
        author = [self.validators[i] for i in rng.integers(0, 16, n)]
        ts = BASE_TS + 12 * np.arange(n) + rng.integers(0, 3, n)
        gas_used = rng.integers(1_000_000, 30_000_000, n, dtype=np.int64)
        base_fee = np.maximum(
            1_000_000_000,
            (1e10 * np.exp(rng.normal(0, 0.3, n).cumsum() * 0.05)).astype(np.int64),
        )
        total_diff: list[int | None] = []
        cum = 0
        for i in range(n):
            cum += int(gas_used[i]) * 131
            total_diff.append(None if i >= n - 10 else cum)
        self.blocks_ts = ts.astype(np.int32)
        self.base_fee = [
            None if i < 100 else int(base_fee[i]) for i in range(n)
        ]
        self.tables["fixture_blocks"] = pa.table(
            {
                "block_number": pa.array(np.arange(n, dtype=np.int32)),
                "block_hash": pa.array(block_hash, pa.binary()),
                "parent_hash": pa.array(parent_hash, pa.binary()),
                "author": pa.array(author, pa.binary()),
                "state_root": pa.array(_rand_bytes(rng, n, 32), pa.binary()),
                "transactions_root": pa.array(_rand_bytes(rng, n, 32), pa.binary()),
                "receipts_root": pa.array(_rand_bytes(rng, n, 32), pa.binary()),
                "uncles_hash": pa.array(_rand_bytes(rng, n, 32), pa.binary()),
                "mix_hash": pa.array(_rand_bytes(rng, n, 32), pa.binary()),
                "logs_bloom": pa.array(_rand_bytes(rng, n, 256), pa.binary()),
                "extra_data": pa.array(
                    [
                        b[: rng.integers(0, 33)]
                        for b in _rand_bytes(rng, n, 32)
                    ],
                    pa.binary(),
                ),
                "nonce": pa.array(_rand_bytes(rng, n, 8), pa.binary()),
                "timestamp": pa.array(self.blocks_ts),
                "gas_used": pa.array(gas_used),
                "gas_limit": pa.array(np.full(n, 30_000_000, dtype=np.int64)),
                "difficulty": pa.array(np.zeros(n, dtype=np.int64)),
                "total_difficulty": _u256blob(total_diff),
                "size": pa.array(
                    [int(x) for x in rng.integers(1_000, 100_000, n)],
                    pa.int64(),
                ),
                "base_fee_per_gas": pa.array(self.base_fee, pa.int64()),
                "withdrawals_root": pa.array(
                    [
                        None if i < 500 else h
                        for i, h in enumerate(_rand_bytes(rng, n, 32))
                    ],
                    pa.binary(),
                ),
                "chain_id": pa.array(np.full(n, CHAIN_ID, dtype=np.int64)),
            }
        )
        self.block_hashes = block_hash

    # ---------------- transactions ----------------
    def build_transactions(self) -> None:
        rng = self.rng
        rows: dict[str, list] = {k: [] for k in (
            "block_number transaction_index transaction_hash nonce from_address "
            "to_address value input gas_limit gas_used gas_price max_fee_per_gas "
            "max_priority_fee_per_gas transaction_type success block_hash "
            "timestamp r s v chain_id"
        ).split()}
        sender_nonce: dict[bytes, int] = {}
        self.tx_meta: list[tuple[int, int, bytes, bool]] = []  # (block, idx, hash, success)
        for b in range(N_BLOCKS):
            n_tx = int(rng.integers(0, 21))
            hashes = _rand_bytes(rng, n_tx, 32)
            for i in range(n_tx):
                frm = self.eoas[int(rng.integers(0, 200))]
                nonce = sender_nonce.get(frm, 0)
                sender_nonce[frm] = nonce + 1
                creating = rng.random() < 0.02
                if creating:
                    to = None
                elif rng.random() < 0.3:
                    to = self.contracts[int(rng.integers(0, 20))]
                else:
                    to = self.eoas[int(rng.integers(0, 200))]
                # value: lognormal wei, with explicit 0 and >2^64 cases
                u = rng.random()
                if u < 0.25:
                    value = 0
                elif u < 0.97:
                    value = int(np.exp(rng.normal(38, 4)))  # ~1e14..1e20 wei
                else:
                    value = int(rng.integers(1, 1 << 30)) << 64  # > 2^64
                if rng.random() < 0.6:
                    inp = b""
                else:
                    sel = self.selectors[int(rng.integers(0, 50))]
                    body = _rand_bytes(rng, 1, int(rng.integers(0, 257)))[0]
                    inp = sel + body
                gas_limit = int(rng.integers(21_000, 1_000_000))
                gas_used = int(rng.integers(21_000, gas_limit + 1))
                # pre-1559 blocks (<100) have no base fee → legacy types only
                if b < 100:
                    tx_type = int(rng.choice([0, 1], p=[0.75, 0.25]))
                else:
                    tx_type = int(rng.choice([0, 1, 2], p=[0.3, 0.1, 0.6]))
                base = self.base_fee[b]
                if tx_type == 2:
                    max_fee = int((base or 0) * rng.uniform(1.0, 3.0)) + 1
                    max_prio = int(rng.uniform(0, 2e9))
                    gas_price = None
                else:
                    max_fee = None
                    max_prio = None
                    gas_price = int((base or 1_000_000_000) * rng.uniform(1.0, 2.0))
                success = bool(rng.random() < 0.95)
                rows["block_number"].append(b)
                rows["transaction_index"].append(i)
                rows["transaction_hash"].append(hashes[i])
                rows["nonce"].append(nonce)
                rows["from_address"].append(frm)
                rows["to_address"].append(to)
                rows["value"].append(value)
                rows["input"].append(inp)
                rows["gas_limit"].append(gas_limit)
                rows["gas_used"].append(gas_used)
                rows["gas_price"].append(gas_price)
                rows["max_fee_per_gas"].append(max_fee)
                rows["max_priority_fee_per_gas"].append(max_prio)
                rows["transaction_type"].append(tx_type)
                rows["success"].append(success)
                rows["block_hash"].append(self.block_hashes[b])
                rows["timestamp"].append(int(self.blocks_ts[b]))
                rows["r"].append(_rand_bytes(rng, 1, 32)[0])
                rows["s"].append(_rand_bytes(rng, 1, 32)[0])
                rows["v"].append(bool(rng.random() < 0.5))
                rows["chain_id"].append(CHAIN_ID)
                self.tx_meta.append((b, i, hashes[i], success))
        self.tables["fixture_transactions"] = pa.table(
            {
                "block_number": pa.array(rows["block_number"], pa.int32()),
                "transaction_index": pa.array(rows["transaction_index"], pa.int32()),
                "transaction_hash": pa.array(rows["transaction_hash"], pa.binary()),
                "nonce": pa.array(rows["nonce"], pa.int64()),
                "from_address": pa.array(rows["from_address"], pa.binary()),
                "to_address": pa.array(rows["to_address"], pa.binary()),
                "value": _u256blob(rows["value"]),
                "input": pa.array(rows["input"], pa.binary()),
                "gas_limit": pa.array(rows["gas_limit"], pa.int64()),
                "gas_used": pa.array(rows["gas_used"], pa.int64()),
                "gas_price": pa.array(rows["gas_price"], pa.int64()),
                "max_fee_per_gas": pa.array(rows["max_fee_per_gas"], pa.int64()),
                "max_priority_fee_per_gas": pa.array(
                    rows["max_priority_fee_per_gas"], pa.int64()
                ),
                "transaction_type": pa.array(rows["transaction_type"], pa.int32()),
                "success": pa.array(rows["success"], pa.bool_()),
                "block_hash": pa.array(rows["block_hash"], pa.binary()),
                "timestamp": pa.array(rows["timestamp"], pa.int32()),
                "r": pa.array(rows["r"], pa.binary()),
                "s": pa.array(rows["s"], pa.binary()),
                "v": pa.array(rows["v"], pa.bool_()),
                "chain_id": pa.array(rows["chain_id"], pa.int64()),
            }
        )

    # ---------------- logs ----------------
    def build_logs(self) -> None:
        rng = self.rng
        rows: dict[str, list] = {k: [] for k in (
            "block_number transaction_index log_index transaction_hash block_hash "
            "address topic0 topic1 topic2 topic3 data chain_id"
        ).split()}
        log_ix_per_block: dict[int, int] = {}
        for b, txi, txh, _succ in self.tx_meta:
            n_logs = int(rng.integers(0, 11))
            for _ in range(n_logs):
                li = log_ix_per_block.get(b, 0)
                log_ix_per_block[b] = li + 1
                addr = self.contracts[int(rng.integers(0, 20))]
                u = rng.random()
                t1 = t2 = t3 = None
                data = b""
                if u < 0.40:  # Transfer
                    t0 = TRANSFER_SIG
                    t1 = _addr_topic(self.eoas[int(rng.integers(0, 200))])
                    t2 = _addr_topic(self.eoas[int(rng.integers(0, 200))])
                    if rng.random() < 0.25:  # ERC-721 shape
                        t3 = _u256_bytes(int(rng.integers(1, 100_000)))
                        data = b""
                    else:  # ERC-20: 32-byte amount (< 2^63 for oracle math)
                        data = _u256_bytes(int(rng.integers(1, 1 << 62)))
                elif u < 0.50:  # Approval
                    t0 = APPROVAL_SIG
                    t1 = _addr_topic(self.eoas[int(rng.integers(0, 200))])
                    t2 = _addr_topic(self.eoas[int(rng.integers(0, 200))])
                    data = _u256_bytes(int(rng.integers(1, 1 << 62)))
                else:
                    t0 = (
                        None
                        if rng.random() < 0.05
                        else self.other_topics[int(rng.integers(0, 10))]
                    )
                    if rng.random() < 0.5:
                        t1 = _rand_bytes(rng, 1, 32)[0]
                    if rng.random() < 0.3:
                        t2 = _rand_bytes(rng, 1, 32)[0]
                    data = _rand_bytes(rng, 1, int(rng.integers(0, 129)))[0]
                rows["block_number"].append(b)
                rows["transaction_index"].append(txi)
                rows["log_index"].append(li)
                rows["transaction_hash"].append(txh)
                rows["block_hash"].append(self.block_hashes[b])
                rows["address"].append(addr)
                rows["topic0"].append(t0)
                rows["topic1"].append(t1)
                rows["topic2"].append(t2)
                rows["topic3"].append(t3)
                rows["data"].append(data)
                rows["chain_id"].append(CHAIN_ID)
        self.tables["fixture_logs"] = pa.table(
            {
                "block_number": pa.array(rows["block_number"], pa.int32()),
                "transaction_index": pa.array(rows["transaction_index"], pa.int32()),
                "log_index": pa.array(rows["log_index"], pa.int32()),
                "transaction_hash": pa.array(rows["transaction_hash"], pa.binary()),
                "block_hash": pa.array(rows["block_hash"], pa.binary()),
                "address": pa.array(rows["address"], pa.binary()),
                "topic0": pa.array(rows["topic0"], pa.binary()),
                "topic1": pa.array(rows["topic1"], pa.binary()),
                "topic2": pa.array(rows["topic2"], pa.binary()),
                "topic3": pa.array(rows["topic3"], pa.binary()),
                "data": pa.array(rows["data"], pa.binary()),
                "chain_id": pa.array(rows["chain_id"], pa.int64()),
            }
        )

    # ---------------- traces ----------------
    def build_traces(self) -> None:
        rng = self.rng
        rows: dict[str, list] = {k: [] for k in (
            "block_number block_hash transaction_index transaction_hash "
            "trace_address subtraces action_type action_from action_to "
            "action_value action_gas result_gas_used action_input action_init "
            "result_output result_code action_call_type action_reward_type "
            "result_address error chain_id"
        ).split()}

        def emit(b, txi, txh, trace_addr, atype, **kw):
            rows["block_number"].append(b)
            rows["block_hash"].append(self.block_hashes[b])
            rows["transaction_index"].append(txi)
            rows["transaction_hash"].append(txh)
            rows["trace_address"].append(trace_addr)
            rows["subtraces"].append(kw.get("subtraces", 0))
            rows["action_type"].append(atype)
            rows["action_from"].append(kw.get("frm"))
            rows["action_to"].append(kw.get("to"))
            rows["action_value"].append(kw.get("value", 0))
            rows["action_gas"].append(kw.get("gas"))
            rows["result_gas_used"].append(kw.get("gas_used"))
            rows["action_input"].append(kw.get("inp"))
            rows["action_init"].append(kw.get("init"))
            rows["result_output"].append(kw.get("output"))
            rows["result_code"].append(kw.get("code"))
            rows["action_call_type"].append(kw.get("call_type"))
            rows["action_reward_type"].append(kw.get("reward_type"))
            rows["result_address"].append(kw.get("result_address"))
            rows["error"].append(kw.get("error"))
            rows["chain_id"].append(CHAIN_ID)

        def rand_value() -> int:
            u = rng.random()
            if u < 0.5:
                return 0
            if u < 0.98:
                return int(np.exp(rng.normal(36, 4)))
            return int(rng.integers(1, 1 << 30)) << 64

        for b, txi, txh, succ in self.tx_meta:
            n_sub = int(rng.integers(0, 8))
            # root trace
            root_err = None if succ else "Reverted"
            frm = self.eoas[int(rng.integers(0, 200))]
            # count direct children of root among subs (children labelled "k")
            sub_addrs: list[str] = []
            prev_child = None
            for k in range(n_sub):
                if prev_child is not None and rng.random() < 0.3:
                    sub_addrs.append(prev_child + "_0")
                    prev_child = None
                else:
                    child = str(sum(1 for a in sub_addrs if "_" not in a))
                    sub_addrs.append(child)
                    prev_child = child
            n_direct = sum(1 for a in sub_addrs if "_" not in a)
            u = rng.random()
            if u < 0.93:
                emit(
                    b, txi, txh, "", "call",
                    subtraces=n_direct, frm=frm,
                    to=self.contracts[int(rng.integers(0, 20))],
                    value=rand_value(), gas=int(rng.integers(21_000, 1_000_000)),
                    gas_used=int(rng.integers(21_000, 900_000)),
                    inp=_rand_bytes(rng, 1, int(rng.integers(0, 68)))[0],
                    output=_rand_bytes(rng, 1, int(rng.integers(0, 32)))[0],
                    call_type="call", error=root_err,
                )
            else:
                created = _rand_bytes(rng, 1, 20)[0]
                emit(
                    b, txi, txh, "", "create",
                    subtraces=n_direct, frm=frm,
                    value=rand_value(), gas=int(rng.integers(100_000, 2_000_000)),
                    gas_used=int(rng.integers(100_000, 1_900_000)),
                    init=_rand_bytes(rng, 1, int(rng.integers(32, 256)))[0],
                    code=None if root_err else _rand_bytes(rng, 1, int(rng.integers(32, 256)))[0],
                    result_address=None if root_err else created,
                    error=root_err,
                )
            for addr_str in sub_addrs:
                n_children = sum(
                    1
                    for a in sub_addrs
                    if a.startswith(addr_str + "_") and a.count("_") == addr_str.count("_") + 1
                )
                v = rng.random()
                err = "Reverted" if rng.random() < 0.05 else None
                frm2 = self.contracts[int(rng.integers(0, 20))]
                if v < 0.85:
                    emit(
                        b, txi, txh, addr_str, "call",
                        subtraces=n_children, frm=frm2,
                        to=(
                            self.contracts[int(rng.integers(0, 20))]
                            if rng.random() < 0.7
                            else self.eoas[int(rng.integers(0, 200))]
                        ),
                        value=rand_value(), gas=int(rng.integers(2_300, 500_000)),
                        gas_used=int(rng.integers(0, 400_000)),
                        inp=_rand_bytes(rng, 1, int(rng.integers(0, 68)))[0],
                        output=_rand_bytes(rng, 1, int(rng.integers(0, 32)))[0],
                        call_type=str(rng.choice(["call", "delegatecall", "staticcall"])),
                        error=err,
                    )
                elif v < 0.92:
                    created = _rand_bytes(rng, 1, 20)[0]
                    emit(
                        b, txi, txh, addr_str, "create",
                        subtraces=n_children, frm=frm2,
                        value=rand_value(), gas=int(rng.integers(50_000, 1_000_000)),
                        gas_used=int(rng.integers(50_000, 900_000)),
                        init=_rand_bytes(rng, 1, int(rng.integers(32, 128)))[0],
                        code=None if err else _rand_bytes(rng, 1, int(rng.integers(32, 128)))[0],
                        result_address=None if err else created,
                        error=err,
                    )
                else:
                    emit(
                        b, txi, txh, addr_str, "suicide",
                        subtraces=n_children, frm=frm2,
                        to=self.eoas[int(rng.integers(0, 200))],
                        value=rand_value(), error=err,
                    )
        # one reward trace per block, null tx fields
        for b in range(N_BLOCKS):
            emit(
                b, None, None, "", "reward",
                frm=None, to=self.validators[int(rng.integers(0, 16))],
                value=2 * 10**18, reward_type="block",
            )
        self.tables["fixture_traces"] = pa.table(
            {
                "block_number": pa.array(rows["block_number"], pa.int32()),
                "block_hash": pa.array(rows["block_hash"], pa.binary()),
                "transaction_index": pa.array(rows["transaction_index"], pa.int32()),
                "transaction_hash": pa.array(rows["transaction_hash"], pa.binary()),
                "trace_address": pa.array(rows["trace_address"], pa.string()),
                "subtraces": pa.array(rows["subtraces"], pa.int32()),
                "action_type": pa.array(rows["action_type"], pa.string()),
                "action_from": pa.array(rows["action_from"], pa.binary()),
                "action_to": pa.array(rows["action_to"], pa.binary()),
                "action_value": _u256blob(rows["action_value"]),
                "action_gas": pa.array(rows["action_gas"], pa.int64()),
                "result_gas_used": pa.array(rows["result_gas_used"], pa.int64()),
                "action_input": pa.array(rows["action_input"], pa.binary()),
                "action_init": pa.array(rows["action_init"], pa.binary()),
                "result_output": pa.array(rows["result_output"], pa.binary()),
                "result_code": pa.array(rows["result_code"], pa.binary()),
                "action_call_type": pa.array(rows["action_call_type"], pa.string()),
                "action_reward_type": pa.array(rows["action_reward_type"], pa.string()),
                "result_address": pa.array(rows["result_address"], pa.binary()),
                "error": pa.array(rows["error"], pa.string()),
                "chain_id": pa.array(rows["chain_id"], pa.int64()),
            }
        )

    # ---------------- state diffs / reads ----------------
    def build_state(self) -> None:
        rng = self.rng
        kinds = ["balance", "nonce", "code", "storage"]
        d_rows: dict[str, list] = {k: [] for k in (
            "block_number transaction_index transaction_hash address kind slot "
            "from_value to_value chain_id"
        ).split()}
        r_rows: dict[str, list] = {k: [] for k in (
            "block_number transaction_index transaction_hash address kind slot "
            "value chain_id"
        ).split()}
        for b, txi, txh, _succ in self.tx_meta:
            for _ in range(int(rng.integers(1, 4))):
                addr = self.eoas[int(rng.integers(0, 200))]
                kind = kinds[int(rng.integers(0, 4))]
                slot = _rand_bytes(rng, 1, 32)[0] if kind == "storage" else None
                if kind == "nonce":
                    fv = int(rng.integers(0, 1 << 40))
                    tv = fv + 1
                    from_v, to_v = _u256_bytes(fv), _u256_bytes(tv)
                elif kind == "balance":
                    from_v = _u256_bytes(int(np.exp(rng.normal(38, 4))))
                    to_v = _u256_bytes(int(np.exp(rng.normal(38, 4))))
                else:
                    from_v = _rand_bytes(rng, 1, 32)[0]
                    to_v = _rand_bytes(rng, 1, 32)[0]
                d_rows["block_number"].append(b)
                d_rows["transaction_index"].append(txi)
                d_rows["transaction_hash"].append(txh)
                d_rows["address"].append(addr)
                d_rows["kind"].append(kind)
                d_rows["slot"].append(slot)
                d_rows["from_value"].append(from_v)
                d_rows["to_value"].append(to_v)
                d_rows["chain_id"].append(CHAIN_ID)
            if rng.random() < 0.7:
                addr = self.eoas[int(rng.integers(0, 200))]
                kind = kinds[int(rng.integers(0, 4))]
                if kind == "nonce":
                    rv = _u256_bytes(int(rng.integers(0, 1 << 40)))
                elif kind == "balance":
                    rv = _u256_bytes(int(np.exp(rng.normal(38, 4))))
                else:
                    rv = _rand_bytes(rng, 1, 32)[0]
                r_rows["block_number"].append(b)
                r_rows["transaction_index"].append(txi)
                r_rows["transaction_hash"].append(txh)
                r_rows["address"].append(addr)
                r_rows["kind"].append(kind)
                r_rows["slot"].append(
                    _rand_bytes(rng, 1, 32)[0] if kind == "storage" else None
                )
                r_rows["value"].append(rv)
                r_rows["chain_id"].append(CHAIN_ID)
        common = {
            "block_number": pa.int32(),
            "transaction_index": pa.int32(),
            "transaction_hash": pa.binary(),
            "address": pa.binary(),
            "kind": pa.string(),
            "slot": pa.binary(),
        }
        self.tables["fixture_state_diffs"] = pa.table(
            {
                **{k: pa.array(d_rows[k], t) for k, t in common.items()},
                "from_value": pa.array(d_rows["from_value"], pa.binary()),
                "to_value": pa.array(d_rows["to_value"], pa.binary()),
                "chain_id": pa.array(d_rows["chain_id"], pa.int64()),
            }
        )
        self.tables["fixture_state_reads"] = pa.table(
            {
                **{k: pa.array(r_rows[k], t) for k, t in common.items()},
                "value": pa.array(r_rows["value"], pa.binary()),
                "chain_id": pa.array(r_rows["chain_id"], pa.int64()),
            }
        )

    # ---------------- accounts / storage / calls ----------------
    def build_accounts(self) -> None:
        rng = self.rng
        rows: dict[str, list] = {k: [] for k in (
            "block_number address balance nonce code chain_id".split()
        )}
        contract_code = {
            a: _rand_bytes(rng, 1, int(rng.integers(100, 2001)))[0]
            for a in self.contracts
        }
        all_addrs = self.eoas + self.contracts
        balances = {a: int(np.exp(rng.normal(40, 3))) for a in all_addrs}
        nonces = {a: 0 for a in all_addrs}
        for blk in SAMPLE_BLOCKS:
            for a in all_addrs:
                balances[a] = max(
                    0, balances[a] + int(rng.normal(0, 1e18))
                )
                nonces[a] += int(rng.integers(0, 5))
                rows["block_number"].append(blk)
                rows["address"].append(a)
                rows["balance"].append(balances[a])
                rows["nonce"].append(nonces[a])
                rows["code"].append(contract_code.get(a, b""))
                rows["chain_id"].append(CHAIN_ID)
        self.tables["fixture_accounts"] = pa.table(
            {
                "block_number": pa.array(rows["block_number"], pa.int32()),
                "address": pa.array(rows["address"], pa.binary()),
                "balance": _u256blob(rows["balance"]),
                "nonce": pa.array(rows["nonce"], pa.int64()),
                "code": pa.array(rows["code"], pa.binary()),
                "chain_id": pa.array(rows["chain_id"], pa.int64()),
            }
        )
        # storage
        s_rows: dict[str, list] = {k: [] for k in "block_number address slot value chain_id".split()}
        slots = _rand_bytes(rng, 5, 32)
        for blk in SAMPLE_BLOCKS:
            for a in self.contracts:
                for s in slots:
                    s_rows["block_number"].append(blk)
                    s_rows["address"].append(a)
                    s_rows["slot"].append(s)
                    s_rows["value"].append(
                        _u256_bytes(int(rng.integers(0, 1 << 62)))
                    )
                    s_rows["chain_id"].append(CHAIN_ID)
        self.tables["fixture_storage"] = pa.table(
            {
                "block_number": pa.array(s_rows["block_number"], pa.int32()),
                "address": pa.array(s_rows["address"], pa.binary()),
                "slot": pa.array(s_rows["slot"], pa.binary()),
                "value": pa.array(s_rows["value"], pa.binary()),
                "chain_id": pa.array(s_rows["chain_id"], pa.int64()),
            }
        )
        # eth_call answers
        c_rows: dict[str, list] = {k: [] for k in "block_number contract call_data output chain_id".split()}
        names = [f"Token{i}" for i in range(20)]
        symbols = [f"TK{i}" for i in range(20)]
        decimals = [int(rng.choice([6, 8, 18])) for _ in range(20)]
        supplies = [int(rng.integers(1, 1 << 62)) for _ in range(20)]

        def abi_string(s: str) -> bytes:
            b = s.encode()
            pad = (32 - len(b) % 32) % 32
            return _u256_bytes(32) + _u256_bytes(len(b)) + b + b"\x00" * pad

        for blk in SAMPLE_BLOCKS:
            for ci, a in enumerate(self.contracts):
                c_rows["block_number"] += [blk] * 4
                c_rows["contract"] += [a] * 4
                c_rows["call_data"] += [SEL_NAME, SEL_SYMBOL, SEL_DECIMALS, SEL_TOTAL_SUPPLY]
                c_rows["output"] += [
                    abi_string(names[ci]),
                    abi_string(symbols[ci]),
                    _u256_bytes(decimals[ci]),
                    _u256_bytes(supplies[ci] + blk),
                ]
                c_rows["chain_id"] += [CHAIN_ID] * 4
                for _ in range(3):  # a few balanceOf answers
                    holder = self.eoas[int(rng.integers(0, 200))]
                    c_rows["block_number"].append(blk)
                    c_rows["contract"].append(a)
                    c_rows["call_data"].append(SEL_BALANCE_OF + _addr_topic(holder))
                    c_rows["output"].append(_u256_bytes(int(rng.integers(0, 1 << 62))))
                    c_rows["chain_id"].append(CHAIN_ID)
        self.tables["fixture_calls"] = pa.table(
            {
                "block_number": pa.array(c_rows["block_number"], pa.int32()),
                "contract": pa.array(c_rows["contract"], pa.binary()),
                "call_data": pa.array(c_rows["call_data"], pa.binary()),
                "output": pa.array(c_rows["output"], pa.binary()),
                "chain_id": pa.array(c_rows["chain_id"], pa.int64()),
            }
        )

    # ---------------- opcode steps (geth structLog + parity vmTrace) ----
    def build_opcodes(self) -> None:
        """One raw step table serving both geth_opcodes (structLog
        tracer) and vm_traces (parity vmTrace): the same execution
        steps observed by two tracers. Restricted to the first 30
        blocks — per-opcode data is enormous in reality, and the
        reference's own e2e test uses 1 block for vm_traces
        (python_tests/test_datatypes.py)."""
        rng = self.rng
        ops = ["PUSH1", "PUSH32", "ADD", "MUL", "MSTORE", "MLOAD", "SSTORE",
               "SLOAD", "CALL", "JUMP", "JUMPI", "DUP1", "SWAP1", "RETURN", "STOP"]
        rows: dict[str, list] = {k: [] for k in (
            "block_number transaction_index transaction_hash trace_address depth "
            "step pc op gas gas_cost used refund_counter error memory stack "
            "storage return_data push mem_off mem_data storage_key storage_val "
            "chain_id"
        ).split()}
        for b, txi, txh, succ in self.tx_meta:
            if b >= 30:
                continue
            n_steps = int(rng.integers(5, 41))
            gas = int(rng.integers(50_000, 500_000))
            pc = 0
            depth = 1
            for s in range(n_steps):
                op = ops[int(rng.integers(0, len(ops)))]
                cost = int(rng.integers(2, 101))
                gas -= cost
                is_push = op.startswith("PUSH")
                is_store = op == "SSTORE"
                is_mem = op in ("MSTORE", "MLOAD")
                err = "out of gas" if (not succ and s == n_steps - 1) else None
                rows["block_number"].append(b)
                rows["transaction_index"].append(txi)
                rows["transaction_hash"].append(txh)
                rows["trace_address"].append("" if depth == 1 else "0")
                rows["depth"].append(depth)
                rows["step"].append(s)
                rows["pc"].append(pc)
                rows["op"].append(op)
                rows["gas"].append(gas + cost)
                rows["gas_cost"].append(cost)
                rows["used"].append(gas)
                rows["refund_counter"].append(
                    int(rng.integers(0, 4800)) if is_store and rng.random() < 0.3 else None
                )
                rows["error"].append(err)
                rows["memory"].append(
                    "0x" + _rand_bytes(rng, 1, 32)[0].hex() if is_mem and rng.random() < 0.5 else None
                )
                rows["stack"].append(
                    ",".join("0x%x" % v for v in rng.integers(0, 1 << 32, int(rng.integers(1, 4))))
                    if rng.random() < 0.5 else None
                )
                rows["storage"].append(
                    "0x" + _rand_bytes(rng, 1, 32)[0].hex() if is_store else None
                )
                rows["return_data"].append(
                    _rand_bytes(rng, 1, 32)[0] if op == "RETURN" else None
                )
                rows["push"].append(
                    _rand_bytes(rng, 1, 32 if op == "PUSH32" else 1)[0] if is_push else None
                )
                rows["mem_off"].append(int(rng.integers(0, 1024)) if is_mem else None)
                rows["mem_data"].append(_rand_bytes(rng, 1, 32)[0] if is_mem else None)
                rows["storage_key"].append(_rand_bytes(rng, 1, 32)[0] if is_store else None)
                rows["storage_val"].append(_rand_bytes(rng, 1, 32)[0] if is_store else None)
                rows["chain_id"].append(CHAIN_ID)
                pc += 33 if op == "PUSH32" else 2 if is_push else 1
                if op == "CALL" and depth == 1:
                    depth = 2
                elif op in ("RETURN", "STOP") and depth == 2:
                    depth = 1
        self.tables["fixture_opcodes"] = pa.table(
            {
                "block_number": pa.array(rows["block_number"], pa.int32()),
                "transaction_index": pa.array(rows["transaction_index"], pa.int32()),
                "transaction_hash": pa.array(rows["transaction_hash"], pa.binary()),
                "trace_address": pa.array(rows["trace_address"], pa.string()),
                "depth": pa.array(rows["depth"], pa.int64()),
                "step": pa.array(rows["step"], pa.int32()),
                "pc": pa.array(rows["pc"], pa.int64()),
                "op": pa.array(rows["op"], pa.string()),
                "gas": pa.array(rows["gas"], pa.int64()),
                "gas_cost": pa.array(rows["gas_cost"], pa.int64()),
                "used": pa.array(rows["used"], pa.int64()),
                "refund_counter": pa.array(rows["refund_counter"], pa.int64()),
                "error": pa.array(rows["error"], pa.string()),
                "memory": pa.array(rows["memory"], pa.string()),
                "stack": pa.array(rows["stack"], pa.string()),
                "storage": pa.array(rows["storage"], pa.string()),
                "return_data": pa.array(rows["return_data"], pa.binary()),
                "push": pa.array(rows["push"], pa.binary()),
                "mem_off": pa.array(rows["mem_off"], pa.int32()),
                "mem_data": pa.array(rows["mem_data"], pa.binary()),
                "storage_key": pa.array(rows["storage_key"], pa.binary()),
                "storage_val": pa.array(rows["storage_val"], pa.binary()),
                "chain_id": pa.array(rows["chain_id"], pa.int64()),
            }
        )

    # ---------------- javascript traces ----------------
    def build_js_traces(self) -> None:
        """Opaque per-tx JSON payloads, as returned verbatim by a
        node-side JS tracer (javascript_traces.rs:26-46)."""
        rng = self.rng
        rows: dict[str, list] = {k: [] for k in (
            "block_number transaction_index transaction_hash output chain_id".split()
        )}
        for b, txi, txh, succ in self.tx_meta:
            if rng.random() >= 0.3:
                continue
            ret = _rand_bytes(rng, 1, int(rng.integers(0, 33)))[0]
            out = (
                '{"gas":%d,"failed":%s,"returnValue":"0x%s"}'
                % (int(rng.integers(21_000, 500_000)), "false" if succ else "true", ret.hex())
            )
            rows["block_number"].append(b)
            rows["transaction_index"].append(txi)
            rows["transaction_hash"].append(txh)
            rows["output"].append(out)
            rows["chain_id"].append(CHAIN_ID)
        self.tables["fixture_js_traces"] = pa.table(
            {
                "block_number": pa.array(rows["block_number"], pa.int32()),
                "transaction_index": pa.array(rows["transaction_index"], pa.int32()),
                "transaction_hash": pa.array(rows["transaction_hash"], pa.binary()),
                "output": pa.array(rows["output"], pa.string()),
                "chain_id": pa.array(rows["chain_id"], pa.int64()),
            }
        )

    # ---------------- trace_calls (simulated call traces) ----------------
    def build_trace_calls(self) -> None:
        """trace_call simulation results for (contract, calldata) x
        sample-block combinations (trace_calls.rs:48-60): a small
        trace tree per simulated call, tagged with the request's
        to-address + calldata."""
        rng = self.rng
        rows: dict[str, list] = {k: [] for k in (
            "block_number transaction_index action_from action_to action_value "
            "action_gas action_input action_call_type action_init "
            "action_reward_type action_type result_gas_used result_output "
            "result_code result_address trace_address subtraces error "
            "tx_to_address tx_call_data chain_id"
        ).split()}
        calldatas = [
            self.selectors[i] + _rand_bytes(rng, 1, 32)[0] for i in range(2)
        ]
        for blk in SAMPLE_BLOCKS:
            for contract in self.contracts[:10]:
                for cd in calldatas:
                    n_sub = int(rng.integers(0, 3))
                    err = "Reverted" if rng.random() < 0.1 else None
                    frames = [("", "call", n_sub)] + [
                        (str(j), "call", 0) for j in range(n_sub)
                    ]
                    for addr_str, _atype, subs in frames:
                        is_root = addr_str == ""
                        rows["block_number"].append(blk)
                        rows["transaction_index"].append(0)
                        rows["action_from"].append(
                            self.eoas[0] if is_root else contract
                        )
                        rows["action_to"].append(
                            contract if is_root
                            else self.contracts[int(rng.integers(0, 20))]
                        )
                        rows["action_value"].append(0)
                        rows["action_gas"].append(int(rng.integers(21_000, 1_000_000)))
                        rows["action_input"].append(
                            cd if is_root else _rand_bytes(rng, 1, int(rng.integers(4, 36)))[0]
                        )
                        rows["action_call_type"].append(
                            "call" if is_root
                            else str(rng.choice(["call", "staticcall", "delegatecall"]))
                        )
                        rows["action_init"].append(None)
                        rows["action_reward_type"].append(None)
                        rows["action_type"].append("call")
                        rows["result_gas_used"].append(int(rng.integers(0, 500_000)))
                        rows["result_output"].append(_rand_bytes(rng, 1, int(rng.integers(0, 33)))[0])
                        rows["result_code"].append(None)
                        rows["result_address"].append(None)
                        rows["trace_address"].append(addr_str)
                        rows["subtraces"].append(subs)
                        rows["error"].append(err if is_root else None)
                        rows["tx_to_address"].append(contract)
                        rows["tx_call_data"].append(cd)
                        rows["chain_id"].append(CHAIN_ID)
        self.tables["fixture_trace_calls"] = pa.table(
            {
                "block_number": pa.array(rows["block_number"], pa.int32()),
                "transaction_index": pa.array(rows["transaction_index"], pa.int32()),
                "action_from": pa.array(rows["action_from"], pa.binary()),
                "action_to": pa.array(rows["action_to"], pa.binary()),
                "action_value": _u256blob(rows["action_value"]),
                "action_gas": pa.array(rows["action_gas"], pa.int32()),
                "action_input": pa.array(rows["action_input"], pa.binary()),
                "action_call_type": pa.array(rows["action_call_type"], pa.string()),
                "action_init": pa.array(rows["action_init"], pa.binary()),
                "action_reward_type": pa.array(rows["action_reward_type"], pa.string()),
                "action_type": pa.array(rows["action_type"], pa.string()),
                "result_gas_used": pa.array(rows["result_gas_used"], pa.int32()),
                "result_output": pa.array(rows["result_output"], pa.binary()),
                "result_code": pa.array(rows["result_code"], pa.binary()),
                "result_address": pa.array(rows["result_address"], pa.binary()),
                "trace_address": pa.array(rows["trace_address"], pa.string()),
                "subtraces": pa.array(rows["subtraces"], pa.int32()),
                "error": pa.array(rows["error"], pa.string()),
                "tx_to_address": pa.array(rows["tx_to_address"], pa.binary()),
                "tx_call_data": pa.array(rows["tx_call_data"], pa.binary()),
                "chain_id": pa.array(rows["chain_id"], pa.int64()),
            }
        )

    def build_all(self) -> dict[str, pa.Table]:
        self.build_blocks()
        self.build_transactions()
        self.build_logs()
        self.build_traces()
        self.build_state()
        self.build_accounts()
        # appended builders (rng consumed after the originals, so the
        # tables above stay identical across versions)
        self.build_opcodes()
        self.build_js_traces()
        self.build_trace_calls()
        return self.tables


def default_fixtures_dir() -> str:
    return os.environ.get(
        "CRYO_SPARK_FIXTURES",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures"),
    )


def generate(outdir: str | None = None, overwrite: bool = False) -> str:
    outdir = outdir or default_fixtures_dir()
    os.makedirs(outdir, exist_ok=True)
    # marker = newest table: forces a one-time regeneration whenever a
    # builder is added (all earlier tables reproduce byte-identically)
    marker = os.path.join(outdir, "fixture_trace_calls.parquet")
    if os.path.exists(marker) and not overwrite:
        return outdir
    tables = FixtureBuilder().build_all()
    for name, table in tables.items():
        # small row groups so Spark's scan splits parallelize even on
        # these small files (one row group = one task otherwise); real
        # deployments use the default ~128MB groups over many files
        pq.write_table(
            table, os.path.join(outdir, f"{name}.parquet"), row_group_size=2048
        )
    return outdir


if __name__ == "__main__":
    out = generate(sys.argv[1] if len(sys.argv) > 1 else None, overwrite=True)
    for f in sorted(os.listdir(out)):
        p = os.path.join(out, f)
        print(f, pq.read_metadata(p).num_rows, "rows")

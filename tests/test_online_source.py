"""End-to-end online extraction: collect()/freeze() with an
OnlineSource routing every raw-table read to live (fake-node) fetch
stages — the reference's primary workflow (online extraction to
DataFrames / sorted chunk files) with the transforms unchanged."""

from __future__ import annotations

import os

import pytest

from cryo_spark import api
from cryo_spark.sources.online import OnlineSource
from cryo_spark.sources.rpc_families import full_fake_transport_factory as FAKE


def _src(**kw):
    return OnlineSource(transport_factory=FAKE, **kw)


def test_online_collect_blocks(spark):
    out = api.collect(
        spark, "blocks", blocks="100:110", columns=["all"], source=_src(),
    )
    rows = out.orderBy("block_number").collect()
    assert len(rows) == 10
    assert rows[0].block_number == 100
    assert rows[0].timestamp == 1_600_000_000 + 12 * 100
    assert rows[0].base_fee_per_gas == 10**9


def test_online_collect_transactions_joins_block_basefee(spark):
    """The transactions transform broadcast-joins the blocks raw for
    EIP-1559 gas price — online BOTH tables come from the fake node."""
    out = api.collect(
        spark, "transactions", blocks="101:104", source=_src(),
    ).collect()
    assert len(out) == sum(n % 4 for n in range(101, 104))
    typed = [r for r in out if r.transaction_type == 2]
    assert typed, "fake emits type-2 txs on odd blocks"
    # effective gas price = base_fee + min(priority, max_fee - base_fee)
    for r in typed:
        assert r.gas_price == 10**9 + 10**8


def test_online_collect_trace_family_shares_one_fetch(spark):
    """contracts + native_transfers + traces all consume the traces
    raw: the OnlineSource memoizes the fetched frame, so the family
    hits the network once (MultiDatatype shared-fetch, meta.rs:23-39)."""
    src = _src()
    from cryo_spark.sources import use_source

    with use_source(src):
        traces = api._collect_impl(spark, "traces", blocks="9:13")
        transfers = api._collect_impl(spark, "native_transfers", blocks="9:13")
    assert traces.count() > 0 and transfers.count() > 0
    assert set(src._cache) == {"traces"}  # one fetched table serves both


def test_online_collect_state_diffs(spark):
    out = api.collect(
        spark, "storage_diffs", blocks="9:12", source=_src(),
    ).collect()
    assert out and all(r.slot is not None for r in out)


def test_online_collect_balances_point_family(spark):
    addr = bytes.fromhex("11" * 20)
    out = api.collect(
        spark, "balances", blocks="5:7", address=[addr], source=_src(addresses=[addr]),
    ).collect()
    assert len(out) == 2  # 2 blocks x 1 address
    assert all(r.address == addr for r in out)


def test_online_freeze_to_chunked_files(spark, tmp_path):
    summary = api.freeze(
        spark, ["blocks", "logs"], blocks="0:100", chunk_size=50,
        output_dir=str(tmp_path), overwrite=True, report=False,
        source=_src(),
    )
    names = sorted(os.path.basename(p) for p in summary["completed_paths"])
    assert names == [
        "ethereum__blocks__00000000_to_00000049.parquet",
        "ethereum__blocks__00000050_to_00000099.parquet",
        "ethereum__logs__00000000_to_00000049.parquet",
        "ethereum__logs__00000050_to_00000099.parquet",
    ]
    assert summary["n_rows"] > 0


def _fake_hash(n: int, k: int) -> str:
    return "0x" + ((n * 1000 + k).to_bytes(8, "big") * 4).hex()


def test_online_collect_by_transaction(spark):
    """txs= through an OnlineSource: per-hash lookups, with the
    blocks raw (EIP-1559 base-fee context) derived from the fetched
    txs' block numbers — no block spec anywhere, matching the
    reference's collect-by-transaction workflow
    (collect_by_transaction.rs:11-67)."""
    hashes = [_fake_hash(101, 0), _fake_hash(102, 1), _fake_hash(103, 2)]
    out = api.collect(spark, "transactions", txs=hashes, source=_src())
    rows = {("0x" + bytes(r.transaction_hash).hex()): r for r in out.collect()}
    assert set(rows) == set(hashes)
    # identical to the per-block online path for the same hashes
    # (post-transform: gas_price derived from the block base fee)
    ref = api.collect(spark, "transactions", blocks="101:104", source=_src())
    want = {
        "0x" + bytes(r.transaction_hash).hex(): tuple(r) for r in ref.collect()
    }
    for h, r in rows.items():
        assert tuple(r) == want[h]


def test_online_collect_by_transaction_other_families(spark):
    """txs= routing beyond transactions: logs (receipt logs), traces
    (trace_transaction), and storage_diffs (trace_replayTransaction)
    all fetch per hash and land the same rows the per-block path
    lands for those txs — full CollectByTransaction parity online."""
    hashes = [_fake_hash(10, 0), _fake_hash(11, 1)]
    keyset = {(10, 0), (11, 1)}
    for datatype, key_cols in [
        ("logs", ("block_number", "transaction_index")),
        ("traces", ("block_number", "transaction_index")),
        ("storage_diffs", ("block_number", "transaction_index")),
    ]:
        got = api.collect(
            spark, datatype, txs=hashes, source=_src()
        ).collect()
        assert got, datatype
        ref = api.collect(
            spark, datatype, blocks="10:12", source=_src()
        ).collect()
        want = sorted(
            (
                tuple(r) for r in ref
                if tuple(getattr(r, c) for c in key_cols) in keyset
            ),
            key=repr,  # None-safe ordering
        )
        assert sorted((tuple(r) for r in got), key=repr) == want, datatype


def test_online_freeze_by_transaction(spark, tmp_path):
    summary = api.freeze(
        spark, "transactions", txs=[_fake_hash(102, 0), _fake_hash(103, 1)],
        output_dir=str(tmp_path), overwrite=True, report=False,
        source=_src(),
    )
    assert summary["n_rows"] == 2
    assert len(summary["completed_paths"]) == 1
    back = spark.read.parquet(summary["completed_paths"][0])
    assert back.count() == 2


def test_online_timestamp_bisection_unit():
    """timestamp -> block against the live chain: closest block with
    timestamp <= ts (timestamps.rs:274-310); fake ts(n)=1.6e9+12n."""
    src = _src()
    assert src.latest_block_number() == 9999
    for ts, want in [
        (1_600_000_000, 0), (1_599_000_000, 0),
        (1_600_001_200, 100), (1_600_001_205, 100),
        (1_600_001_211, 100), (1_600_001_212, 101),
        (1_600_119_988, 9999), (2_000_000_000, 9999),
    ]:
        assert src.timestamp_to_block(ts) == want, ts


def test_online_collect_latest_block_spec(spark):
    """`latest` in a block spec resolves via eth_blockNumber when an
    OnlineSource is active (blocks.rs:131-146) — no explicit tip, no
    landed lake."""
    out = api.collect(spark, "blocks", blocks="9990:latest", source=_src())
    assert {r.block_number for r in out.collect()} == set(range(9990, 10000))


def test_online_collect_latest_default_dataset(spark):
    """A latest-default dataset (balances) with NO block spec probes
    the node for the tip instead of erroring."""
    addr = bytes.fromhex("22" * 20)
    out = api.collect(
        spark, "balances", address=[addr], source=_src(addresses=[addr]),
    ).collect()
    assert len(out) == 1 and out[0].block_number == 9999


def test_online_timestamp_chunks_use_olog_n_probes(spark):
    """timestamps= online: chunk boundaries resolve by live-chain
    bisection — O(log tip) driver probes per boundary, never a Spark
    job or a lake read."""
    from cryo_spark.sources.rpc_families import ProbeLogFakeFactory

    factory = ProbeLogFakeFactory()
    src = OnlineSource(transport_factory=factory)
    out = api.collect(
        spark, "blocks", timestamps="1600001200:1600002400", source=src,
    )
    assert {r.block_number for r in out.collect()} == set(range(100, 200))
    assert factory.calls.count("eth_blockNumber") == 1
    # 1 tip header + 2 boundaries x ceil(log2(10000)) headers max
    headers = factory.calls.count("eth_getBlockByNumber")
    assert headers <= 1 + 2 * 15


def test_online_source_requires_dims_for_point_families(spark):
    with pytest.raises(ValueError, match="address"):
        api.collect(spark, "balances", blocks="5:6", source=_src()).collect()


def test_replay_still_default(spark, fixtures_dir):
    """No source argument -> replay lake, unchanged behavior."""
    out = api.collect(spark, "blocks", blocks="0:5", fixtures_dir=fixtures_dir)
    assert out.count() == 5


def test_cli_online_flag(spark, tmp_path, monkeypatch):
    """`--rpc` switches the CLI to live extraction (reference
    online-first behavior); the http transport is swapped for the
    fake node at the module seam the fetchers resolve at call time."""
    from cryo_spark.sources import rpc

    monkeypatch.setattr(rpc, "http_transport", FAKE)
    rc = api.main([
        "blocks", "-b", "100:120", "-o", str(tmp_path),
        "--chunk-size", "10", "--rpc", "http://fake-node:8545",
        "--no-report", "--overwrite",
    ])
    assert rc == 0
    files = sorted(p.name for p in tmp_path.glob("*.parquet"))
    assert files == [
        "ethereum__blocks__00000100_to_00000109.parquet",
        "ethereum__blocks__00000110_to_00000119.parquet",
    ]
    got = spark.read.parquet(str(tmp_path / files[0])).orderBy("block_number")
    assert got.first().timestamp == 1_600_000_000 + 12 * 100


def test_cli_online_txs_and_timestamps(spark, tmp_path, monkeypatch):
    """CLI parity for the round-5 online paths: `--rpc --txs` freezes
    by per-hash fetch; `--rpc --timestamps` resolves chunk boundaries
    against the live chain (no landed lake anywhere)."""
    from cryo_spark.sources import rpc

    monkeypatch.setattr(rpc, "http_transport", FAKE)
    rc = api.main([
        "transactions", "--txs", _fake_hash(102, 0), _fake_hash(103, 1),
        "-o", str(tmp_path), "--rpc", "http://fake-node:8545",
        "--no-report", "--overwrite",
    ])
    assert rc == 0
    (txfile,) = tmp_path.glob("*transactions*.parquet")
    assert spark.read.parquet(str(txfile)).count() == 2

    rc = api.main([
        "blocks", "--timestamps", "1600001200:1600001440",
        "-o", str(tmp_path), "--rpc", "http://fake-node:8545",
        "--no-report", "--overwrite",
    ])
    assert rc == 0
    # ts range [1600001200, 1600001440) -> blocks 100..119 (12s/block)
    (bfile,) = tmp_path.glob("*blocks*00000100_to_00000119*.parquet")
    got = spark.read.parquet(str(bfile))
    assert got.count() == 20


def test_cli_offline_forces_replay(tmp_path, monkeypatch, fixtures_dir):
    """--offline keeps the replay lake even when ETH_RPC_URL is set."""
    monkeypatch.setenv("ETH_RPC_URL", "http://unreachable:1")
    rc = api.main([
        "blocks", "-b", "0:20", "-o", str(tmp_path), "--chunk-size", "20",
        "--online", "--offline", "--no-report", "--overwrite",
    ])
    assert rc == 0
    assert list(tmp_path.glob("*blocks*.parquet"))


def test_online_collect_multi_shares_fetch(spark):
    """collect_multi with a source: every member of a shared-fetch
    group comes from ONE fetched raw table (memoized by the source),
    and the offline persist_shared_raws path is bypassed."""
    src = _src()
    out = api.collect_multi(
        spark, ["call_trace_derivatives"], blocks="9:13", source=src,
    )
    assert set(out) == {"contracts", "native_transfers", "traces"}
    assert all(df.count() > 0 for name, df in out.items() if name == "traces")
    assert set(src._cache) == {"traces"}


def test_reused_source_refetches_on_new_tx_hashes(spark):
    """adopt_tx_hashes mirrors adopt_chunks: a source reused with a
    DIFFERENT txs= list drops its memoized per-hash fetch and serves
    the new hashes, never the stale ones."""
    src = _src()
    a = api.collect(spark, "transactions", txs=[_fake_hash(101, 0)], source=src)
    assert [r.block_number for r in a.collect()] == [101]
    b = api.collect(
        spark, "transactions",
        txs=[_fake_hash(102, 0), _fake_hash(102, 1)], source=src,
    )
    assert sorted(r.transaction_index for r in b.collect()) == [0, 1]


def test_reused_source_switches_between_time_dimensions(spark):
    """A reused source must serve correct rows when consecutive
    collects switch dimension: txs= -> blocks= drops the adopted tx
    state (else the per-hash cache + by-hash routing serve 1 stale
    row), and blocks= -> txs= drops the adopted chunks (else by_hash
    stays off and the hash filter over the old block sweep silently
    returns 0 rows)."""
    src = _src()
    a = api.collect(spark, "transactions", txs=[_fake_hash(101, 0)], source=src)
    assert a.count() == 1
    b = api.collect(spark, "transactions", blocks="101:104", source=src)
    assert b.count() == sum(n % 4 for n in range(101, 104))

    src2 = _src()
    c = api.collect(spark, "logs", blocks="10:12", source=src2)
    assert c.count() > 0
    d = api.collect(spark, "logs", txs=[_fake_hash(503, 1)], source=src2)
    assert d.count() == 1  # fresh per-hash fetch, not the stale sweep


def test_freeze_by_transaction_skips_tip_probe(spark, tmp_path):
    """freeze(txs=...) has no block chunks to resolve: the
    default-blocks branch must not probe eth_blockNumber just to
    throw the answer away (and must not fail if the probe would)."""
    from cryo_spark.sources.rpc_families import ProbeLogFakeFactory

    factory = ProbeLogFakeFactory()
    summary = api.freeze(
        spark, "transactions", txs=[_fake_hash(102, 0)],
        output_dir=str(tmp_path), overwrite=True, report=False,
        source=OnlineSource(transport_factory=factory),
    )
    assert summary["n_rows"] == 1
    assert "eth_blockNumber" not in factory.calls


def test_reused_source_refetches_on_new_block_range(spark):
    """A source reused across collect calls with a DIFFERENT block
    range must drop its memoized fetches and serve the new range —
    never the stale one."""
    src = _src()
    a = api.collect(spark, "blocks", blocks="100:105", source=src)
    assert {r.block_number for r in a.collect()} == set(range(100, 105))
    b = api.collect(spark, "blocks", blocks="200:203", source=src)
    assert {r.block_number for r in b.collect()} == set(range(200, 203))
    # caller-seeded chunks are never overridden
    from cryo_spark import plan

    pinned = OnlineSource(
        plan.parse_block_inputs("300:302"), transport_factory=FAKE,
    )
    c = api.collect(spark, "blocks", blocks="400:410", source=pinned)
    assert {r.block_number for r in c.collect()} == set()  # 300:302 fetched, 400:410 filtered

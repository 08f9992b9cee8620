"""Online fetch-stage tests with a deterministic fake transport (no
network in this environment; the reference tests the same layer with
a mock IPC server — cli/parse/blocks.rs:394-440)."""

from __future__ import annotations

import pytest

from cryo_spark import plan
from cryo_spark.sources.rpc import (
    FlakyTransportFactory,
    RpcConfig,
    _Pacer,
    fake_transport_factory,
    fetch_blocks,
    work_list_df,
)


def test_fetch_blocks_roundtrip(spark):
    chunks = plan.parse_block_inputs("50:150")
    wl = work_list_df(spark, chunks, n_partitions=4)
    out = fetch_blocks(
        spark, wl, transport_factory=fake_transport_factory
    ).orderBy("block_number")
    rows = out.collect()
    assert len(rows) == 100
    assert rows[0].block_number == 50
    assert rows[0].timestamp == 1_600_000_000 + 12 * 50
    assert rows[0].base_fee_per_gas is None  # pre-1559
    assert rows[-1].base_fee_per_gas == 10**9
    assert rows[-1].gas_used == 21_000 * 149
    assert rows[0].author == bytes([50 % 16]) * 20


def test_fetch_blocks_retries_transient_failures(spark):
    wl = work_list_df(spark, plan.parse_block_inputs("0:10"), n_partitions=1)
    cfg = RpcConfig(max_retries=3, initial_backoff_s=0.01)
    out = fetch_blocks(
        spark, wl, config=cfg, transport_factory=FlakyTransportFactory(2)
    )
    assert out.count() == 10


def test_online_pipeline_fetch_to_chunked_files(spark, tmp_path):
    """Full online path: planner work-list -> mapInPandas fetch (fake
    node) -> chunk-aligned cryo-named files — the lifecycle the
    reference runs per freeze (SURVEY §3.1). The work list holds one
    chunk per partition, so this is ONE Spark stage: each fetch task
    sorts and writes its own chunk's file, with no shuffle."""
    import os

    from cryo_spark import io as cio

    chunks = plan.subchunk_by_size(plan.parse_block_inputs("0:400"), 100)
    wl = work_list_df(spark, chunks, n_partitions=4)
    fetched = fetch_blocks(spark, wl, transport_factory=fake_transport_factory)
    sink = cio.FileOutput(output_dir=str(tmp_path / "out"), prefix="fakenet")
    assert cio.keeps_work_list_partitions(fetched)
    res = cio.write_chunked(fetched, "blocks", chunks, sink, in_place=True)
    assert res["in_place"]
    names = sorted(os.path.basename(p) for p in res["completed_paths"])
    assert names[0] == "fakenet__blocks__00000000_to_00000099.parquet"
    assert len(names) == 4 and res["n_rows"] == 400
    back = spark.read.parquet(res["completed_paths"][2])
    rows = back.orderBy("block_number").collect()
    assert [r.block_number for r in rows] == list(range(200, 300))
    assert rows[0].timestamp == 1_600_000_000 + 12 * 200


def test_pacer_gives_up_after_max_retries():
    cfg = RpcConfig(max_retries=2, initial_backoff_s=0.001)
    pacer = _Pacer(cfg)
    calls = {"n": 0}

    def always_fail(method, params):
        calls["n"] += 1
        raise ConnectionError("down")

    with pytest.raises(ConnectionError):
        pacer.call(always_fail, "eth_getBlockByNumber", ["0x1", False])
    assert calls["n"] == 3  # initial + 2 retries


def test_pacer_rate_limit_spacing():
    import time

    cfg = RpcConfig(requests_per_second=100)
    pacer = _Pacer(cfg)
    t0 = time.monotonic()
    for _ in range(5):
        pacer.call(lambda m, p: {}, "eth_getBlockByNumber", [])
    assert time.monotonic() - t0 >= 0.04  # 5 calls at 100 rps >= 40ms


def test_pacer_batch_charges_per_inner_request(monkeypatch):
    """A batch POST charges the token bucket for every inner request
    it carries (CU-metered providers meter per inner request): 10
    requests at rps=100 must advance the bucket by 0.1s whether sent
    as 10 singles or 2 batches of 5."""
    import cryo_spark.sources.rpc as rpcmod

    monkeypatch.setattr(rpcmod.time, "sleep", lambda s: None)
    monkeypatch.setattr(rpcmod.time, "monotonic", lambda: 0.0)

    def transport(method, params):
        return {}

    transport.batch = lambda reqs: [{} for _ in reqs]
    reqs = [("eth_getBlockByNumber", [hex(i), False]) for i in range(10)]
    pacer = rpcmod._Pacer(RpcConfig(requests_per_second=100, batch_size=5))
    pacer.call_many(transport, reqs)
    assert pacer._next_ok == pytest.approx(0.1)
    single = rpcmod._Pacer(RpcConfig(requests_per_second=100, batch_size=1))
    single.call_many(transport, reqs)
    assert single._next_ok == pytest.approx(0.1)


def test_pacer_rate_limit_holds_under_concurrent_dispatch(monkeypatch):
    """The token bucket reserves each slot under a lock: N requests at
    requests_per_second=R through call_many with 8 in flight still
    take at least (N-1)/R. With the clock frozen, every thread hits
    the bucket at once; a lost update would leave it short of N/R."""
    import sys
    import time

    import cryo_spark.sources.rpc as rpcmod

    n, rps = 40, 400.0
    reqs = [("eth_getBlockByNumber", [hex(i), False]) for i in range(n)]
    pacer = _Pacer(RpcConfig(requests_per_second=rps, max_concurrent_requests=8))
    t0 = time.monotonic()
    assert pacer.call_many(lambda m, p: p[0], reqs) == [hex(i) for i in range(n)]
    assert time.monotonic() - t0 >= (n - 1) / rps

    n = 4000
    reqs = [("eth_getBlockByNumber", [hex(i), False]) for i in range(n)]
    monkeypatch.setattr(rpcmod.time, "sleep", lambda s: None)
    monkeypatch.setattr(rpcmod.time, "monotonic", lambda: 0.0)
    pacer = _Pacer(RpcConfig(requests_per_second=rps, max_concurrent_requests=16))
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        pacer.call_many(lambda m, p: p[0], reqs)
    finally:
        sys.setswitchinterval(old)
    assert pacer._next_ok == pytest.approx(n / rps)


def test_call_many_bounds_in_flight_and_keeps_order():
    """call_many keeps up to max_concurrent_requests units in flight,
    never more, and returns results in request order; width 1 is the
    serial loop. Batch POSTs are the units when batch_size > 1."""
    import threading
    import time

    def counting_transport():
        state = {"now": 0, "peak": 0}
        lock = threading.Lock()

        def enter():
            with lock:
                state["now"] += 1
                state["peak"] = max(state["peak"], state["now"])
            time.sleep(0.005)
            with lock:
                state["now"] -= 1

        def call(method, params):
            enter()
            return params[0]

        def batch(reqs):
            enter()
            return [p[0] for _m, p in reqs]

        call.batch = batch
        return call, state

    reqs = [("eth_getBlockByNumber", [hex(i), False]) for i in range(40)]
    want = [hex(i) for i in range(40)]
    for width, batch_size in [(8, 1), (1, 1), (3, 7)]:
        transport, state = counting_transport()
        pacer = _Pacer(RpcConfig(max_concurrent_requests=width, batch_size=batch_size))
        assert pacer.call_many(transport, reqs) == want
        if width == 1:
            assert state["peak"] == 1
        else:
            assert 1 < state["peak"] <= width, (width, batch_size, state)
    with pytest.raises(ValueError, match="max_concurrent_requests"):
        RpcConfig(max_concurrent_requests=0)


def test_call_many_fails_fast_and_leaks_no_threads():
    """One request out of retries fails the whole call_many: the error
    propagates, queued requests are cancelled (far fewer transport
    calls than every request retried to exhaustion), and no pool
    thread outlives the call."""
    import threading

    cfg = RpcConfig(max_retries=2, initial_backoff_s=0.001, max_concurrent_requests=16)
    calls = {"n": 0}
    lock = threading.Lock()

    def always_fail(method, params):
        with lock:
            calls["n"] += 1
        raise ConnectionError("down")

    before = threading.active_count()
    reqs = [("eth_getBlockByNumber", [hex(i), False]) for i in range(200)]
    with pytest.raises(ConnectionError, match="down"):
        _Pacer(cfg).call_many(always_fail, reqs)
    assert calls["n"] < 200 * (cfg.max_retries + 1)
    assert threading.active_count() == before


def test_rpc_url_resolution(monkeypatch):
    # cli/parse/source.rs:72-108: arg > ETH_RPC_URL > error; bare
    # hosts get an http:// prefix
    from cryo_spark.sources.rpc import RpcConfig, resolve_rpc_url

    monkeypatch.delenv("ETH_RPC_URL", raising=False)
    assert resolve_rpc_url("https://node.example") == "https://node.example"
    assert resolve_rpc_url("node.example:8545") == "http://node.example:8545"
    with pytest.raises(ValueError, match="ETH_RPC_URL"):
        resolve_rpc_url(None)
    monkeypatch.setenv("ETH_RPC_URL", "envnode:1234")
    assert resolve_rpc_url(None) == "http://envnode:1234"
    assert RpcConfig.from_env().url == "http://envnode:1234"



def test_fetch_logs_ranged_with_pushdown(spark):
    """C4 online: eth_getLogs ranged requests capped at
    inner_request_size; address/topic0 predicates pushed into the
    RPC filter (rpc_params.rs:99-131)."""
    from cryo_spark.sources.rpc import (
        RangeCappedFakeFactory, RpcConfig, fetch_logs, work_list_df,
    )
    from cryo_spark.plan import BlockChunk

    cfg = RpcConfig(inner_request_size=10)
    wl = work_list_df(spark, [BlockChunk(start=0, end=99)])
    out = fetch_logs(
        spark, wl, cfg, transport_factory=RangeCappedFakeFactory(10)
    )
    rows = out.collect()
    # block n emits n % 3 logs, but only when it has txs (n % 4 > 0)
    assert len(rows) == sum(n % 3 for n in range(100) if n % 4)
    assert {r["chain_id"] for r in rows} == {1}
    # topic0 pushdown: only k=1 logs (topic0 = 0x01*32) survive, and
    # the node (fake) did the filtering, not Spark
    t0 = bytes([1]) * 32
    filtered = fetch_logs(
        spark, wl, cfg, transport_factory=RangeCappedFakeFactory(10), topic0=t0
    ).collect()
    assert len(filtered) == sum(1 for n in range(100) if n % 3 == 2 and n % 4)
    assert all(bytes(r["topic0"]) == t0 for r in filtered)


def test_pacer_compute_units_backoff_floor(monkeypatch):
    """CU-based retry throttle (RetryBackoffLayer, source.rs:17-21):
    a failed call backs off >= one request's compute units."""
    import cryo_spark.sources.rpc as rpcmod

    sleeps = []
    monkeypatch.setattr(rpcmod.time, "sleep", lambda s: sleeps.append(s))
    cfg = RpcConfig(
        initial_backoff_s=0.001, compute_units_per_second=200,
        compute_units_per_request=100, max_retries=2,
    )
    state = {"n": 0}

    def flaky(method, params):
        state["n"] += 1
        if state["n"] == 1:
            raise ConnectionError("boom")
        return {}

    rpcmod._Pacer(cfg).call(flaky, "eth_getBlockByNumber", [])
    assert sleeps and sleeps[0] >= 0.5  # 100 CU / 200 CU/s


def test_mesc_resolution(monkeypatch, tmp_path):
    """MESC-first resolution (cli/parse/source.rs:74-108): endpoint
    name and chain-id queries, profile/global defaults, file and env
    configs, DISABLED mode, and the ETH_RPC_URL fallthrough."""
    import json

    from cryo_spark.sources.rpc import resolve_rpc_url

    cfg = {
        "mesc_version": "0.2.0",
        "default_endpoint": "local_eth",
        "endpoints": {
            "local_eth": {"name": "local_eth", "url": "localhost:8545",
                          "chain_id": "1"},
            "llama_op": {"name": "llama_op", "url": "https://op.llamarpc.com",
                         "chain_id": "10"},
        },
        "network_defaults": {"10": "llama_op"},
        "profiles": {"cryo": {"default_endpoint": "llama_op"}},
    }
    p = tmp_path / "mesc.json"
    p.write_text(json.dumps(cfg))
    monkeypatch.delenv("ETH_RPC_URL", raising=False)
    monkeypatch.setenv("MESC_MODE", "PATH")
    monkeypatch.setenv("MESC_PATH", str(p))
    # endpoint-name query; bare host gets the http:// prefix
    assert resolve_rpc_url("local_eth") == "http://localhost:8545"
    # chain-id query via network_defaults
    assert resolve_rpc_url("10") == "https://op.llamarpc.com"
    # no query -> "cryo" profile default wins over global default
    assert resolve_rpc_url() == "https://op.llamarpc.com"
    # unmatched query falls through to the literal URL
    assert resolve_rpc_url("http://other:1234") == "http://other:1234"
    # env-JSON config mode
    monkeypatch.setenv("MESC_MODE", "ENV")
    monkeypatch.delenv("MESC_PATH")
    monkeypatch.setenv("MESC_ENV", json.dumps({**cfg, "profiles": {}}))
    assert resolve_rpc_url() == "http://localhost:8545"  # global default
    # DISABLED: back to env-var resolution
    monkeypatch.setenv("MESC_MODE", "DISABLED")
    monkeypatch.setenv("ETH_RPC_URL", "http://fallback:8545")
    assert resolve_rpc_url() == "http://fallback:8545"
    # broken config is non-fatal (reference eprintln-and-continue)
    monkeypatch.setenv("MESC_MODE", "PATH")
    monkeypatch.setenv("MESC_PATH", str(tmp_path / "missing.json"))
    assert resolve_rpc_url() == "http://fallback:8545"


def _partitions(wl) -> list[list[int]]:
    """Block numbers per partition, in partition and row order."""
    from pyspark.sql import functions as F

    rows = wl.select("block_number", F.spark_partition_id().alias("p")).collect()
    out: list[list[int]] = [[] for _ in range(wl.rdd.getNumPartitions())]
    for r in rows:
        out[r.p].append(r.block_number)
    return out


def test_work_list_holds_one_chunk_per_partition(spark):
    """Partition i holds exactly chunk i's blocks, ascending: uneven
    range sizes (short last chunk) and explicit ``numbers`` chunks,
    given in any order, alike."""
    from cryo_spark.plan import BlockChunk

    chunks = plan.subchunk_by_size(plan.parse_block_inputs("10:33"), 7) + [
        BlockChunk(numbers=(90, 80, 85)),
        BlockChunk(start=40, end=40),
        BlockChunk(numbers=(5,)),
    ]
    assert _partitions(work_list_df(spark, chunks)) == [
        sorted(c.values()) for c in chunks
    ]


def test_work_list_plan_is_narrow(spark):
    """No Exchange and no Union: one ``Range`` leaf exploded to blocks,
    which is what lets the chunked write run in the fetch task."""
    from cryo_spark import io as cio

    chunks = plan.subchunk_by_size(plan.parse_block_inputs("0:1000"), 100)
    wl = work_list_df(spark, chunks)
    text = wl._jdf.queryExecution().executedPlan().treeString()
    assert "Exchange" not in text and "Union" not in text
    assert cio.keeps_work_list_partitions(wl)
    # the check itself: a union, a shuffle or a scan leaf (partitioned
    # by split, not by chunk) fails it; a broadcast side does not count
    assert not cio.keeps_work_list_partitions(wl.unionByName(wl))
    assert not cio.keeps_work_list_partitions(wl.repartition(3))
    from pyspark.sql import functions as F

    small = spark.createDataFrame([(5,)], "block_number int")
    assert not cio.keeps_work_list_partitions(small)
    assert cio.keeps_work_list_partitions(wl.join(F.broadcast(small), "block_number"))


def test_work_list_n_partitions_override(spark):
    """Fewer partitions than chunks keep chunks whole and in order;
    more partitions split them (a range shuffle); every block stays."""
    chunks = plan.subchunk_by_size(plan.parse_block_inputs("0:60"), 10)
    fewer = _partitions(work_list_df(spark, chunks, n_partitions=4))
    assert len(fewer) == 4
    assert [b for p in fewer for b in p] == list(range(60))
    assert all(p and p[0] % 10 == 0 and len(p) % 10 == 0 for p in fewer)
    more = work_list_df(spark, chunks, n_partitions=12)
    assert more.rdd.getNumPartitions() == 12
    assert sorted(b for p in _partitions(more) for b in p) == list(range(60))


def test_work_list_builds_10k_chunks_in_bounded_time(spark):
    """10,000 chunks are three array literals in one plan, not a
    10,000-way union that Catalyst has to analyze."""
    import time

    from cryo_spark.plan import BlockChunk

    chunks = [BlockChunk(start=3 * i, end=3 * i + 1) for i in range(10_000)]
    chunks[-1] = BlockChunk(numbers=(40_000, 40_002))
    t0 = time.perf_counter()
    wl = work_list_df(spark, chunks)
    text = wl._jdf.queryExecution().executedPlan().treeString()
    assert time.perf_counter() - t0 < 30
    assert "Union" not in text and "splits=10000" in text
    # a limit reads partition 0 only: chunk 0, not 10,000 tasks
    assert [r.block_number for r in wl.limit(2).collect()] == [0, 1]

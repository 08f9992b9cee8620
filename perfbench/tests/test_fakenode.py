"""The closed-form row oracle against real fetches from the fake node."""

from __future__ import annotations

import os
import pickle

import pyarrow.parquet as pq
import pytest

from cryo_spark.sources.rpc import RpcConfig
from perfbench.fakenode import CountingFakeNode, RetryableError, expected_rows, read_counts


def _fetch_rows(transport, lo: int, hi: int) -> dict[str, int]:
    rows = {"blocks": 0, "transactions": 0, "logs": 0, "traces": 0}
    for n in range(lo, hi + 1):
        block = transport("eth_getBlockByNumber", [hex(n), True])
        rows["blocks"] += 1
        rows["transactions"] += len(block["transactions"])
        rows["traces"] += len(transport("trace_block", [hex(n)]))
    rows["logs"] = len(transport("eth_getLogs", [{"fromBlock": hex(lo), "toBlock": hex(hi)}]))
    return rows


@pytest.mark.parametrize("lo, hi", [(0, 239), (12_345, 12_600), (7, 7)])
def test_closed_form_matches_node(lo, hi):
    transport = CountingFakeNode(latency_s=0.0, fail_every=0)(RpcConfig())
    assert _fetch_rows(transport, lo, hi) == expected_rows(lo, hi)


def test_closed_form_of_the_reference_window():
    # blocks="0:3999" is blocks 0..3998
    assert sum(expected_rows(0, 3998).values()) == 24_990


def test_retry_schedule_and_counters(tmp_path):
    node = pickle.loads(pickle.dumps(CountingFakeNode(0.0005, 3, str(tmp_path))))
    transport = node(RpcConfig())
    outcomes = []
    for n in range(6):
        try:
            transport("eth_getBlockByNumber", [hex(n), False])
            outcomes.append("ok")
        except RetryableError:
            outcomes.append("429")
    assert outcomes == ["ok", "ok", "429", "ok", "ok", "429"]
    transport.batch([("eth_getBlockByNumber", [hex(9), False])] * 5)
    counts = read_counts(str(tmp_path))
    assert (counts["posts"], counts["retries"], counts["requests"]) == (5, 2, 9)
    assert counts["wait_s"] >= 7 * 0.0005
    assert 0 < counts["wait_s"] <= counts["span_s"] + 1e-6


def test_uncounted_node_writes_nothing(tmp_path):
    transport = CountingFakeNode(0.0, 2)(RpcConfig())
    transport("eth_blockNumber", [])
    with pytest.raises(RetryableError):
        transport("eth_blockNumber", [])
    assert os.listdir(tmp_path) == []


@pytest.fixture(scope="module")
def spark():
    from cryo_spark import get_spark

    return get_spark(master="local[2]", shuffle_partitions=4)


def test_closed_form_matches_online_freeze(spark, tmp_path):
    """A short freeze through Spark's fetch stages lands exactly the rows
    the closed form predicts, with every POST counted across workers."""
    from cryo_spark import api
    from cryo_spark.sources.online import OnlineSource

    node = CountingFakeNode(0.0, 25, str(tmp_path / "node"))
    source = OnlineSource(config=RpcConfig(initial_backoff_s=0.001), transport_factory=node)
    out = tmp_path / "out"
    summary = api.freeze(
        spark, ["blocks", "transactions", "logs", "traces"],
        blocks="1000:1120", chunk_size=60, source=source, output_dir=str(out),
    )
    rows = dict.fromkeys(["blocks", "transactions", "logs", "traces"], 0)
    for name in os.listdir(out):
        if name.endswith(".parquet"):
            rows[name.split("__")[1]] += pq.read_metadata(out / name).num_rows
    assert rows == expected_rows(1000, 1119)
    assert summary["n_rows"] == sum(rows.values())
    counts = read_counts(str(tmp_path / "node"))
    assert counts["posts"] == counts["requests"] > 4 * 120
    assert counts["retries"] > 0

"""Online fetch stages for the trace/state/call/point-lookup families
against the deterministic fake node (no network in this environment;
the reference tests its source layer with a mock server the same way
— crates/cli/src/parse/blocks.rs:394-440).

The contract under test: every fetcher lands rows whose schema equals
the replay raw table read by the dataset transforms, so online and
offline paths are interchangeable per family
(sources.rs:229-983 surface)."""

from __future__ import annotations

import pytest

from cryo_spark import plan
from cryo_spark.sources import rpc_families as fam
from cryo_spark.sources.replay import raw
from cryo_spark.sources.rpc import RpcConfig, FlakyTransportFactory, work_list_df

FAKE = fam.full_fake_transport_factory


def _wl(spark, spec="10:20", parts=2):
    return work_list_df(spark, plan.parse_block_inputs(spec), n_partitions=parts)


def _point_wl(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


# --------------------------------------------------------------------------
# schema parity with the replay raw tables (drop-in online/offline)
# --------------------------------------------------------------------------

@pytest.mark.parametrize("fetcher,raw_name", [
    (fam.fetch_transactions, "transactions"),
    (fam.fetch_traces, "traces"),
    (fam.fetch_state_diffs, "state_diffs"),
    (fam.fetch_state_reads, "state_reads"),
    (fam.fetch_opcodes, "opcodes"),
    (fam.fetch_js_traces, "js_traces"),
])
def test_fetched_schema_matches_replay_raw(spark, fixtures_dir, fetcher, raw_name):
    kwargs = {"tracer_js": "{fake: true}"} if fetcher is fam.fetch_js_traces else {}
    out = fetcher(spark, _wl(spark), transport_factory=FAKE, **kwargs)
    want = raw(spark, raw_name, fixtures_dir).schema
    assert [(f.name, f.dataType) for f in out.schema.fields] == \
        [(f.name, f.dataType) for f in want.fields]


@pytest.mark.parametrize("fetcher,raw_name,rows,schema", [
    (fam.fetch_accounts, "accounts",
     [(5, b"\x01" * 20)], "block_number int, address binary"),
    (fam.fetch_storage, "storage",
     [(5, b"\x01" * 20, b"\x02" * 32)],
     "block_number int, address binary, slot binary"),
    (fam.fetch_calls, "calls",
     [(5, b"\x01" * 20, b"\xaa\xbb\xcc\xdd")],
     "block_number int, contract binary, call_data binary"),
])
def test_point_lookup_schema_matches_replay_raw(
    spark, fixtures_dir, fetcher, raw_name, rows, schema
):
    out = fetcher(spark, _point_wl(spark, rows, schema), transport_factory=FAKE)
    want = raw(spark, raw_name, fixtures_dir).schema
    assert [(f.name, f.dataType) for f in out.schema.fields] == \
        [(f.name, f.dataType) for f in want.fields]


# --------------------------------------------------------------------------
# per-family value semantics
# --------------------------------------------------------------------------

def test_fetch_transactions_receipt_join_and_elision(spark):
    wl = _wl(spark, "10:14", parts=1)
    out = fam.fetch_transactions(spark, wl, transport_factory=FAKE) \
        .orderBy("block_number", "transaction_index").collect()
    # blocks 10..13 have n%4 txs each: 2+3+0+1
    assert len(out) == 6
    first = out[0]
    assert first.block_number == 10 and first.transaction_index == 0
    assert first.gas_used == 21000  # receipt-joined
    assert first.success is True
    assert first.value == ((10 * 31 + 0) * 10**15).to_bytes(32, "big")
    # schema-driven elision: no receipt columns fetched
    lean = fam.fetch_transactions(
        spark, wl, transport_factory=FAKE, include_receipts=False
    ).collect()
    assert all(r.gas_used is None and r.success is None for r in lean)
    # tx gasPrice survives elision (only effectiveGasPrice is receipt-borne)
    assert all(r.gas_price is not None for r in lean)


def test_fetch_traces_trace_address_and_create(spark):
    out = fam.fetch_traces(spark, _wl(spark, "9:10", parts=1),
                           transport_factory=FAKE).collect()
    # block 9 has 1 tx -> root call + nested create
    assert len(out) == 2
    root = next(r for r in out if r.trace_address == "")
    sub = next(r for r in out if r.trace_address == "0")
    assert root.action_type == "call" and root.subtraces == 1
    assert sub.action_type == "create"
    assert sub.result_address is not None and sub.action_init == b"\x60\x01"
    assert root.action_value == (9 * 7).to_bytes(32, "big")


def test_fetch_state_diffs_forms(spark):
    out = fam.fetch_state_diffs(spark, _wl(spark, "9:10", parts=1),
                                transport_factory=FAKE).collect()
    kinds = {r.kind for r in out}
    assert kinds == {"balance", "nonce", "storage"}  # "=" code change skipped
    bal = [r for r in out if r.kind == "balance"]
    # "*" modified form carries both sides; "+" created has null from
    assert any(r.from_value is not None and r.to_value is not None for r in bal)
    created = [r for r in bal if r.from_value is None]
    assert created and created[0].to_value == (5).to_bytes(32, "big")
    st = next(r for r in out if r.kind == "storage")
    assert st.slot is not None and len(st.to_value) == 32


def test_fetch_state_reads_prestate(spark):
    out = fam.fetch_state_reads(spark, _wl(spark, "9:10", parts=1),
                                transport_factory=FAKE).collect()
    kinds = {r.kind for r in out}
    assert kinds == {"balance", "nonce", "code", "storage"}
    code = next(r for r in out if r.kind == "code")
    assert code.value == b"\x60\x03" and code.slot is None


def test_fetch_geth_calls_flattens_frame_tree(spark):
    out = fam.fetch_geth_calls(spark, _wl(spark, "9:10", parts=1),
                               transport_factory=FAKE).collect()
    assert len(out) == 2  # root CALL + nested STATICCALL
    root = next(r for r in out if r.trace_address == "")
    child = next(r for r in out if r.trace_address == "0")
    assert root.subtraces == 1 and root.action_type == "call"
    assert child.action_call_type == "staticcall"


def test_fetch_opcodes_steps(spark):
    out = fam.fetch_opcodes(spark, _wl(spark, "10:11", parts=1),
                            transport_factory=FAKE).collect()
    # block 10: 2 txs x (10%3+1)=2 steps
    assert len(out) == 4
    assert {r.op for r in out} == {"PUSH1"}
    assert sorted({r.step for r in out}) == [0, 1]


def test_fetch_js_traces_passthrough(spark):
    out = fam.fetch_js_traces(spark, _wl(spark, "10:11", parts=1),
                              tracer_js="{custom: 1}",
                              transport_factory=FAKE).collect()
    assert len(out) == 2
    assert '"js": true' in out[0].output


def test_point_lookups_values(spark):
    acct = fam.fetch_accounts(
        spark,
        _point_wl(spark, [(5, b"\x01" * 20)], "block_number int, address binary"),
        transport_factory=FAKE,
    ).collect()[0]
    assert acct.nonce == 5 % 50 and len(acct.balance) == 32
    sto = fam.fetch_storage(
        spark,
        _point_wl(spark, [(5, b"\x01" * 20, b"\x00" * 31 + b"\x07")],
                  "block_number int, address binary, slot binary"),
        transport_factory=FAKE,
    ).collect()[0]
    assert len(sto.value) == 32
    call = fam.fetch_calls(
        spark,
        _point_wl(spark, [(5, b"\x01" * 20, b"\xaa\xbb\xcc\xdd")],
                  "block_number int, contract binary, call_data binary"),
        transport_factory=FAKE,
    ).collect()[0]
    assert call.output == bytes.fromhex("00" * 2 + "aabb")


def test_family_fetch_retries(spark):
    """Retry/backoff path applies to the family fetchers unchanged."""
    class FlakyFull(FlakyTransportFactory):
        def __call__(self, config):
            inner = FAKE(config)
            state = {"n": 0}

            def call(method, params):
                state["n"] += 1
                if state["n"] <= self.fail_first:
                    raise ConnectionError("flaky")
                return inner(method, params)

            return call

    out = fam.fetch_traces(
        spark, _wl(spark, "9:12", parts=1),
        config=RpcConfig(max_retries=3, initial_backoff_s=0.01),
        transport_factory=FlakyFull(2),
    )
    assert out.count() > 0


def test_trace_calls_schema_and_values(spark, fixtures_dir):
    wl = _point_wl(
        spark, [(7, b"\x02" * 20, b"\xab\xcd")],
        "block_number int, tx_to_address binary, tx_call_data binary",
    )
    out = fam.fetch_trace_calls(spark, wl, transport_factory=FAKE)
    want = raw(spark, "trace_calls", fixtures_dir).schema
    assert [(f.name, f.dataType) for f in out.schema.fields] == \
        [(f.name, f.dataType) for f in want.fields]
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.tx_to_address == b"\x02" * 20 and r.tx_call_data == b"\xab\xcd"
    assert r.action_type == "call" and r.result_gas_used == 25000


def _fake_hash(n: int, k: int) -> bytes:
    """The fake node's deterministic tx hash for (block n, index k)."""
    return (n * 1000 + k).to_bytes(8, "big") * 4


def test_fetch_transactions_by_hash_matches_per_block(spark):
    """CollectByTransaction parity (collect_by_transaction.rs:11-67):
    per-hash rows must equal the per-block fetch's rows for the same
    hashes — same schema, same values, including receipt-borne
    columns and the block-derived timestamp."""
    hashes = [_fake_hash(101, 0), _fake_hash(102, 1), _fake_hash(103, 2)]
    wl = _point_wl(
        spark, [(h,) for h in hashes], "transaction_hash binary"
    )
    got = fam.fetch_transactions_by_hash(spark, wl, transport_factory=FAKE)
    per_block = fam.fetch_transactions(
        spark, _wl(spark, "101:104"), transport_factory=FAKE
    )
    assert got.schema == per_block.schema
    want = {
        bytes(r.transaction_hash): tuple(r)
        for r in per_block.collect()
        if bytes(r.transaction_hash) in set(hashes)
    }
    rows = {bytes(r.transaction_hash): tuple(r) for r in got.collect()}
    assert rows == want and len(rows) == 3


def test_fetch_transactions_by_hash_elides_receipts(spark):
    """include_receipts=False skips the receipt lookups; receipt-borne
    columns land NULL (transactions.rs:171-175 schema-driven cost
    elision)."""
    wl = _point_wl(
        spark, [(_fake_hash(102, 0),)], "transaction_hash binary"
    )
    r = fam.fetch_transactions_by_hash(
        spark, wl, transport_factory=FAKE, include_receipts=False
    ).first()
    assert r.gas_used is None and r.success is None
    assert r.timestamp == 1_600_000_000 + 12 * 102


def test_fetch_transactions_by_hash_unknown_hash_errors(spark):
    """An unknown hash fails loudly (transactions.rs:170 'transaction
    not found'), never lands a partial row."""
    wl = _point_wl(
        spark, [(_fake_hash(101, 3),)], "transaction_hash binary"
    )  # block 101 has only 1 tx
    with pytest.raises(Exception, match="transaction not found"):
        fam.fetch_transactions_by_hash(spark, wl, transport_factory=FAKE).collect()


def test_by_hash_families_match_per_block(spark):
    """Every CollectByTransaction family (collect_by_transaction.rs;
    logs.rs:82-93, traces.rs:62-75, sources.rs:295-311 + 806-899):
    by-hash rows must equal the per-block fetch's rows for the same
    (block, transaction_index) keys — identical schema and values, so
    online txs= collection is a drop-in for block-range collection."""
    from cryo_spark.sources.rpc import fetch_logs

    keys = [(10, 0), (11, 0), (11, 1)]
    hashes = [_fake_hash(n, k) for n, k in keys]
    wl = _point_wl(spark, [(h,) for h in hashes], "transaction_hash binary")
    block_wl = _wl(spark, "10:12")
    keyset = set(keys)

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    def per_block_subset(df):
        return sorted(
            tuple(r) for r in df.collect()
            if (r.block_number, r.transaction_index) in keyset
        )

    cases = [
        (fam.fetch_logs_by_hash(spark, wl, transport_factory=FAKE),
         fetch_logs(spark, block_wl, transport_factory=FAKE)),
        (fam.fetch_traces_by_hash(spark, wl, transport_factory=FAKE),
         fam.fetch_traces(spark, block_wl, transport_factory=FAKE)),
        (fam.fetch_state_diffs_by_hash(spark, wl, transport_factory=FAKE),
         fam.fetch_state_diffs(spark, block_wl, transport_factory=FAKE)),
        (fam.fetch_state_reads_by_hash(spark, wl, transport_factory=FAKE),
         fam.fetch_state_reads(spark, block_wl, transport_factory=FAKE)),
        (fam.fetch_opcodes_by_hash(spark, wl, transport_factory=FAKE),
         fam.fetch_opcodes(spark, block_wl, transport_factory=FAKE)),
        (fam.fetch_geth_calls_by_hash(spark, wl, transport_factory=FAKE),
         fam.fetch_geth_calls(spark, block_wl, transport_factory=FAKE)),
        (fam.fetch_js_traces_by_hash(spark, wl, "{js:1}", transport_factory=FAKE),
         fam.fetch_js_traces(spark, block_wl, "{js:1}", transport_factory=FAKE)),
    ]
    for by_hash, per_block in cases:
        assert by_hash.schema == per_block.schema
        got = rows_of(by_hash)
        assert got, "vacuous family case"
        assert got == per_block_subset(per_block)


def test_by_hash_pending_tx_fails_loudly(spark):
    """A pending (mempool) transaction — blockNumber null — must
    raise the reference's 'no block number for tx' error
    (transactions.rs:179), never crash obscurely or land a
    context-less row."""
    wl = _point_wl(
        spark, [(_fake_hash(102, 0),)], "transaction_hash binary"
    )
    for fetch in (fam.fetch_transactions_by_hash, fam.fetch_state_diffs_by_hash):
        with pytest.raises(Exception, match="no block number for tx"):
            fetch(
                spark, wl, transport_factory=fam.PendingTxFakeFactory()
            ).collect()


def test_fetch_transactions_by_hash_batches(spark, tmp_path):
    """By-hash fetch is all point lookups — its requests must ride
    the JSON-RPC batch stream: per task one batch POST each for txs,
    receipts, and (deduped) block headers."""
    hashes = [_fake_hash(n, 0) for n in (101, 102, 103)] + [_fake_hash(102, 1)]
    wl = _point_wl(
        spark, [(h,) for h in hashes], "transaction_hash binary"
    ).coalesce(1)
    factory = fam.BatchCountingFakeFactory(str(tmp_path / "logh"))
    out = fam.fetch_transactions_by_hash(
        spark, wl, config=RpcConfig(batch_size=100), transport_factory=factory,
    ).collect()
    assert len(out) == 4
    assert factory.counts() == {"batch": 3, "single": 0}


def test_stress_factory_429_retries_land_exact_rows(spark, tmp_path):
    """Contention-path accounting (small-scale twin of
    tools/stress_online.py): with every 5th POST per task 429ing,
    batches retry whole and the landed rows are still exact."""
    from cryo_spark.sources.rpc import fetch_blocks

    factory = fam.StressFakeFactory(
        str(tmp_path / "slog"), latency_s=0.0, fail_every=5
    )
    wl = _wl(spark, "0:1000", parts=4)
    out = fetch_blocks(
        spark, wl,
        config=RpcConfig(batch_size=50, initial_backoff_s=0.001),
        transport_factory=factory,
    )
    assert out.count() == 1000
    s = factory.stats()
    assert s["429"] > 0
    assert s["inner"] >= 1000  # failed batches re-dispatch whole


@pytest.mark.parametrize("batch_size", [1, 7])
def test_concurrent_dispatch_lands_same_rows_per_family(spark, tmp_path, batch_size):
    """Every family on the fetch scaffold lands identical rows, in the
    same order within each partition, whether a task sends its
    requests one at a time (max_concurrent_requests=1) or keeps the
    default number in flight — with and without JSON-RPC batching."""
    from pyspark.sql import functions as F

    from cryo_spark.sources.rpc import fetch_blocks, fetch_logs

    # four chunks = four work-list partitions
    wl = work_list_df(spark, plan.subchunk_by_size(plan.parse_block_inputs("10:60"), 13))
    point_wl = _point_wl(
        spark, [(b, bytes([b % 5]) * 20, bytes([b])) for b in range(10, 40)],
        "block_number int, tx_to_address binary, tx_call_data binary",
    )
    families = {
        "blocks": lambda **kw: fetch_blocks(spark, wl, **kw),
        "transactions": lambda **kw: fam.fetch_transactions(spark, wl, **kw),
        "transactions_no_receipts": lambda **kw: fam.fetch_transactions(
            spark, wl, include_receipts=False, **kw),
        "logs": lambda **kw: fetch_logs(spark, wl, **kw),
        "traces": lambda **kw: fam.fetch_traces(spark, wl, **kw),
        "state_diffs": lambda **kw: fam.fetch_state_diffs(spark, wl, **kw),
        "state_reads": lambda **kw: fam.fetch_state_reads(spark, wl, **kw),
        "geth_calls": lambda **kw: fam.fetch_geth_calls(spark, wl, **kw),
        "opcodes": lambda **kw: fam.fetch_opcodes(spark, wl, **kw),
        "js_traces": lambda **kw: fam.fetch_js_traces(spark, wl, "{js:1}", **kw),
        "trace_calls": lambda **kw: fam.fetch_trace_calls(spark, point_wl, **kw),
    }
    factory = fam.BatchCountingFakeFactory(str(tmp_path / "pin"))

    def rows(fetch, width):
        df = fetch(
            config=RpcConfig(
                batch_size=batch_size, max_concurrent_requests=width,
                inner_request_size=5,  # several eth_getLogs ranges per task
            ),
            transport_factory=factory,
        )
        return [tuple(r) for r in df.select(F.spark_partition_id(), "*").collect()]

    for name, fetch in families.items():
        serial = rows(fetch, 1)
        assert len({r[0] for r in serial}) > 1, f"{name}: one partition"
        assert rows(fetch, RpcConfig().max_concurrent_requests) == serial, name
    if batch_size > 1:
        assert factory.counts()["batch"] > 0


def test_point_lookup_batching_cuts_round_trips(spark, tmp_path):
    from cryo_spark.sources.rpc import RpcConfig

    rows = [(b, bytes([b]) * 20) for b in range(5, 15)]
    wl = _point_wl(spark, rows, "block_number int, address binary").coalesce(1)
    factory = fam.BatchCountingFakeFactory(str(tmp_path / "log1"))
    out = fam.fetch_accounts(
        spark, wl, config=RpcConfig(batch_size=100), transport_factory=factory,
    ).collect()
    assert len(out) == 10
    # 10 rows x 3 requests = 30 requests -> ONE batch POST
    assert factory.counts() == {"batch": 1, "single": 0}
    # batching off: 30 individual calls
    factory2 = fam.BatchCountingFakeFactory(str(tmp_path / "log2"))
    fam.fetch_accounts(
        spark, wl, config=RpcConfig(batch_size=1), transport_factory=factory2,
    ).collect()
    assert factory2.counts() == {"batch": 0, "single": 30}


def test_batched_results_match_unbatched(spark, tmp_path):
    from cryo_spark.sources.rpc import RpcConfig, fetch_blocks

    wl = _wl(spark, "100:120", parts=1)
    factory = fam.BatchCountingFakeFactory(str(tmp_path / "log3"))
    batched = fetch_blocks(
        spark, wl, config=RpcConfig(batch_size=7), transport_factory=factory,
    ).orderBy("block_number").collect()
    plain = fetch_blocks(
        spark, wl, transport_factory=FAKE,
    ).orderBy("block_number").collect()
    assert batched == plain and len(batched) == 20
    assert factory.counts()["batch"] == 3  # ceil(20/7)

"""Entry-point tests: block syntax, chunking, collect(), freeze().

Mirrors the reference test strategy: block/timestamp syntax unit
tests (crates/cli/src/parse/blocks.rs:394-717) and the cryo_test
freeze-vs-collect equivalence check
(python_tests/test_output_formats.py:25-41).
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cryo_spark import api, plan
from cryo_spark.io import FileOutput


# ---------------------------------------------------------------------------
# block syntax (blocks.rs:394-717 test cases)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "token,start,end",
    [
        ("0:1000", 0, 999),          # end-exclusive
        ("5K:15K", 5000, 14999),
        ("1M:2M", 1_000_000, 1_999_999),
        ("0.5M:1B", 500_000, 999_999_999),
        ("10_000:10_500", 10_000, 10_499),
        ("100:+50", 100, 149),       # +n is end-exclusive (blocks.rs test: 10:+100 -> Range(10,109))
        (":1000", 0, 999),
    ],
)
def test_block_range_syntax(token, start, end):
    (c,) = plan.parse_block_inputs(token)
    assert c.is_range and (c.start, c.end) == (start, end)


def test_block_latest_and_relative():
    (c,) = plan.parse_block_inputs("100:latest", latest=500)
    assert (c.start, c.end) == (100, 500)
    (c,) = plan.parse_block_inputs("-100:latest", latest=500)
    assert (c.start, c.end) == (401, 500)
    (c,) = plan.parse_block_inputs("500:", latest=900)
    assert (c.start, c.end) == (500, 900)


def test_block_single_and_multi_token():
    (c,) = plan.parse_block_inputs("42")
    assert c.numbers == (42,)
    a, b = plan.parse_block_inputs("42 0:10")
    assert a.numbers == (42,)
    assert b.numbers == tuple(range(0, 10))  # multi-token -> Numbers


def test_block_subset_and_skip():
    (c,) = plan.parse_block_inputs("0:100/5")
    assert len(c.numbers) == 5 and c.numbers[0] == 0 and c.numbers[-1] == 99
    (c,) = plan.parse_block_inputs("0:100:10")
    assert c.numbers == tuple(range(0, 100, 10))


def test_subchunk_and_align():
    chunks = plan.subchunk_by_size([plan.BlockChunk(start=0, end=2499)], 1000)
    assert [(c.start, c.end) for c in chunks] == [(0, 999), (1000, 1999), (2000, 2499)]
    assert chunks[0].stub() == "00000000_to_00000999"
    aligned = plan.align_chunk(plan.BlockChunk(start=150, end=2350), 1000)
    assert (aligned.start, aligned.end) == (1000, 2000)
    assert plan.align_chunk(plan.BlockChunk(start=150, end=350), 1000) is None


def test_reorg_buffer():
    # whole-chunk drop (blocks.rs:375-381 filter_map on max_value):
    # chunks straddling the cutoff disappear entirely, never truncate
    chunks = [
        plan.BlockChunk(start=0, end=799),
        plan.BlockChunk(start=800, end=1000),
    ]
    out = plan.apply_reorg_buffer(chunks, 1000, 100)
    assert [(c.start, c.end) for c in out] == [(0, 799)]
    # fully-safe chunks survive untouched
    out = plan.apply_reorg_buffer(chunks, 2000, 100)
    assert [(c.start, c.end) for c in out] == [(0, 799), (800, 1000)]


def test_required_dims_validation():
    q = plan.Query(datatypes=["balances"])
    with pytest.raises(ValueError, match="requires parameters"):
        q.validate()
    plan.Query(datatypes=["balances"], dims={"address": ["0xabc"]}).validate()
    # arg alias: slots accepts contract for address
    plan.Query(
        datatypes=["slots"], dims={"contract": ["0xabc"], "slot": ["0x1"]}
    ).validate()


# ---------------------------------------------------------------------------
# collect()
# ---------------------------------------------------------------------------

def test_collect_blocks_range(spark):
    df = api.collect(spark, "blocks", blocks="0:100")
    rows = df.collect()
    assert len(rows) == 100
    assert [r.block_number for r in rows] == sorted(r.block_number for r in rows)
    # default column subset, u256 expanded? blocks defaults have no u256
    assert "block_number" in df.columns


def test_collect_column_selection(spark):
    df = api.collect(spark, "blocks", blocks="0:10", columns=["block_number", "gas_used"])
    assert df.columns == ["block_number", "gas_used"]
    df = api.collect(
        spark, "transactions", blocks="0:10",
        include_columns=["timestamp"], exclude_columns=["input"],
    )
    assert "timestamp" in df.columns and "input" not in df.columns


def test_collect_u256_expansion_and_hex(spark):
    df = api.collect(
        spark, "transactions", blocks="0:10",
        columns=["block_number", "transaction_hash", "value"], hex=True,
    )
    assert "value_binary" in df.columns and "value_string" in df.columns \
        and "value_f64" in df.columns
    row = df.filter(df.value_string != "0").first()
    if row is not None:
        assert row.transaction_hash.startswith("0x")  # hex-encoded binary
        assert row.value_binary.startswith("0x")
        assert int(row.value_string) > 0


def test_collect_alias_and_exclude_failed(spark):
    df = api.collect(spark, "txs", blocks="0:50", exclude_failed=True)
    assert df.filter(~df.success).count() == 0


# ---------------------------------------------------------------------------
# freeze()
# ---------------------------------------------------------------------------

def test_freeze_roundtrip(spark, tmp_path):
    out = str(tmp_path / "files")
    summary = api.freeze(
        spark, "blocks", output_dir=out, blocks="0:1000", chunk_size=250,
    )
    assert summary["n_completed"] == 4
    names = sorted(os.path.basename(p) for p in summary["completed_paths"])
    assert names[0] == "ethereum__blocks__00000000_to_00000249.parquet"
    # files are single parquet files readable by spark, sorted by block
    df = spark.read.parquet(summary["completed_paths"][0])
    rows = df.collect()
    assert len(rows) == 250
    assert [r.block_number for r in rows] == sorted(r.block_number for r in rows)
    # freeze ≡ collect (test_output_formats.py:25-41)
    collected = api.collect(spark, "blocks", blocks="0:250").collect()
    assert rows == collected

    # idempotence: second run skips everything (freeze.rs:93-99)
    again = api.freeze(
        spark, "blocks", output_dir=out, blocks="0:1000", chunk_size=250,
    )
    assert again["n_completed"] == 0 and again["n_skipped"] == 4
    assert os.path.exists(summary["report_path"])


def test_freeze_csv_forces_hex(spark, tmp_path):
    out = str(tmp_path / "csv")
    summary = api.freeze(
        spark, "blocks", output_dir=out, blocks="0:100", chunk_size=100,
        file_format="csv", columns=["block_number", "block_hash"],
    )
    (path,) = summary["completed_paths"]
    assert path.endswith("ethereum__blocks__00000000_to_00000099.csv")
    df = spark.read.option("header", True).csv(path)
    assert df.first().block_hash.startswith("0x")


def test_block_inputs_from_parquet_file(spark, tmp_path):
    """S4: a parquet path as the blocks argument reads its distinct
    block_number column (cli/parse/blocks.rs:70-105)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "blks.parquet")
    pq.write_table(
        pa.table({"block_number": [7, 3, 7, 11], "other": [1, 2, 3, 4]}), p
    )
    (c,) = plan.parse_block_inputs(p)
    assert c.numbers == (3, 7, 11)
    # column override syntax path:col
    p2 = str(tmp_path / "custom.parquet")
    pq.write_table(pa.table({"my_col": [5, 5, 9]}), p2)
    (c2,) = plan.parse_block_inputs(f"{p2}:my_col")
    assert c2.numbers == (5, 9)


def test_freeze_summary_counts_rows_and_chunk_stats(spark, tmp_path):
    summary = api.freeze(
        spark, "blocks", output_dir=str(tmp_path / "s"), blocks="0:500",
        chunk_size=250,
    )
    assert summary["n_rows"] == 500  # A3 accounting from parquet footers
    assert summary["chunk_stats"] == {
        "n_chunks": 2, "min_block": 0, "max_block": 499, "total_blocks": 500,
    }


def test_collect_dim_filters(spark):
    """P4-P6: address/topic dims filter the landed tables (pushed
    into the parquet scan by Catalyst)."""
    # pick a real fixture address from the raw accounts table
    # (collect('balances') without an address dim correctly raises —
    # required-parameter validation, covered above)
    from cryo_spark.sources import raw

    addr = raw(spark, "accounts").first().address
    df = api.collect(spark, "balances", address=["0x" + addr.hex()], sort=False)
    rows = df.collect()
    assert len(rows) > 0 and all(r.address == addr for r in rows)

    sig = "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
    logs = api.collect(spark, "logs", topic0=[sig], sort=False)
    assert logs.count() > 0
    assert logs.filter(F.hex(logs.topic0) != sig[2:].upper()).count() == 0

    # contract alias maps onto the erc20 column
    erc20 = api.collect(spark, "erc20_transfers", sort=False).first().erc20
    filtered = api.collect(
        spark, "erc20_transfers", contract=["0x" + erc20.hex()], sort=False
    )
    assert filtered.filter(filtered.erc20 != erc20).count() == 0


def test_point_lookup_defaults_to_latest_block(spark):
    """balances.rs:26-28: no blocks argument -> chain tip only."""
    from cryo_spark.sources import raw

    addr = raw(spark, "accounts").first().address
    df = api.collect(spark, "balances", address=["0x" + addr.hex()])
    rows = df.collect()
    tip = raw(spark, "accounts").agg(F.max("block_number")).first()[0]
    assert [r.block_number for r in rows] == [tip]
    # explicit blocks still override
    df2 = api.collect(spark, "balances", address=["0x" + addr.hex()], blocks="0:1000")
    assert df2.count() > 1


def test_collect_multi_shares_raw_scan(spark):
    """MultiDatatype scan sharing (meta.rs:23-39): members of a fetch
    group read the persisted raw scan through the plan cache."""
    out = api.collect_multi(spark, ["state_diffs"], sort=False)
    assert set(out) == {
        "balance_diffs", "code_diffs", "nonce_diffs", "storage_diffs"
    }
    plan = out["nonce_diffs"]._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan  # cached shared scan, not a re-read
    assert out["nonce_diffs"].count() > 0
    # multi names also expand in freeze/validation paths
    assert api.expand_datatypes(["blocks_and_transactions"]) == [
        "blocks", "transactions"
    ]
    spark.catalog.clearCache()


def test_chunk_id_closed_form_matches_case_chain(spark):
    """Uniform contiguous chunks use O(1) arithmetic instead of an
    N-branch CASE (a Catalyst hazard at 10^5 chunks); both must
    agree, including the short last chunk."""
    from cryo_spark.io import _chunk_id_expr, _uniform_ranges

    chunks = plan.subchunk_by_size([plan.BlockChunk(start=100, end=1234)], 250)
    assert _uniform_ranges(chunks) == (100, 250)
    df = spark.range(100, 1235).select(F.col("id").cast("int").alias("block_number"))
    fast = df.select("block_number", _chunk_id_expr(chunks).alias("c")).collect()
    # force the fallback by making chunks irregular (sizes differ)
    irregular = [plan.BlockChunk(start=100, end=349),
                 plan.BlockChunk(start=350, end=1234)]
    assert _uniform_ranges(irregular) is None
    for r in fast:
        i = (r.block_number - 100) // 250
        assert r.c == i
    # merged block_filter: contiguous chunks collapse to one range
    from cryo_spark.io import block_filter

    kept = df.filter(block_filter(chunks)).count()
    assert kept == 1135


def test_cli_dry_run_prints_paths(capsys):
    """--dry never starts Spark; prints planned paths."""
    from cryo_spark.api import main

    rc = main(["blocks", "txs", "-b", "0:500", "--chunk-size", "250",
               "-o", "/tmp/x", "--dry"])
    out = capsys.readouterr().out.strip().split("\n")
    assert rc == 0 and len(out) == 4
    assert "/tmp/x/ethereum__blocks__00000000_to_00000249.parquet" in out
    assert "/tmp/x/ethereum__transactions__00000250_to_00000499.parquet" in out


def test_cli_help_routing(capsys):
    """`help`, `help datasets`, `help syntax`, `help <DATASET>` all
    route to curated help (reference run.rs:76-90) — never to the
    freeze path, never a traceback."""
    from cryo_spark.api import main

    assert main(["help"]) == 0
    assert "usage: cryo_spark" in capsys.readouterr().out

    assert main(["help", "datasets"]) == 0
    out = capsys.readouterr().out
    assert "- blocks" in out and "- transactions (alias = txs)" in out
    assert "dataset group names" in out and "state_diffs:" in out

    assert main(["help", "syntax"]) == 0
    assert "Block specification syntax" in capsys.readouterr().out

    assert main(["help", "logs"]) == 0
    out = capsys.readouterr().out
    assert "can collect by block or by transaction" in out
    assert "- topic0: binary" in out and "sorted by: block_number" in out

    # blocks has no transaction_hash column -> by-block only
    assert main(["help", "blocks"]) == 0
    assert "not by transaction" in capsys.readouterr().out

    # group name expands to member infos
    assert main(["help", "state_diffs"]) == 0
    out = capsys.readouterr().out
    for member in ("balance_diffs", "code_diffs", "nonce_diffs",
                   "storage_diffs"):
        assert member in out

    # error goes to stderr (main()'s convention) — scripts parsing
    # help output must not see it on stdout
    assert main(["help", "not_a_dataset"]) == 2
    captured = capsys.readouterr()
    assert "unknown dataset" in captured.err
    assert "unknown dataset" not in captured.out

    # a typo'd help TOPIC suggests the subcommand, not just datasets
    assert main(["help", "sintax"]) == 2
    assert "did you mean: help syntax?" in capsys.readouterr().err


def test_cli_unknown_dataset_clean_error(capsys):
    """A typo'd datatype exits 2 with suggestions on stderr — the old
    path died with a raw KeyError traceback."""
    from cryo_spark.api import main

    rc = main(["trasactions", "-b", "0:10", "--dry"])
    captured = capsys.readouterr()
    assert rc == 2
    assert "unknown dataset: trasactions" in captured.err
    assert "transactions" in captured.err  # close-match suggestion
    assert "help datasets" in captured.err


def test_async_collect_and_freeze_roundtrip(spark, tmp_path):
    """async_collect/async_freeze parity (reference exposes both
    entry points — _collect.py:60-83, _freeze.py): same results as
    the sync path, awaitable from an event loop."""
    import asyncio

    from cryo_spark import api

    async def go():
        df = await api.async_collect(spark, "blocks", blocks="0:100")
        summary = await api.async_freeze(
            spark, ["blocks"], output_dir=str(tmp_path), blocks="0:100",
            chunk_size=100, report=False,
        )
        return df, summary

    df, summary = asyncio.run(go())
    sync_df = api.collect(spark, "blocks", blocks="0:100")
    assert df.columns == sync_df.columns
    assert df.count() == sync_df.count() == 100
    assert summary["n_completed"] == 1 and summary["n_rows"] == 100


def test_unknown_dataset_error_is_keyerror():
    """Back-compat: resolve_name still raises a KeyError subclass with
    machine-readable suggestions."""
    import pytest

    from cryo_spark import schemas

    with pytest.raises(KeyError) as exc_info:
        schemas.resolve_name("trasactions")
    assert isinstance(exc_info.value, schemas.UnknownDatasetError)
    assert "transactions" in exc_info.value.suggestions


def test_freeze_subdirs_and_suffix(spark, tmp_path):
    sink = FileOutput(
        output_dir=str(tmp_path), prefix="ethereum", suffix="v2",
        format="parquet", subdirs=["datatype"],
    )
    p = sink.path_for("blocks", "00000000_to_00000999")
    assert p.endswith("blocks__v2/ethereum__blocks__v2__00000000_to_00000999.parquet")


def test_freeze_partition_by_address(spark, tmp_path, fixtures_dir):
    """C3 partition-by dims (partitions.rs:290-337): one output file
    per dim value per chunk, labeled with the first-8-hex-char stub,
    written in a single two-level partitioned job."""
    logs = spark.read.parquet(os.path.join(fixtures_dir, "fixture_logs.parquet"))
    addrs = [
        bytes(r["address"])
        for r in logs.select("address").distinct().orderBy("address").limit(2).collect()
    ]
    out = str(tmp_path / "pb")
    summary = api.freeze(
        spark, "logs", output_dir=out, blocks="0:1000", chunk_size=500,
        address=addrs, partition_by=["address"],
    )
    assert summary["n_completed"] == 4  # 2 addresses x 2 chunks
    for a in addrs:
        stub = ("0x" + a.hex())[:8]
        paths = [p for p in summary["completed_paths"] if f"__{stub}__" in p]
        assert len(paths) == 2, summary["completed_paths"]
        for p in paths:
            got = spark.read.parquet(p)
            vals = {bytes(r["address"]) for r in got.select("address").collect()}
            assert vals <= {a}  # only this address (empty chunk allowed)
    # total rows = plain dim-filtered freeze row count
    expect = api.collect(spark, "logs", blocks="0:1000", address=addrs).count()
    assert summary["n_rows"] == expect

    # skip-existing applies per (label, chunk) file
    again = api.freeze(
        spark, "logs", output_dir=out, blocks="0:1000", chunk_size=500,
        address=addrs, partition_by=["address"],
    )
    assert again["n_completed"] == 0 and again["n_skipped"] == 4


def test_chunk_ordering():
    """O2: normal / reverse / seeded-random chunk processing order
    (cli/parse/partitions.rs:110-123)."""
    chunks = plan.subchunk_by_size([plan.BlockChunk(start=0, end=999)], 100)
    starts = [c.start for c in chunks]
    assert [c.start for c in plan.order_chunks(chunks, "normal")] == starts
    assert [c.start for c in plan.order_chunks(chunks, "reverse")] == starts[::-1]
    r1 = [c.start for c in plan.order_chunks(chunks, "random")]
    r2 = [c.start for c in plan.order_chunks(chunks, "random")]
    assert r1 == r2 and sorted(r1) == starts and r1 != starts
    import pytest as _pytest

    with _pytest.raises(ValueError):
        plan.order_chunks(chunks, "zigzag")


def test_collect_output_formats(spark):
    """output_format parity with the reference (_collect.py:72-82):
    pandas / list-of-row-dicts / dict-of-column-lists."""
    import pandas as pd

    pdf = api.collect(
        spark, "blocks", blocks="0:10",
        columns=["block_number", "gas_used"], output_format="pandas",
    )
    assert isinstance(pdf, pd.DataFrame) and list(pdf.columns) == ["block_number", "gas_used"]
    rows = api.collect(
        spark, "blocks", blocks="0:10",
        columns=["block_number"], output_format="list",
    )
    assert rows[0] == {"block_number": 0} and len(rows) == 10
    cols = api.collect(
        spark, "blocks", blocks="0:3",
        columns=["block_number"], output_format="dict",
    )
    assert cols == {"block_number": [0, 1, 2]}
    with pytest.raises(ValueError):
        api.collect(spark, "blocks", blocks="0:1", output_format="arrow")


def test_freeze_timestamps(spark, tmp_path):
    """freeze accepts timestamp ranges resolved against the landed
    blocks table (C6), same as collect."""
    blocks = api.collect(spark, "blocks", blocks="0:1000", columns=["block_number", "timestamp"])
    t0 = blocks.orderBy("block_number").collect()[100]["timestamp"]
    t1 = blocks.orderBy("block_number").collect()[300]["timestamp"]
    summary = api.freeze(
        spark, "blocks", output_dir=str(tmp_path / "ts"),
        timestamps=f"{t0}:{t1}", chunk_size=1000, report=False,
    )
    expected = blocks.filter(
        (F.col("timestamp") >= t0) & (F.col("timestamp") < t1)
    ).count()
    assert summary["n_rows"] == expected


# ---------------------------------------------------------------------------
# transactions time dimension (queries.rs:75-80, collect_by_transaction.rs)
# ---------------------------------------------------------------------------

def test_collect_by_transaction(spark):
    hashes = [
        r.transaction_hash
        for r in api.collect(spark, "transactions", blocks="0:5", sort=False)
        .select("transaction_hash").collect()
    ][:3]
    assert hashes, "fixture needs transactions in 0:5"
    df = api.collect(spark, "transactions", txs=[bytes(h) for h in hashes])
    rows = df.collect()
    assert len(rows) == len(hashes)
    assert {bytes(r.transaction_hash_binary if hasattr(r, "transaction_hash_binary") else r.transaction_hash) for r in rows} \
        == {bytes(h) for h in hashes}
    # logs can also collect by transaction; blocks cannot
    api.collect(spark, "logs", txs=["0x" + bytes(hashes[0]).hex()])
    with pytest.raises(ValueError, match="cannot be collected by transaction"):
        api.collect(spark, "blocks", txs=["0x" + bytes(hashes[0]).hex()])


def test_freeze_by_transaction_stub(spark, tmp_path):
    hashes = sorted(
        bytes(r.transaction_hash)
        for r in api.collect(spark, "transactions", blocks="0:5", sort=False)
        .select("transaction_hash").collect()
    )[:3]
    out = str(tmp_path / "bytx")
    summary = api.freeze(
        spark, "transactions", output_dir=out, txs=[h.hex() for h in hashes],
    )
    (path,) = summary["completed_paths"]
    # stub = first-8-chars of min/max 0x-hash (binary_chunk.rs:16-24)
    lo, hi = ("0x" + hashes[0].hex())[:8], ("0x" + hashes[-1].hex())[:8]
    assert os.path.basename(path) == f"ethereum__transactions__{lo}_to_{hi}.parquet"
    assert spark.read.parquet(path).count() == 3


# ---------------------------------------------------------------------------
# custom sort spec (cli/parse/schemas.rs:167-194)
# ---------------------------------------------------------------------------

def test_custom_sort_spec(spark, tmp_path):
    df = api.collect(spark, "blocks", blocks="0:50", sort=["gas_used"])
    vals = [r.gas_used for r in df.select("gas_used").collect()]
    assert vals == sorted(vals)
    # ['none'] disables sorting; [] errors; multi-datatype custom errors
    api.collect(spark, "blocks", blocks="0:10", sort=["none"])
    with pytest.raises(ValueError, match="must specify columns"):
        api.collect(spark, "blocks", blocks="0:10", sort=[])
    with pytest.raises(ValueError, match="unknown sort columns"):
        api.collect(spark, "blocks", blocks="0:10", sort=["not_a_column"])
    with pytest.raises(ValueError, match="multiple datasets"):
        api.freeze(
            spark, ["blocks", "transactions"], output_dir=str(tmp_path / "m"),
            blocks="0:10", sort=["gas_used"],
        )
    # freeze writes files ordered by the custom sort
    summary = api.freeze(
        spark, "blocks", output_dir=str(tmp_path / "s"), blocks="0:100",
        chunk_size=100, sort=["gas_used"],
    )
    got = [
        r.gas_used
        for r in spark.read.parquet(summary["completed_paths"][0])
        .select("gas_used").collect()
    ]
    assert got == sorted(got)


# ---------------------------------------------------------------------------
# event_signature through freeze (reference CLI --event-signature)
# ---------------------------------------------------------------------------

def test_freeze_event_signature(spark, tmp_path):
    sig = "Transfer(address indexed from, address indexed to, uint256 value)"
    out = str(tmp_path / "dec")
    summary = api.freeze(
        spark, "logs", output_dir=out, blocks="0:1000", chunk_size=1000,
        event_signature=sig,
    )
    df = spark.read.parquet(summary["completed_paths"][0])
    assert "event__from" in df.columns and "event__value_string" in df.columns
    assert "topic1" not in df.columns  # raw topics dropped when decoding
    assert df.count() > 0


# ---------------------------------------------------------------------------
# --remember arg persistence (crates/cli/src/remember.rs, run.rs:14-26)
# ---------------------------------------------------------------------------

def test_remember_and_replay(tmp_path, capsys):
    out = str(tmp_path / "rem")
    # --dry never starts Spark; --remember saves the command first
    api.main(["blocks", "-b", "0:500", "--chunk-size", "250", "-o", out,
              "--remember", "--dry"])
    first = capsys.readouterr().out
    assert "remembering this command" in first
    from cryo_spark.remember import remembered_command_path
    assert os.path.exists(remembered_command_path(out))
    # no datatypes -> replay the remembered command
    api.main(["-o", out, "--dry"])
    second = capsys.readouterr().out
    assert "remembering previous command" in second
    paths = [l for l in first.splitlines() if "__blocks__" in l]
    assert paths and paths == [l for l in second.splitlines() if "__blocks__" in l]
    # newly-passed args take precedence over remembered ones
    api.main(["-o", out, "--chunk-size", "500", "--dry"])
    third = capsys.readouterr().out
    assert len([l for l in third.splitlines() if "__blocks__" in l]) == 1
    # without a remembered command, omitting datatypes errors
    with pytest.raises(SystemExit, match="specify datasets"):
        api.main(["-o", str(tmp_path / "empty"), "--dry"])


def test_freeze_empty_chunks_single_template_job(spark, tmp_path):
    """Chunks past the data tail produce empty (schema-only) files via
    one template write + driver-side copies, and stay idempotent."""
    out = str(tmp_path / "sparse")
    # logs exist only for fixture blocks; 2000:4000 is beyond the tail
    summary = api.freeze(
        spark, "logs", output_dir=out, blocks="2000:4000", chunk_size=500,
    )
    assert summary["n_completed"] == 4
    for p in summary["completed_paths"]:
        df = spark.read.parquet(p)
        assert df.count() == 0
        assert "block_number" in df.columns  # schema preserved
    again = api.freeze(
        spark, "logs", output_dir=out, blocks="2000:4000", chunk_size=500,
    )
    assert again["n_completed"] == 0 and again["n_skipped"] == 4


def test_parse_call_datas():
    """--call-data/--function/--inputs composition mirrors the
    reference parse matrix (cli/parse/partitions.rs:136-174)."""
    from cryo_spark.plan import parse_call_datas

    assert parse_call_datas(None, None, None) is None
    assert parse_call_datas(["0x01ff"], None, None) == [b"\x01\xff"]
    assert parse_call_datas(None, ["0xaabbccdd"], None) == [bytes.fromhex("aabbccdd")]
    assert parse_call_datas(None, ["0xaabbccdd"], ["0x01", "0x02"]) == [
        bytes.fromhex("aabbccdd01"), bytes.fromhex("aabbccdd02"),
    ]
    with pytest.raises(ValueError, match="function if specifying inputs"):
        parse_call_datas(None, None, ["0x01"])
    with pytest.raises(ValueError, match="call_data and function"):
        parse_call_datas(["0x01"], ["0x02"], None)
    with pytest.raises(ValueError, match="call_data and inputs"):
        parse_call_datas(["0x01"], None, ["0x02"])


def test_cli_topic_filter_matches_api(spark, tmp_path, capsys):
    """--topic0 routes into the log filter exactly like collect(topic0=)."""
    from cryo_spark.datasets.logs import TRANSFER_SIG_HEX

    out = str(tmp_path / "cli_topics")
    rc = api.main([
        "logs", "-b", "0:1000", "--chunk-size", "1000", "-o", out,
        "--topic0", "0x" + TRANSFER_SIG_HEX, "--no-report",
    ])
    capsys.readouterr()
    assert rc == 0
    written = spark.read.parquet(os.path.join(
        out, "ethereum__logs__00000000_to_00000999.parquet"))
    expected = api.collect(
        spark, "logs", blocks="0:1000", topic0="0x" + TRANSFER_SIG_HEX
    ).count()
    assert written.count() == expected > 0
    # --no-report: no report directory
    assert not os.path.exists(os.path.join(out, ".cryo_spark"))


def test_cli_label_and_parquet_knobs(spark, tmp_path, capsys):
    """--label names files like --file-suffix; --compression and
    --row-group-size shape the parquet footer."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "cli_knobs")
    rc = api.main([
        "blocks", "-b", "0:1000", "--chunk-size", "1000", "-o", out,
        "--label", "v9", "--compression", "zstd", "--row-group-size", "100",
        "--no-report",
    ])
    capsys.readouterr()
    assert rc == 0
    path = os.path.join(out, "ethereum__blocks__v9__00000000_to_00000999.parquet")
    assert os.path.exists(path)
    meta = pq.read_metadata(path)
    assert meta.row_group(0).column(0).compression.lower() == "zstd"
    # 1000 rows with a ~100-row target => several groups (the rows ->
    # bytes translation is approximate; >1 proves the knob reached
    # the writer)
    assert meta.num_row_groups > 1


def test_cli_max_concurrent_chunks_reaches_freeze_pool(spark, tmp_path, capsys, monkeypatch):
    """--max-concurrent-chunks sets the width of freeze's per-datatype
    pool (default 4, capped by the datatype count)."""
    import concurrent.futures

    widths = []

    class Recording(concurrent.futures.ThreadPoolExecutor):
        def __init__(self, max_workers=None, *args, **kwargs):
            widths.append(max_workers)
            super().__init__(max_workers, *args, **kwargs)

    monkeypatch.setattr(concurrent.futures, "ThreadPoolExecutor", Recording)
    monkeypatch.delenv("ETH_RPC_URL", raising=False)
    base = ["blocks", "transactions", "logs", "-b", "0:100", "--no-report"]
    assert api.main(base + ["-o", str(tmp_path / "a"), "--max-concurrent-chunks", "2"]) == 0
    assert api.main(base + ["-o", str(tmp_path / "b")]) == 0
    capsys.readouterr()
    assert widths == [2, 3]


def test_freeze_reorg_buffer_resolves_tip_offline(spark, tmp_path):
    """reorg_buffer without an explicit `latest` resolves the tip from
    the landed blocks table instead of silently skipping the buffer
    (reference always resolves the chain tip — blocks.rs:368-374)."""
    out = str(tmp_path / "reorg")
    summary = api.freeze(
        spark, "blocks", output_dir=out, blocks="0:1000", chunk_size=250,
        reorg_buffer=300,
    )
    # fixtures land blocks 0..999 => tip 999, cutoff 699: chunks
    # 750:1000 (max 999) and 500:750 (max 749) are dropped whole
    assert summary["n_completed"] == 2
    assert summary["chunk_stats"]["max_block"] == 499


def test_collect_polars_output_format_gated(spark, fixtures_dir):
    """output_format='polars' (the reference's native return) either
    returns a polars frame or raises the documented gate error."""
    import pytest as _pytest

    from cryo_spark import api

    try:
        import polars  # noqa: F401
        out = api.collect(
            spark, "blocks", blocks="0:5", fixtures_dir=fixtures_dir,
            output_format="polars",
        )
        assert out.shape[0] == 5
    except ImportError:
        with _pytest.raises(ImportError, match="polars"):
            api.collect(
                spark, "blocks", blocks="0:5", fixtures_dir=fixtures_dir,
                output_format="polars",
            )


# ---------------------------------------------------------------------------
# collect order contract: non-spark outputs are sorted on the driver and
# must come out in the order of the lazy orderBy the spark output keeps
# ---------------------------------------------------------------------------

def _replay_specs(fixtures_dir):
    """The benchmark's first round at seed 1: one call per COLLECT_KINDS
    entry, with the inputs the benchmark gives it."""
    from perfbench.workloads import COLLECT_KINDS, CollectReplay

    wl = CollectReplay(os.path.dirname(fixtures_dir), None, 1)
    try:
        return [wl.prepare(i) for i in range(1, len(COLLECT_KINDS) + 1)]
    finally:
        wl.close()


#: explicit sort lists: a binary key, the same key as a hex string, a
#: binary and an integer key holding NULLs, and keys with ties and NULLs
_EXPLICIT_SORTS = [
    ("logs", {"blocks": "100:140", "sort": ["address"]}),
    ("logs", {"blocks": "100:140", "sort": ["address"], "hex": True}),
    ("logs", {"blocks": "100:140", "sort": ["topic1"]}),
    ("blocks", {"blocks": "50:150", "sort": ["base_fee_per_gas"]}),
    ("traces", {"blocks": "300:310", "sort": ["block_number", "transaction_index"]}),
]


@pytest.fixture(scope="module")
def order_cases(spark, fixtures_dir):
    """(dataset, kwargs, sort keys, spark frame, its orderBy toPandas)
    for every benchmark call kind and every explicit sort list."""
    from cryo_spark.schemas import get_spec

    cases = [(s["dataset"], s["kwargs"]) for s in _replay_specs(fixtures_dir)]
    out = []
    for dataset, kwargs in cases + _EXPLICIT_SORTS:
        kwargs = {"fixtures_dir": fixtures_dir, **kwargs}
        sdf = api.collect(spark, dataset, output_format="spark", **kwargs)
        keys = [c for c in kwargs.get("sort", get_spec(dataset).sort) if c in sdf.columns]
        out.append((dataset, kwargs, keys, sdf, sdf.toPandas()))
    return out


def _key_rows(rows, keys):
    return [tuple(None if pd.isna(r[k]) else r[k] for k in keys) for r in rows]


def test_collect_row_order_matches_orderby(spark, order_cases):
    """pandas/list/dict outputs list the sort keys in the orderBy order
    (ties in any order: full rows compare as a multiset)."""
    from perfbench.workloads import _frame_hash

    for dataset, kwargs, keys, _, ref in order_cases:
        want = _key_rows(ref.to_dict(orient="records"), keys)
        got = api.collect(spark, dataset, output_format="pandas", **kwargs)
        assert _key_rows(got.to_dict(orient="records"), keys) == want, (dataset, kwargs)
        assert (len(got), _frame_hash(got)) == (len(ref), _frame_hash(ref)), (dataset, kwargs)
        rows = api.collect(spark, dataset, output_format="list", **kwargs)
        assert _key_rows(rows, keys) == want, (dataset, kwargs)
        cols = api.collect(spark, dataset, output_format="dict", **kwargs)
        assert _key_rows([dict(zip(cols, r)) for r in zip(*cols.values())], keys) == want
    # the explicit cases hold what they are named for
    address, address_hex, topic1, base_fee, traces = [r for _, k, _, _, r in order_cases if "sort" in k]
    assert isinstance(address["address"][0], bytes) and isinstance(address_hex["address"][0], str)
    assert topic1["topic1"].isna().any() and base_fee["base_fee_per_gas"].isna().any()
    assert traces.duplicated(["block_number", "transaction_index"]).any()


def test_collect_values_and_dtypes_match_orderby(spark, order_cases):
    """The driver sort only permutes toPandas()'s rows: same columns,
    dtypes and cells as the orderBy spelling, binary cells stay bytes,
    and the benchmark's dtype-sensitive frame hash agrees."""
    from pyspark.sql.types import BinaryType

    from perfbench.workloads import _frame_hash

    def canon(frame):
        return frame.sort_values(
            list(frame.columns), na_position="first", kind="stable", ignore_index=True
        )

    for dataset, kwargs, _, sdf, ref in order_cases:
        got = api.collect(spark, dataset, output_format="pandas", **kwargs)
        assert isinstance(got.index, pd.RangeIndex) and got.index.equals(pd.RangeIndex(len(got)))
        pd.testing.assert_frame_equal(canon(got), canon(ref), check_dtype=True)
        assert _frame_hash(got) == _frame_hash(ref), (dataset, kwargs)
        for f in sdf.schema.fields:
            if isinstance(f.dataType, BinaryType):
                assert all(type(v) is bytes for v in got[f.name].dropna()), (dataset, f.name)


def test_collect_float_sort_key_keeps_spark_order(spark, monkeypatch):
    """A double key's NULL sorts first and its NaN last in Spark, but
    both are NaN after toPandas; such keys keep the orderBy."""
    frame = spark.createDataFrame(
        [(1, float("nan")), (2, 2.0), (3, None), (4, -1.0), (5, 0.0)], "id long, x double"
    )
    monkeypatch.setattr(api, "_base_frame", lambda *a, **k: frame)
    want = frame.orderBy("x").toPandas()
    assert list(want["id"]) == [3, 4, 5, 2, 1]
    got = api.collect(spark, "blocks", blocks="0:1", sort=["x"], output_format="pandas")
    assert list(got["id"]) == list(want["id"])
    # a driver-only sort cannot tell the two apart
    driver = frame.toPandas().sort_values("x", na_position="first", kind="stable")
    assert list(driver["id"]) != list(want["id"])


def test_collect_pandas_submits_one_job(spark, fixtures_dir):
    """No range-sampling job or exchange in front of toPandas: a warm
    pandas collect is one Spark job; the spark output stays sorted."""
    sc = spark.sparkContext
    kwargs = {"blocks": "10:50", "fixtures_dir": fixtures_dir}
    api.collect(spark, "blocks", output_format="pandas", **kwargs)  # warm the read
    sc.setJobGroup("collect_pandas_one_job", "collect_pandas_one_job")
    try:
        api.collect(spark, "blocks", output_format="pandas", **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("collect_pandas_one_job")) == 1
    lazy = api.collect(spark, "blocks", output_format="spark", **kwargs)
    assert "Sort [" in lazy._jdf.queryExecution().optimizedPlan().toString()

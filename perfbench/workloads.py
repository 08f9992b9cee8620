"""The three workloads: seeded inputs, the operation, its output check.

Every workload is driven by one client in a closed loop. The seed alone
picks the inputs; each operation gets its own inputs from the seed and
its index, at a size that is the same for every seed.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import re
import shutil

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import fakenode

# -- freeze_online ------------------------------------------------------

FREEZE_DATASETS = ["blocks", "transactions", "logs", "traces"]
#: sort key of each frozen dataset, as the cryo schemas declare it
FREEZE_SORT = {
    "blocks": ["block_number"],
    "transactions": ["block_number", "transaction_index"],
    "logs": ["block_number", "log_index"],
    "traces": ["block_number", "transaction_index"],
}
FREEZE_WINDOW = 1000  # blocks per operation
FREEZE_CHUNK = 500  # blocks per output file
NODE_LATENCY_S = 0.001  # added to every POST
NODE_FAIL_EVERY = 50  # every 50th POST of a transport is a retryable 429
NODE_BACKOFF_S = 0.002  # RpcConfig.initial_backoff_s

# -- collect_replay -----------------------------------------------------

TRANSFER = "Transfer(address indexed from, address indexed to, uint256 value)"
TRANSFER_TOPIC0 = "ddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
#: call kinds as (dataset, dims, block range width); every round of the
#: loop makes each kind once, in seeded order. A kind keeps its width in
#: every round, so a run's mix of work does not depend on how many rounds
#: fit in its time.
COLLECT_KINDS = [
    ("blocks", {}, 160),
    ("transactions", {}, 40),
    ("logs", {}, 40),
    ("logs", {"event_signature": TRANSFER}, 160),
    ("logs", {"address": None, "topic0": None}, 160),
    ("traces", {}, 10),
    ("native_transfers", {}, 40),
    ("contracts", {}, 10),
    ("balance_diffs", {}, 40),
    ("erc20_transfers", {"address": None}, 160),
    ("transactions", {"txs": None}, None),
]
COLLECT_TXS = 8  # hashes per txs= call
FIXTURE_BLOCKS = 1000  # the replay lake holds blocks 0..999
#: column an address dim filters, per dataset (cryo's dim resolution)
ADDRESS_COLUMN = {"logs": "address", "erc20_transfers": "erc20"}

# -- corpus_prepare -----------------------------------------------------

CORPUS_DOCS = 1000  # documents per operation
#: shape of the synthetic corpus: the words, languages and sources of
#: the package's test documents, with 5% near-duplicates
CORPUS_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
CORPUS_LANGS = (("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14))


class Workload:
    name = ""
    unit = ""  # what one unit of throughput counts
    round_size = 1  # a warm loop ends on a multiple of this many operations
    warmup_rounds = 0  # untimed rounds between the cold operation and the timed loop

    def __init__(self, root: str, work: str, seed: int):
        self.root = root
        self.work = work
        self.seed = seed

    def rng(self, index: int) -> random.Random:
        return random.Random(f"{self.name}:{self.seed}:{index}")

    def prepare(self, index: int):
        """Inputs of operation ``index``, made before its timing starts."""
        raise NotImplementedError

    def run(self, spark, spec, trace_dir: str | None):
        raise NotImplementedError

    def check(self, spec, result) -> list[str]:
        """Problems with the output; empty when it is correct."""
        raise NotImplementedError

    def measure(self, spec, result) -> dict:
        """units (throughput count), rows and bytes of output."""
        raise NotImplementedError

    def cleanup(self, spec) -> None:
        pass

    def close(self) -> None:
        pass


class FreezeOnline(Workload):
    """``api.freeze`` of four datasets over a block window, fetched from
    the fake node through ``OnlineSource``."""

    name = "freeze_online"
    unit = "blocks"

    def prepare(self, index):
        start = self.rng(index).randrange(0, 100_000 - FREEZE_WINDOW)
        return {
            "index": index,
            "start": start,
            "end": start + FREEZE_WINDOW - 1,
            "out": os.path.join(self.work, f"freeze{index}"),
        }

    def run(self, spark, spec, trace_dir):
        from cryo_spark import api
        from cryo_spark.sources import rpc
        from cryo_spark.sources.online import OnlineSource

        spec["count_dir"] = os.path.join(trace_dir, f"node{spec['index']}") if trace_dir else None
        node = fakenode.CountingFakeNode(NODE_LATENCY_S, NODE_FAIL_EVERY, spec["count_dir"])
        source = OnlineSource(
            config=rpc.RpcConfig(initial_backoff_s=NODE_BACKOFF_S), transport_factory=node
        )
        return api.freeze(
            spark, FREEZE_DATASETS,
            blocks=f"{spec['start']}:{spec['end'] + 1}",
            chunk_size=FREEZE_CHUNK, source=source, output_dir=spec["out"],
        )

    def _files(self, spec) -> list[str]:
        return sorted(
            os.path.join(spec["out"], f) for f in os.listdir(spec["out"]) if f.endswith(".parquet")
        )

    def check(self, spec, result):
        problems = []
        chunks = [
            (lo, min(lo + FREEZE_CHUNK - 1, spec["end"]))
            for lo in range(spec["start"], spec["end"] + 1, FREEZE_CHUNK)
        ]
        want_files = {
            f"ethereum__{ds}__{lo:08d}_to_{hi:08d}.parquet"
            for ds in FREEZE_DATASETS for lo, hi in chunks
        }
        files = self._files(spec)
        got_files = {os.path.basename(p) for p in files}
        if got_files != want_files:
            problems.append(
                f"files: missing {sorted(want_files - got_files)[:3]}, "
                f"unexpected {sorted(got_files - want_files)[:3]}"
            )
        rows = dict.fromkeys(FREEZE_DATASETS, 0)
        for path in files:
            m = re.match(r"ethereum__(\w+?)__(\d+)_to_(\d+)\.parquet$", os.path.basename(path))
            if not m or m.group(1) not in FREEZE_SORT:
                continue
            ds, lo, hi = m.group(1), int(m.group(2)), int(m.group(3))
            keys = FREEZE_SORT[ds]
            df = pq.read_table(path, columns=keys).to_pandas()
            rows[ds] += len(df)
            if len(df) and not (df["block_number"].between(lo, hi)).all():
                problems.append(f"{os.path.basename(path)}: rows outside its chunk")
            if not df.sort_values(keys, kind="mergesort").index.equals(df.index):
                problems.append(f"{os.path.basename(path)}: not sorted on {keys}")
        want_rows = fakenode.expected_rows(spec["start"], spec["end"])
        if rows != want_rows:
            problems.append(f"rows {rows} != closed form {want_rows}")
        if result.get("n_rows") != sum(want_rows.values()):
            problems.append(f"summary n_rows {result.get('n_rows')} != {sum(want_rows.values())}")
        return problems

    def measure(self, spec, result):
        files = self._files(spec)
        out = {
            "units": FREEZE_WINDOW,
            "rows": int(result.get("n_rows", 0)),
            "bytes": sum(os.path.getsize(p) for p in files),
            "files": len(files),
        }
        if spec["count_dir"]:
            out["node"] = fakenode.read_counts(spec["count_dir"])
        return out

    def cleanup(self, spec):
        shutil.rmtree(spec["out"], ignore_errors=True)


class CollectReplay(Workload):
    """Interactive ``api.collect(..., output_format="pandas")`` calls over
    the replay lake, checked against DuckDB over the same parquet."""

    name = "collect_replay"
    unit = "calls"
    round_size = len(COLLECT_KINDS)
    # calls keep speeding up for many rounds as the JVM's JIT compiles
    # the planner: a round right after the cold call takes 1.5-1.9x as
    # long as one past the seventh, and how fast that curve falls
    # depends on the host's load, so timing it early is the noisiest
    warmup_rounds = 8

    def __init__(self, root, work, seed):
        super().__init__(root, work, seed)
        self.fixtures = os.path.join(root, "fixtures")
        logs = pq.read_table(
            os.path.join(self.fixtures, "fixture_logs.parquet"), columns=["address", "topic0"]
        ).to_pandas()
        self.addresses = sorted(set(logs["address"].map(bytes)))
        self.topics = sorted(set(logs["topic0"].dropna().map(bytes)))
        txs = pq.read_table(
            os.path.join(self.fixtures, "fixture_transactions.parquet"), columns=["transaction_hash"]
        ).column(0).to_pylist()
        self.tx_hashes = sorted(set(txs))
        self.duck = duckdb.connect()

    def close(self):
        self.duck.close()

    def prepare(self, index):
        rng = self.rng(index)
        if index == 0:
            # the cold call has the same shape for every seed
            dataset, template, width = "transactions", {}, 40
        else:
            rnd, pos = divmod(index - 1, len(COLLECT_KINDS))
            order = list(COLLECT_KINDS)
            random.Random(f"{self.name}:{self.seed}:round{rnd}").shuffle(order)
            dataset, template, width = order[pos]
        kwargs = {}
        filters = []
        if "txs" in template:
            hashes = rng.sample(self.tx_hashes, COLLECT_TXS)
            kwargs["txs"] = ["0x" + h.hex() for h in hashes]
            filters.append(f"transaction_hash IN ({_blobs(hashes)})")
        else:
            lo = rng.randrange(0, FIXTURE_BLOCKS - width)
            kwargs["blocks"] = f"{lo}:{lo + width}"
            filters.append(f"block_number BETWEEN {lo} AND {lo + width - 1}")
        if "address" in template:
            addrs = rng.sample(self.addresses, 3)
            kwargs["address"] = ["0x" + a.hex() for a in addrs]
            filters.append(f"{ADDRESS_COLUMN[dataset]} IN ({_blobs(addrs)})")
        if "topic0" in template:
            topics = rng.sample(self.topics, 4)
            kwargs["topic0"] = ["0x" + t.hex() for t in topics]
            filters.append(f"topic0 IN ({_blobs(topics)})")
        if "event_signature" in template:
            kwargs["event_signature"] = template["event_signature"]
            filters.append(f"topic0 = unhex('{TRANSFER_TOPIC0}')")
        return {
            "index": index, "dataset": dataset, "kwargs": kwargs,
            "where": " AND ".join(filters), "label": f"{dataset} {' AND '.join(filters)[:60]}",
        }

    def run(self, spark, spec, trace_dir):
        from cryo_spark import api

        return api.collect(
            spark, spec["dataset"], output_format="pandas",
            fixtures_dir=self.fixtures, **spec["kwargs"],
        )

    def _oracle(self, spec) -> pd.DataFrame:
        from cryo_spark.datasets import ORACLES

        sql = ORACLES[spec["dataset"]](self.fixtures)
        df = self.duck.sql(f"SELECT * FROM ({sql}) WHERE {spec['where']}").df()
        for col in df.columns:
            if df[col].dtype == object:
                df[col] = df[col].map(lambda v: bytes(v) if isinstance(v, bytearray) else v)
        return df

    def check(self, spec, result):
        if not isinstance(result, pd.DataFrame):
            return [f"result is {type(result).__name__}, not a pandas frame"]
        want = self._oracle(spec)
        cols = [c for c in result.columns if c in want.columns]
        if not cols:
            return [f"no column in common with the oracle: {list(result.columns)}"]
        # an all-null column reads as float NaN from DuckDB and as None
        # from Spark; it holds no values to compare
        cols = [c for c in cols if not (result[c].isna().all() and want[c].isna().all())]
        got_n, got_h = len(result), _frame_hash(result[cols])
        want_n, want_h = len(want), _frame_hash(want[cols])
        if (got_n, got_h) != (want_n, want_h):
            return [
                f"{spec['dataset']} {spec['kwargs']}: rows {got_n} vs oracle {want_n}, "
                f"hash {got_h:x} vs {want_h:x} over {cols}"
            ]
        return []

    def measure(self, spec, result):
        return {
            "units": 1,
            "rows": len(result),
            "bytes": int(result.memory_usage(index=False, deep=True).sum()),
            "files": 0,
        }


class CorpusPrepare(Workload):
    """The corpus CLI (quality filters, line dedup, near-dup) over a
    generated document set."""

    name = "corpus_prepare"
    unit = "docs"

    def prepare(self, index):
        rng = self.rng(index)
        texts: list[str] = []
        for i in range(CORPUS_DOCS):
            if i > 20 and rng.random() < 0.05:
                texts.append(texts[rng.randrange(i)] + " dup")
            else:
                n_words = rng.randint(10, 100)
                texts.append(" ".join(rng.choice(CORPUS_WORDS) for _ in range(n_words)))
        langs = rng.choices(
            [lang for lang, _ in CORPUS_LANGS], [w for _, w in CORPUS_LANGS], k=CORPUS_DOCS
        )
        base = index * CORPUS_DOCS
        table = pa.table({
            "doc_id": pa.array(range(base, base + CORPUS_DOCS), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(CORPUS_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
        path = os.path.join(self.work, f"docs{index}.parquet")
        pq.write_table(table, path)
        return {
            "index": index,
            "input": path,
            "out": os.path.join(self.work, f"corpus{index}"),
            "doc_ids": set(range(base, base + CORPUS_DOCS)),
        }

    def run(self, spark, spec, trace_dir):
        from cryo_spark import corpus_cli

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = corpus_cli.main([
                "--input", spec["input"], "--output", spec["out"], "--near-dup", "--line-dedup",
            ])
        if rc != 0:
            raise RuntimeError(f"corpus CLI exited {rc}")
        lines = buf.getvalue().strip().splitlines()
        return json.loads(lines[-1])

    def check(self, spec, result):
        problems = []
        corpus = pq.read_table(os.path.join(spec["out"], "corpus"), columns=["doc_id"])
        ids = corpus.column(0).to_pylist()
        if result.get("n_docs") != len(ids):
            problems.append(f"summary n_docs {result.get('n_docs')} != {len(ids)} rows written")
        if len(set(ids)) != len(ids) or not set(ids) <= spec["doc_ids"]:
            problems.append("output doc_ids are duplicated or not from the input")
        with open(os.path.join(spec["out"], "funnel.json")) as f:
            funnel = sorted(json.load(f), key=lambda r: r["stage_idx"])
        if not funnel or funnel[0]["docs_in"] != CORPUS_DOCS:
            problems.append(f"funnel does not start at {CORPUS_DOCS} docs")
        for prev, cur in zip(funnel, funnel[1:]):
            if cur["docs_in"] != prev["docs_out"] or cur["tokens_in"] != prev["tokens_out"]:
                problems.append(f"funnel stage {cur['stage']} in != stage {prev['stage']} out")
        for r in funnel:
            if not 0 <= r["docs_out"] <= r["docs_in"]:
                problems.append(f"funnel stage {r['stage']}: kept {r['docs_out']} of {r['docs_in']}")
        if funnel and funnel[-1]["docs_out"] != len(ids):
            problems.append(f"funnel ends at {funnel[-1]['docs_out']}, output has {len(ids)}")
        return problems

    def measure(self, spec, result):
        files = [
            os.path.join(root, f)
            for root, _, names in os.walk(os.path.join(spec["out"], "corpus"))
            for f in names if f.endswith(".parquet")
        ]
        return {
            "units": CORPUS_DOCS,
            "rows": int(result.get("n_docs", 0)),
            "bytes": sum(os.path.getsize(p) for p in files),
            "files": len(files),
        }

    def cleanup(self, spec):
        shutil.rmtree(spec["out"], ignore_errors=True)
        with contextlib.suppress(FileNotFoundError):
            os.remove(spec["input"])


def _blobs(values: list[bytes]) -> str:
    return ", ".join(f"unhex('{v.hex()}')" for v in values)


def _frame_hash(df: pd.DataFrame) -> int:
    """Order-independent hash of a frame's rows (sum of row hashes)."""
    if not len(df):
        return 0
    return int(pd.util.hash_pandas_object(df, index=False).sum())


WORKLOADS = {w.name: w for w in (FreezeOnline, CollectReplay, CorpusPrepare)}

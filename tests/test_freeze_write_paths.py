"""The two write paths of ``io.write_chunked``.

- In place: the online work list holds one chunk per partition and the
  dataset plan does not shuffle, so each chunk's file is sorted and
  written by the task that fetched it.
- Shuffled: every other frame moves its rows to one partition per
  (label, chunk) with ``repartitionById`` first.

Both must write one file per chunk, sorted on the dataset's sort key,
with the same rows.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cryo_spark import api
from cryo_spark import io as cio
from cryo_spark.schemas import get_spec
from cryo_spark.sources.online import OnlineSource
from cryo_spark.sources.rpc_families import full_fake_transport_factory as FAKE

BLOCKS = "0:400"
CHUNK = 100
N_CHUNKS = 4
IN_PLACE = ["blocks", "transactions", "logs", "traces"]
#: Window (native_transfers) and groupBy (four_byte_counts) datasets
SHUFFLED = ["native_transfers", "four_byte_counts"]


@pytest.mark.parametrize("labelled", [False, True])
@pytest.mark.parametrize("n_chunks", [2, 4, 8])
def test_place_by_chunk_puts_each_chunk_in_its_own_partition(spark, n_chunks, labelled):
    labels = ["aa", "bb", "cc"] if labelled else None
    df = spark.range(400).withColumn(cio.CHUNK_COL, (F.col("id") % n_chunks).cast("int"))
    if labelled:
        df = df.withColumn(
            cio.LABEL_COL,
            F.element_at(F.array(*[F.lit(x) for x in labels]), (F.col("id") % 3 + 1).cast("int")),
        )
    placed = cio.place_by_chunk(df, n_chunks, labels).withColumn("p", F.spark_partition_id())
    rows = placed.collect()
    want = {
        r.id: (labels.index(r[cio.LABEL_COL]) * n_chunks if labelled else 0) + r[cio.CHUNK_COL]
        for r in rows
    }
    assert {r.id: r.p for r in rows} == want
    assert len(rows) == 400


def _rows(path: str) -> Counter:
    return Counter(repr(sorted(r.items())) for r in pq.read_table(path).to_pylist())


def _sorted_on(path: str, keys: list[str]) -> bool:
    vals = [
        tuple((r[k] is not None, r[k]) for k in keys)
        for r in pq.read_table(path, columns=keys).to_pylist()
    ]
    return vals == sorted(vals)


def _files(out: str) -> dict[tuple[str, int], str]:
    """{(dataset, chunk start): path} of a freeze output dir."""
    found = {}
    for name in os.listdir(out):
        m = re.match(r"ethereum__(\w+?)__(\d+)_to_(\d+)\.parquet$", name)
        if m:
            found[(m.group(1), int(m.group(2)))] = os.path.join(out, name)
    return found


def _freeze(spark, tmp, datasets, source=None, name="out"):
    out = str(tmp / name)
    summary = api.freeze(
        spark, datasets, blocks=BLOCKS, chunk_size=CHUNK, output_dir=out, source=source,
    )
    return summary, _files(out)


@pytest.fixture(scope="module")
def shuffled_online(spark, tmp_path_factory):
    """Reference output: ``n_partitions`` above the chunk count splits
    chunks in the work list, which forces every dataset through the
    shuffled write."""
    return _freeze(
        spark, tmp_path_factory.mktemp("shuffled"), IN_PLACE + SHUFFLED,
        OnlineSource(transport_factory=FAKE, n_partitions=N_CHUNKS + 1),
    )


def test_split_chunks_keep_the_shuffle(shuffled_online):
    summary, files = shuffled_online
    assert summary["write_paths"] == dict.fromkeys(IN_PLACE + SHUFFLED, "shuffle")
    assert len(files) == N_CHUNKS * len(IN_PLACE + SHUFFLED)


@pytest.mark.parametrize("n_partitions", [None, 2])
def test_online_freeze_writes_in_place_with_shuffled_rows(
    spark, tmp_path, shuffled_online, n_partitions
):
    """One partition per chunk, or fewer partitions holding whole
    chunks: blocks, transactions, logs and traces write in place; the
    Window and groupBy datasets keep the shuffle. Rows match the
    shuffled output file for file, as multisets (traces tie on the
    sort key, so order beyond it is not compared)."""
    summary, files = _freeze(
        spark, tmp_path, IN_PLACE + SHUFFLED,
        OnlineSource(transport_factory=FAKE, n_partitions=n_partitions),
    )
    assert summary["write_paths"] == {
        **dict.fromkeys(IN_PLACE, "in_place"), **dict.fromkeys(SHUFFLED, "shuffle"),
    }
    with open(summary["report_path"]) as f:
        assert json.load(f)["write_paths"] == summary["write_paths"]
    _, want = shuffled_online
    assert files.keys() == want.keys()
    for (ds, lo), path in files.items():
        assert _rows(path) == _rows(want[(ds, lo)]), (ds, lo)
        assert _sorted_on(path, list(get_spec(ds).sort)), (ds, lo)
    assert sum(sum(_rows(p).values()) for p in files.values()) == summary["n_rows"]


def test_offline_freeze_keeps_the_shuffle(spark, tmp_path):
    """Lake scans partition by file split, not by chunk: every offline
    dataset goes through the shuffle, one sorted file per chunk."""
    datasets = ["blocks", "transactions", "logs", "traces"]
    summary, files = _freeze(spark, tmp_path, datasets)
    assert summary["write_paths"] == dict.fromkeys(datasets, "shuffle")
    assert len(files) == N_CHUNKS * len(datasets)
    for ds in datasets:
        n = 0
        for lo in range(0, 400, CHUNK):
            path = files[(ds, lo)]
            assert _sorted_on(path, list(get_spec(ds).sort)), (ds, lo)
            blocks = pq.read_table(path, columns=["block_number"]).column(0).to_pylist()
            assert all(lo <= b < lo + CHUNK for b in blocks), (ds, lo)
            n += len(blocks)
        assert n == api.collect(spark, ds, blocks=BLOCKS).count(), ds

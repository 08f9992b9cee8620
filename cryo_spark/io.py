"""Sinks: output layout, idempotent freeze writes, run reports.

Mirrors reference semantics:
- path layout `{prefix}__{datatype}__{suffix?}__{stub}.{ext}` +
  optional subdirs — /root/reference/crates/freeze/src/types/
  files.rs:63-105, chunk stub chunk_ops.rs:25-54,
- skip-existing / overwrite + collision detection —
  freeze.rs:93-125,
- atomic writes — export.rs:8-42 (tmp + rename; Spark's file
  committer gives the same guarantee, we rename committed part files
  to cryo names),
- run report — types/reports.rs:51-80.

Scale design: freeze() runs ONE Spark job for all chunks of a
dataset — tag rows with their chunk id, sort within partitions by the
schema sort columns, write with partitionBy — then renames each
committed part-file to its cryo filename driver-side. No per-chunk
job launch, no collect of data. The write takes one of two paths:

- in place: when every chunk's rows already sit in one partition (the
  online work list runs one fetch task per chunk and the dataset plan
  has no shuffle), each chunk's file is sorted and written by the task
  that fetched it — no exchange at all;
- shuffled: otherwise rows move to partition ``label index x chunks +
  chunk index`` (``repartitionById``), one partition per output file.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cryo_spark.plan import BlockChunk, TxChunk
from cryo_spark.schemas import get_spec

CHUNK_COL = "__chunk__"
LABEL_COL = "__label__"


@dataclass
class FileOutput:
    output_dir: str
    prefix: str = "ethereum"  # network name
    suffix: str | None = None  # `--label` in the reference CLI
    format: str = "parquet"
    overwrite: bool = False
    subdirs: list[str] = field(default_factory=list)  # 'datatype'|'network'|custom
    # parquet options (files.rs:16-19: parquet_statistics,
    # parquet_compression, row_group_size)
    compression: str | None = None  # reference default lz4
    row_group_size: int | None = None  # in ROWS (reference semantics)
    stats: bool = True

    def path_for(self, datatype: str, stub: str) -> str:
        pieces = [self.prefix, datatype]
        if self.suffix:
            pieces.append(self.suffix)
        pieces.append(stub)
        filename = "__".join(pieces) + "." + self.format
        d = self.output_dir
        for sub in self.subdirs:
            if sub == "network":
                d = os.path.join(d, self.prefix)
            elif sub == "datatype":
                d = os.path.join(
                    d, f"{datatype}__{self.suffix}" if self.suffix else datatype
                )
            else:
                d = os.path.join(d, sub)
        return os.path.join(d, filename)


def plan_chunk_paths(
    sink: FileOutput,
    datatype: str,
    chunks: list[BlockChunk],
    labels: list[str] | None = None,
) -> tuple[list[tuple[str | None, BlockChunk, str]], list[str]]:
    """(todo, skipped): skip-existing unless overwrite (freeze.rs:93-109).
    Raises on path collisions (freeze.rs:101-109). With ``labels``
    (partition-by dim stubs, C3) the plan is the (label × chunk)
    product, label prepended to the chunk stub in the filename."""
    paths = [
        (lbl, c, sink.path_for(datatype, c.stub() if lbl is None else f"{lbl}__{c.stub()}"))
        for lbl in (labels if labels is not None else [None])
        for c in chunks
    ]
    seen: set[str] = set()
    for _, _, p in paths:
        if p in seen:
            raise ValueError(f"output path collision: {p}")
        seen.add(p)
    if sink.overwrite:
        return paths, []
    todo = [(lbl, c, p) for lbl, c, p in paths if not os.path.exists(p)]
    skipped = [p for _, _, p in paths if os.path.exists(p)]
    return todo, skipped


def _uniform_ranges(chunks: list[BlockChunk]) -> tuple[int, int] | None:
    """(start, size) when chunks are contiguous uniform ranges (the
    normal output of subchunk_by_size) — last chunk may be short."""
    if not chunks or any(c.numbers is not None for c in chunks):
        return None
    size = chunks[0].end - chunks[0].start + 1
    pos = chunks[0].start
    for i, c in enumerate(chunks):
        if c.start != pos:
            return None
        if c.end - c.start + 1 != size and i != len(chunks) - 1:
            return None
        if c.end - c.start + 1 > size:
            return None
        pos = c.end + 1
    return chunks[0].start, size


def _chunk_id_expr(chunks: list[BlockChunk]):
    """Map block_number to the index of its chunk.

    Contiguous uniform ranges (the common case) use closed-form
    arithmetic — O(1) expression regardless of chunk count. The CASE
    chain fallback is only for irregular work-lists and would be a
    Catalyst-analysis hazard at 10^5 chunks, so the fast path matters
    at scale."""
    uniform = _uniform_ranges(chunks)
    if uniform is not None:
        start, size = uniform
        return F.floor((F.col("block_number") - F.lit(start)) / F.lit(size)).cast("int")
    expr = F.lit(-1)
    for i, c in enumerate(chunks):
        if c.numbers is not None:
            cond = F.col("block_number").isin([int(n) for n in c.numbers])
        else:
            cond = (F.col("block_number") >= c.start) & (F.col("block_number") <= c.end)
        expr = F.when(cond, F.lit(i)).otherwise(expr)
    return expr


def block_filter(chunks: list[BlockChunk]):
    """Predicate for membership in any chunk. Adjacent/overlapping
    ranges are merged first so 10^5 contiguous chunks become ONE
    between-predicate (pushable to the parquet scan), not an OR
    chain."""
    ranges: list[tuple[int, int]] = []
    numbers: list[int] = []
    for c in chunks:
        if c.numbers is not None:
            numbers.extend(int(n) for n in c.numbers)
        else:
            ranges.append((c.start, c.end))
    merged: list[tuple[int, int]] = []
    for lo, hi in sorted(ranges):
        if merged and lo <= merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    cond = F.lit(False)
    for lo, hi in merged:
        cond = cond | (
            (F.col("block_number") >= lo) & (F.col("block_number") <= hi)
        )
    if numbers:
        cond = cond | F.col("block_number").isin(sorted(set(numbers)))
    return cond


def tx_filter(chunks: list[TxChunk]):
    """Membership predicate for transaction chunks (pushable IN-list
    on transaction_hash)."""
    all_hashes = sorted({h for c in chunks for h in c.hashes})
    return F.col("transaction_hash").isin(all_hashes)


def _tx_chunk_id_expr(chunks: list[TxChunk]):
    """transaction_hash -> chunk index. Tx work-lists are explicit
    hash lists (bounded — one chunk per --txs invocation), so a CASE
    chain over IN-lists is fine here, unlike block ranges."""
    expr = F.lit(-1)
    for i, c in enumerate(chunks):
        expr = F.when(
            F.col("transaction_hash").isin(list(c.hashes)), F.lit(i)
        ).otherwise(expr)
    return expr


#: rough on-disk bytes per value by Spark type, for translating the
#: reference's row-count row-group size into parquet-mr's byte-based
#: `parquet.block.size` (files.rs row_group_size counts ROWS; the JVM
#: parquet writer flushes row groups by bytes)
_EST_TYPE_BYTES = {
    "binary": 40, "string": 40, "long": 8, "integer": 4, "double": 8,
    "float": 4, "boolean": 1, "short": 2, "byte": 1, "timestamp": 8,
}


def _parquet_options(writer, sink: FileOutput, df: DataFrame):
    """Apply FileOutput parquet knobs to a DataFrameWriter.

    - compression maps 1:1 onto Spark codecs (lz4/zstd/snappy/gzip/
      uncompressed — parse_compression, cli/parse/file_output.rs).
    - row_group_size (rows) is approximated as bytes via a per-type
      size estimate: parquet-mr only exposes byte-based flushing
      (`parquet.block.size`), so exact row counts per group are not
      expressible without a second pass; the estimate keeps groups
      within ~2x of the requested row count on chain-shaped tables.
    - stats=False is passed through best-effort; recent parquet-mr
      always writes column statistics (the option is accepted and
      ignored), which only costs bytes, never correctness.
    """
    if sink.compression:
        writer = writer.option("compression", sink.compression)
    if sink.row_group_size:
        row_bytes = sum(
            _EST_TYPE_BYTES.get(f.dataType.typeName(), 16) for f in df.schema.fields
        )
        writer = writer.option(
            "parquet.block.size", max(1 << 16, sink.row_group_size * row_bytes)
        )
    if not sink.stats:
        writer = writer.option("parquet.statistics.enabled", "false")
    return writer


def write_chunked(
    df: DataFrame,
    datatype: str,
    chunks: list,
    sink: FileOutput,
    sort: bool = True,
    sort_cols: list[str] | None = None,
    label_expr: Column | None = None,
    labels: list[str] | None = None,
    in_place: bool = False,
) -> dict:
    """One job: filter to chunks, tag rows with chunk id, sort within
    partitions, partitioned write, rename part files to cryo names.
    Returns a summary dict; its ``in_place`` says which path wrote.

    ``in_place=True`` is the caller's promise that no chunk's rows span
    two partitions of ``df`` (see :func:`keeps_work_list_partitions`):
    the write then runs in the tasks that produced the rows, with no
    shuffle. Otherwise rows are first moved to one partition per
    (label, chunk) by :func:`place_by_chunk`. A broken promise shows up
    as several part files for one chunk and raises.

    Object-store note: the final rename is a metadata move on a local
    or HDFS filesystem but a COPY on S3-style stores. Flat cryo-style
    filenames inherently need that rename (Spark task outputs cannot
    be named per-chunk atomically); on object stores prefer
    :func:`write_lake`, which writes partition directories through the
    committer with no post-hoc renames and serves the same predicates
    via partition pruning.

    ``label_expr``/``labels`` implement partition-by dims (reference
    C3, partitions.rs:290-337): ``label_expr`` computes each row's dim
    stub (e.g. first-8-hex-chars of the address), ``labels`` lists
    every expected stub; output is one file per (label, chunk), still
    a single job via a two-level partitioned write."""
    if (label_expr is None) != (labels is None):
        raise ValueError("label_expr and labels must be passed together")
    todo, skipped = plan_chunk_paths(sink, datatype, chunks, labels)
    if not todo:
        return {
            "completed_paths": [], "skipped_paths": skipped, "n_rows": 0,
            "in_place": in_place,
        }
    # a chunk is recomputed if ANY of its labels is missing; rows for
    # already-written (label, chunk) files land in staging and are
    # simply not renamed (skip-existing never overwrites)
    todo_chunks = sorted(
        {id(c): c for _, c, _ in todo}.values(), key=lambda c: c.min_value()
    )
    chunk_index = {id(c): i for i, c in enumerate(todo_chunks)}

    spec = get_spec(datatype)
    staging = os.path.join(
        sink.output_dir, f".cryo_spark_staging_{datatype}_{int(time.time() * 1000)}"
    )
    is_tx = bool(todo_chunks) and isinstance(todo_chunks[0], TxChunk)
    filt = tx_filter(todo_chunks) if is_tx else block_filter(todo_chunks)
    id_expr = _tx_chunk_id_expr(todo_chunks) if is_tx else _chunk_id_expr(todo_chunks)
    out = df.filter(filt).withColumn(CHUNK_COL, id_expr)
    part_cols = [CHUNK_COL]
    if label_expr is not None:
        out = out.withColumn(LABEL_COL, label_expr)
        part_cols = [LABEL_COL, CHUNK_COL]
    if not in_place:
        out = place_by_chunk(out, len(todo_chunks), labels)
    keys = sort_cols if sort_cols is not None else list(spec.sort)
    if sort and keys and all(c in df.columns for c in keys):
        out = out.sortWithinPartitions(*part_cols, *keys)
    writer = out.write.mode("overwrite").partitionBy(*part_cols)
    if sink.format == "parquet":
        writer = _parquet_options(writer, sink, df)
        writer.parquet(staging)
    elif sink.format == "csv":
        writer.option("header", True).csv(staging)
    elif sink.format == "json":
        writer.json(staging)
    else:
        raise ValueError(f"unknown format {sink.format}")

    ext = {"parquet": "parquet", "csv": "csv", "json": "json"}[sink.format]
    completed: list[str] = []
    n_rows = 0
    empty_template: str | None = None
    for label, chunk, final_path in todo:
        i = chunk_index[id(chunk)]
        os.makedirs(os.path.dirname(final_path), exist_ok=True)
        part_dir = (
            os.path.join(staging, f"{CHUNK_COL}={i}")
            if label is None
            else os.path.join(staging, f"{LABEL_COL}={label}", f"{CHUNK_COL}={i}")
        )
        parts = sorted(glob.glob(os.path.join(part_dir, f"part-*.{ext}*")))
        if not parts:
            # chunk had zero rows: emit an empty single-part file so
            # skip-existing stays idempotent. The empty file is
            # schema-only and identical for every empty chunk, so ONE
            # Spark job writes a template and the rest are driver-side
            # copies — a tip-of-chain freeze with thousands of sparse
            # chunks must not pay a job per empty chunk.
            if empty_template is None:
                empty = df.limit(0)
                tmp = final_path + ".tmp"
                if sink.format == "parquet":
                    empty.coalesce(1).write.mode("overwrite").parquet(tmp)
                elif sink.format == "csv":
                    empty.coalesce(1).write.mode("overwrite").option(
                        "header", True
                    ).csv(tmp)
                else:
                    empty.coalesce(1).write.mode("overwrite").json(tmp)
                part = sorted(glob.glob(os.path.join(tmp, f"part-*.{ext}*")))[0]
                empty_template = os.path.join(staging, f"_empty.{ext}")
                os.replace(part, empty_template)
                _rmtree(tmp)
            import shutil

            shutil.copyfile(empty_template, final_path)
        elif len(parts) == 1:
            os.replace(parts[0], final_path)
        else:
            # both paths keep each chunk in one partition, so >1 part
            # files per chunk should not happen; fail loudly
            raise RuntimeError(f"multiple part files for chunk {i}: {parts}")
        completed.append(final_path)
    _rmtree(staging)
    if sink.format == "parquet":
        # n_rows accounting (freeze.rs:152-158) from footers — no job
        import pyarrow.parquet as pq

        n_rows = sum(pq.read_metadata(p).num_rows for p in completed)
    return {
        "completed_paths": completed, "skipped_paths": skipped, "n_rows": n_rows,
        "in_place": in_place,
    }


def place_by_chunk(df: DataFrame, n_chunks: int, labels: list[str] | None = None) -> DataFrame:
    """Shuffle ``df`` so chunk i lands in partition i, or, with
    partition-by ``labels``, in partition ``label index x n_chunks +
    chunk index``: one partition per output file, none shared. A
    hash repartition would collide ids (2 chunks hashed into 1
    partition, 8 into 5) and leave tasks idle. Labels outside
    ``labels`` land in partitions picked modulo the count — still one
    partition per (label, chunk), their files are never renamed."""
    if labels is None:
        return df.repartitionById(n_chunks, CHUNK_COL)
    idx = F.array_position(F.array(*[F.lit(lbl) for lbl in labels]), F.col(LABEL_COL))
    return df.repartitionById(
        n_chunks * len(labels), (idx.cast("int") - 1) * n_chunks + F.col(CHUNK_COL)
    )


#: physical operators that move rows between partitions
_SHUFFLING_NODES = {
    "Exchange", "ShuffleQueryStage", "AQEShuffleRead", "Union", "CartesianProduct",
}
_BROADCAST_NODES = {"BroadcastExchange", "BroadcastQueryStage"}
_NODE_NAME = re.compile(r"(?:\*\(\d+\) )?(\w+)")


def keeps_work_list_partitions(df: DataFrame) -> bool:
    """True when every row of ``df`` stays in the partition of the
    ``spark.range`` work-list row it came from: walking the physical
    plan (persisted frames included), no node shuffles or concatenates
    partitions, and every leaf is a ``Range``. A broadcast side is
    replicated to every task, so its subtree does not count. A file or
    local-relation scan partitions by split, not by chunk, so it fails
    the test."""
    lines = df._jdf.queryExecution().executedPlan().treeString().splitlines()
    depths = [len(ln) - len(ln.lstrip(" :+-")) for ln in lines]
    broadcast_depth = None
    for i, (line, depth) in enumerate(zip(lines, depths)):
        if broadcast_depth is not None and depth > broadcast_depth:
            continue
        broadcast_depth = None
        m = _NODE_NAME.match(line[depth:])
        name = m.group(1) if m else ""
        if name in _BROADCAST_NODES:
            broadcast_depth = depth
            continue
        if name in _SHUFFLING_NODES:
            return False
        leaf = i + 1 == len(lines) or depths[i + 1] <= depth
        if leaf and name != "Range":
            return False
    return True


def _rmtree(path: str) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)


BUCKET_COL = "block_bucket"


def write_lake(
    df: DataFrame,
    root: str,
    datatype: str,
    bucket_size: int = 1_000_000,
    max_records_per_file: int = 5_000_000,
    mode: str = "append",
    zorder: list[str] | None = None,
    zorder_bits: int = 12,
) -> str:
    """100 TB lake layout: one dataset directory partitioned by
    (chain_id, block_bucket) — SURVEY §7.1 step 9.

    Directory-level partition pruning then serves the dominant
    predicates (chain + block range) before any file is opened;
    maxRecordsPerFile bounds file sizes without a repartition.
    Returns the dataset root path.

    ``zorder=[col, ...]`` (round 15) additionally CLUSTERS the rows
    inside each partition directory along the z-order curve of those
    columns (:func:`cryo_spark.operators.skew.zorder_value`), so
    parquet min/max stats prune point/range scans on the SECONDARY
    query columns too — directory pruning serves chain+block, z-order
    serves everything else (tx hash, address, value band; string and
    binary columns cluster on their leading-8-byte numeric view, which
    is lexicographic-order-preserving so raw-column file stats stay
    tight). Costs the layout's one extra range exchange +
    in-partition sort, with the frame persisted (MEMORY_AND_DISK)
    around the min/max range probe so the upstream lineage executes
    once, not twice; the plain path stays shuffle-free."""
    path = os.path.join(root, datatype)
    out = df.withColumn(
        BUCKET_COL,
        (F.col("block_number") / F.lit(bucket_size)).cast("long") * bucket_size,
    )
    cached = None
    if zorder:
        from cryo_spark.operators import skew

        out, cached = skew.zorder_cluster(
            out, zorder, zorder_bits, ["chain_id", BUCKET_COL]
        )
    try:
        (
            out.write.mode(mode)
            .option("maxRecordsPerFile", max_records_per_file)
            .partitionBy("chain_id", BUCKET_COL)
            .parquet(path)
        )
    finally:
        if cached is not None:
            cached.unpersist()
    return path


def read_lake(spark, root: str, datatype: str) -> DataFrame:
    """Read a lake dataset; block_number/chain_id predicates prune
    partitions (PartitionFilters) when phrased on the bucket column
    via :func:`lake_block_predicate` or directly on block_number
    (row-group stats)."""
    return spark.read.parquet(os.path.join(root, datatype))


def lake_block_predicate(start: int, end: int, bucket_size: int = 1_000_000):
    """Predicate for [start, end] that includes the bucket column, so
    pruning happens at the DIRECTORY level (PartitionFilters), not
    just parquet row-group stats."""
    lo = (start // bucket_size) * bucket_size
    hi = (end // bucket_size) * bucket_size
    return (
        (F.col(BUCKET_COL) >= lo)
        & (F.col(BUCKET_COL) <= hi)
        & (F.col("block_number") >= start)
        & (F.col("block_number") <= end)
    )


def write_report(output_dir: str, summary: dict, args: dict | None = None) -> str:
    """JSON run report under {output_dir}/.cryo_spark/reports
    (reports.rs:51-80)."""
    d = os.path.join(output_dir, ".cryo_spark", "reports")
    os.makedirs(d, exist_ok=True)
    ts = time.strftime("%Y-%m-%d_%H-%M-%S")
    path = os.path.join(d, f"{ts}.json")
    with open(path, "w") as f:
        json.dump({"args": args or {}, **summary}, f, indent=2, default=str)
    return path

"""OnlineSource: route raw-table reads to live JSON-RPC fetch stages.

The dataset transforms consume raw tables through
``cryo_spark.sources.raw``; offline that is the replay parquet lake,
online it is one of the typed fetchers in :mod:`rpc` /
:mod:`rpc_families`. ``api.collect``/``api.freeze`` accept
``source=OnlineSource(...)`` and activate it for the duration of the
call — the same mechanism the reference uses to swap its fetch layer
under every dataset (sources.rs Source is passed into each
dataset's collect_by_block).

Scale shape: the block work-list has one partition per chunk (one
fetch task per chunk, no shuffle), so ``api.freeze`` can sort and
write each chunk's file in the task that fetched it; an
``n_partitions`` larger than the chunk count splits chunks and sends
the write back through a shuffle. Point-lookup families build the
block x dim-value product work-list (reference C4 param-set
expansion). Fetched frames are memoized per raw-table name and
persisted, so MultiDatatype groups sharing a fetch (meta.rs:23-39)
hit the network ONCE regardless of how many transforms consume the
table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cryo_spark.sources import rpc, rpc_families as fam


class OnlineSource:
    """Live-fetch raw-table provider.

    Parameters
    ----------
    chunks: planner block chunks (plan.parse_block_inputs output) —
        the fetch work-list; required for per-block families.
    addresses / slots / contracts / call_datas: dim value lists for
        the point-lookup families (accounts, storage, calls,
        trace_calls) — the reference requires the same dims
        (partitions.rs:8-33).
    js_tracer: user tracer source for the js_traces family.
    include_receipts: pass False to elide receipt requests when no
        receipt-borne column is selected (transactions.rs:124-135).
    tx_hashes: transaction hashes for the transactions time
        dimension (``txs=...``) — routes EVERY per-block raw table
        (transactions, logs, traces, state diffs/reads, opcodes, js
        traces; blocks derive from the txs' landed block numbers)
        through per-hash lookups (the reference's
        CollectByTransaction, collect_by_transaction.rs:11-67)
        instead of a block work-list. Normally adopted from the
        ``collect``/``freeze`` call's ``txs=`` argument; explicit
        ``chunks`` win when both are set.
    """

    def __init__(
        self,
        chunks=None,
        *,
        config: rpc.RpcConfig | None = None,
        transport_factory=None,
        chain_id: int = 1,
        addresses: list[bytes] | None = None,
        slots: list[bytes] | None = None,
        contracts: list[bytes] | None = None,
        call_datas: list[bytes] | None = None,
        js_tracer: str | None = None,
        include_receipts: bool = True,
        n_partitions: int | None = None,
        tx_hashes: list[bytes] | None = None,
    ):
        self.chunks = chunks
        self.config = config
        self.transport_factory = transport_factory
        self.chain_id = chain_id
        self.addresses = addresses
        self.slots = slots
        self.contracts = contracts
        self.call_datas = call_datas
        self.js_tracer = js_tracer
        self.include_receipts = include_receipts
        self.n_partitions = n_partitions
        self.tx_hashes = tx_hashes
        self._cache: dict[str, DataFrame] = {}
        self._adopted = False
        self._tx_adopted = False

    _PER_BLOCK = {
        "blocks", "transactions", "logs", "traces", "state_diffs",
        "state_reads", "opcodes", "js_traces",
    }
    _POINT = {"accounts", "storage", "calls", "trace_calls"}

    def serves(self, name: str) -> bool:
        return name in self._PER_BLOCK or name in self._POINT

    # -- work lists --------------------------------------------------

    def _block_wl(self, spark: SparkSession) -> DataFrame:
        if not self.chunks:
            raise ValueError("OnlineSource needs block chunks for this family")
        return rpc.work_list_df(spark, self.chunks, n_partitions=self.n_partitions)

    def chunks_in_one_partition(self, chunks) -> bool:
        """True when the block work list holds each of ``chunks`` whole
        in one partition: the source fetches exactly these chunks and
        ``n_partitions`` does not split any of them (see
        :func:`rpc.work_list_df`)."""
        return bool(chunks) and list(chunks) == list(self.chunks or []) and (
            (self.n_partitions or 0) <= len(chunks)
        )

    def _tx_wl(self, spark: SparkSession) -> DataFrame:
        """Per-hash work-list (CollectByTransaction): one row per
        DISTINCT transaction hash (a duplicated txs= entry must not
        double-land rows — the offline IN-filter path dedups
        naturally); at cluster scale the partition count is the
        fetch parallelism, so hashes spread round-robin rather than
        living in however few partitions createDataFrame picks."""
        df = spark.createDataFrame(
            [(h,) for h in dict.fromkeys(bytes(h) for h in self.tx_hashes)],
            "transaction_hash binary",
        )
        if self.n_partitions:
            df = df.repartition(self.n_partitions)
        return df

    def _product_wl(self, spark: SparkSession, dims: dict[str, list[bytes]]) -> DataFrame:
        """block x dim-values product (reference C4 param-set
        expansion): small dim lists broadcast onto the block
        work-list, so the product never shuffles."""
        wl = self._block_wl(spark)
        for col, values in dims.items():
            if not values:
                raise ValueError(f"OnlineSource needs `{col}` values for this family")
            vals = spark.createDataFrame(
                [(bytes(v),) for v in values], f"{col} binary"
            )
            wl = wl.crossJoin(F.broadcast(vals))
        return wl

    # -- dispatch ----------------------------------------------------

    def raw(self, spark: SparkSession, name: str) -> DataFrame:
        if name in self._cache:
            return self._cache[name]
        kw = dict(
            config=self.config, transport_factory=self.transport_factory,
            chain_id=self.chain_id,
        )
        by_hash = bool(self.tx_hashes) and not self.chunks
        if name == "blocks":
            if by_hash:
                # transactions time dimension: the blocks of interest
                # are wherever the hashes landed (the reference
                # fetches each tx's block for gas-price context,
                # transactions.rs:181-184) — work-list = the fetched
                # txs' distinct block numbers, a downstream stage of
                # the (memoized) per-hash fetch
                wl = self.raw(spark, "transactions").select(
                    "block_number"
                ).distinct()
                df = rpc.fetch_blocks(spark, wl, **kw)
            else:
                df = rpc.fetch_blocks(spark, self._block_wl(spark), **kw)
        elif name == "logs":
            df = (
                fam.fetch_logs_by_hash(spark, self._tx_wl(spark), **kw)
                if by_hash
                else rpc.fetch_logs(spark, self._block_wl(spark), **kw)
            )
        elif name == "transactions":
            if by_hash:
                # transactions time dimension: per-hash lookups
                # (collect_by_transaction.rs), not a block sweep
                df = fam.fetch_transactions_by_hash(
                    spark, self._tx_wl(spark),
                    include_receipts=self.include_receipts, **kw,
                )
            else:
                df = fam.fetch_transactions(
                    spark, self._block_wl(spark),
                    include_receipts=self.include_receipts, **kw,
                )
        elif name == "traces":
            df = (
                fam.fetch_traces_by_hash(spark, self._tx_wl(spark), **kw)
                if by_hash
                else fam.fetch_traces(spark, self._block_wl(spark), **kw)
            )
        elif name == "state_diffs":
            df = (
                fam.fetch_state_diffs_by_hash(spark, self._tx_wl(spark), **kw)
                if by_hash
                else fam.fetch_state_diffs(spark, self._block_wl(spark), **kw)
            )
        elif name == "state_reads":
            df = (
                fam.fetch_state_reads_by_hash(spark, self._tx_wl(spark), **kw)
                if by_hash
                else fam.fetch_state_reads(spark, self._block_wl(spark), **kw)
            )
        elif name == "opcodes":
            df = (
                fam.fetch_opcodes_by_hash(spark, self._tx_wl(spark), **kw)
                if by_hash
                else fam.fetch_opcodes(spark, self._block_wl(spark), **kw)
            )
        elif name == "js_traces":
            if not self.js_tracer:
                raise ValueError("OnlineSource needs js_tracer for js_traces")
            df = (
                fam.fetch_js_traces_by_hash(
                    spark, self._tx_wl(spark), self.js_tracer, **kw
                )
                if by_hash
                else fam.fetch_js_traces(
                    spark, self._block_wl(spark), self.js_tracer, **kw
                )
            )
        elif name == "accounts":
            wl = self._product_wl(spark, {"address": self.addresses})
            df = fam.fetch_accounts(spark, wl, **kw)
        elif name == "storage":
            wl = self._product_wl(
                spark, {"address": self.addresses, "slot": self.slots}
            )
            df = fam.fetch_storage(spark, wl, **kw)
        elif name == "calls":
            wl = self._product_wl(
                spark, {"contract": self.contracts, "call_data": self.call_datas}
            )
            df = fam.fetch_calls(spark, wl, **kw)
        elif name == "trace_calls":
            wl = self._product_wl(
                spark,
                {"tx_to_address": self.contracts, "tx_call_data": self.call_datas},
            )
            df = fam.fetch_trace_calls(spark, wl, **kw)
        else:  # pragma: no cover - serves() guards
            raise KeyError(name)
        # memoize + persist: every transform consuming this raw reuses
        # ONE fetch (the MultiDatatype shared-scan guarantee online)
        df = df.persist()
        self._cache[name] = df
        return df

    def adopt_chunks(self, chunks) -> None:
        """Called by the planner (api._adopt_chunks_into_active_source)
        with the block chunks of the CURRENT collect/freeze. First call
        seeds the fetch work-list; a later call with a DIFFERENT range
        invalidates the memoized fetches so a reused source never
        serves a stale block range. Caller-seeded chunks (set in the
        constructor) are the caller's contract and never overridden."""
        if self._tx_adopted and self.tx_hashes:
            # the new collect switched from the transactions dimension
            # back to blocks: adopted tx state (and its memoized
            # per-hash fetches) must not leak into the block sweep
            self.unpersist()
            self.tx_hashes = None
            self._tx_adopted = False
        if self.chunks is None:
            self.chunks = chunks
            self._adopted = True
        elif self._adopted and list(chunks) != list(self.chunks):
            self.unpersist()
            self.chunks = chunks

    # -- driver-side chain probes ------------------------------------
    #
    # tip + timestamp resolution happen BEFORE a work-list exists, so
    # they are driver-side paced point calls, exactly like the
    # reference's get_latest_block_number / timestamp bisection
    # (cli/parse/blocks.rs:131-146, cli/parse/timestamps.rs:274-310).
    # O(log chain_height) requests per timestamp boundary — never a
    # Spark job.

    def _probe(self, method: str, params: list):
        if not hasattr(self, "_probe_transport"):
            cfg = self.config or rpc.RpcConfig()
            factory = self.transport_factory or rpc.http_transport
            self._probe_transport = factory(cfg)
            self._probe_pacer = rpc._Pacer(cfg)
        return self._probe_pacer.call(self._probe_transport, method, params)

    def latest_block_number(self) -> int:
        """Live chain tip via eth_blockNumber (the reference resolves
        `latest` against the node, never the landed lake —
        blocks.rs:131-146)."""
        return int(self._probe("eth_blockNumber", []), 16)

    def block_timestamp(self, n: int) -> int:
        hdr = self._probe("eth_getBlockByNumber", [hex(n), False])
        return int(hdr["timestamp"], 16)

    def timestamp_to_block(self, ts: int, latest: int | None = None) -> int:
        """Closest block with timestamp <= ts by binary search against
        the live chain (timestamps.rs:274-310 semantics)."""
        lo, hi = 0, latest if latest is not None else self.latest_block_number()
        mid, t = (lo + hi) // 2, None
        while lo <= hi:
            mid = (lo + hi) // 2
            t = self.block_timestamp(mid)
            if t == ts:
                return mid
            if t < ts:
                lo = mid + 1
            else:
                hi = mid - 1
        return mid - 1 if (mid > 0 and t is not None and t > ts) else mid

    def adopt_tx_hashes(self, hashes: list[bytes]) -> None:
        """Same contract as :meth:`adopt_chunks` for the transactions
        time dimension: the ``txs=`` argument of the current
        collect/freeze seeds the per-hash work-list; a reused source
        adopting a DIFFERENT hash list drops its memoized fetch."""
        hashes = [bytes(h) for h in hashes]
        if self._adopted and self.chunks:
            # switching from the block dimension to transactions:
            # adopted chunks would defeat the by-hash routing gate and
            # the memoized block-sweep fetches would serve wrong rows
            self.unpersist()
            self.chunks = None
            self._adopted = False
        if self.tx_hashes is None:
            self.tx_hashes = hashes
            self._tx_adopted = True
        elif self._tx_adopted and hashes != list(self.tx_hashes):
            self.unpersist()
            self.tx_hashes = hashes

    def unpersist(self) -> None:
        for df in self._cache.values():
            df.unpersist()
        self._cache.clear()

"""Physical-plan regression tests: the properties that decide whether
a query survives a 100x scale-up — parquet filter pushdown, column
pruning, broadcast vs shuffle joins, map-side partial aggregation,
top-k without a global sort — asserted on the headline queries so a
refactor can't silently lose them."""

from __future__ import annotations

import os
import re
import sys
import time

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown_and_partial_agg(spark):
    df = entrymod.q_pricing_summary(spark, SF_DIR)
    plan = _plan(df)
    pushed = [ln for ln in plan.split("\n") if "PushedFilters" in ln]
    assert pushed and "l_shipdate" in pushed[0], "shipdate filter must reach the parquet scan"
    # map-side combine: one partial + one final HashAggregate
    assert plan.count("HashAggregate") >= 2, "aggregation must have a partial (map-side) phase"


def test_pricing_summary_column_pruning(spark):
    df = entrymod.q_pricing_summary(spark, SF_DIR)
    plan = _plan(df)
    read = [ln for ln in plan.split("\n") if "ReadSchema" in ln][0]
    # 16-column lineitem table; the query needs exactly 6
    assert "l_quantity" in read and "l_shipdate" in read
    assert "l_comment" not in read and "l_partkey" not in read, (
        "unused columns must be pruned from the scan: " + read
    )


def test_nation_revenue_broadcasts_dims(spark):
    plan = _plan(entrymod.q_nation_revenue(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") == 2, (
        "both dim joins must broadcast (never shuffle the fact table)"
    )
    assert "SortMergeJoin" not in plan


def test_top_orders_is_take_ordered(spark):
    plan = _plan(entrymod.q_top_orders(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, (
        "orderBy+limit must compile to per-partition top-k, not a global sort"
    )
    read = [ln for ln in plan.split("\n") if "ReadSchema" in ln][0]
    assert "o_comment" not in read, "projection must prune the scan"


def test_dataset_logs_topic_filter_pushdown(spark, fixtures_dir):
    """The erc20_transfers extraction filters logs on topic0; that
    predicate must reach the raw-table scan, not run post-scan only."""
    from cryo_spark.datasets import TRANSFORMS

    df = TRANSFORMS["erc20_transfers"](spark, fixtures_dir)
    plan = _plan(df)
    pushed = [ln for ln in plan.split("\n") if "PushedFilters" in ln]
    assert pushed and any("topic0" in ln for ln in pushed), (
        "topic0 equality must be pushed into the logs scan"
    )


def test_first_order_single_shuffle(spark):
    """Window rank partitioned by o_custkey needs exactly one
    hash-partitioning exchange; a second one would double the shuffle
    volume at scale."""
    plan = _plan(entrymod.q_first_order_per_customer(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_stratified_sample_single_exchange(spark):
    """count() and row_number() share one hash exchange on the
    stratum key, and column pruning reaches the scan (text is never
    read)."""
    df = entrymod.queries()["llm_stratified_sample"](spark, SF_DIR)
    p = _plan(df)
    assert p.count("Exchange") == 1
    assert "text" not in p.split("ReadSchema")[1].split("\n")[0]


def test_pii_redact_narrow_jvm_projection(spark):
    """PII scrub is one JVM regexp projection — no Python workers, no
    shuffle beyond the deliberate small-file repartition."""
    # pii_redact folded into the llm_text_profile contract entry in
    # round 5 — pin the operator's own plan directly
    from cryo_spark.operators import text as _text

    df = _text.redact_pii(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    p = _plan(df)
    assert "Python" not in p  # no UDF in the hot path
    assert p.count("Exchange hashpartitioning") == 0
    assert "regexp_replace" in p


def test_ngram_all_pairs_no_cartesian_no_forced_broadcast(spark):
    """Round-4 plan shape: candidate pairs come from map-side posting
    list explosion (no shingle self-join, no cartesian product), and
    nothing unbounded carries a broadcast HINT — AQE picks join
    strategies from runtime sizes."""
    from cryo_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = dedup.ngram_jaccard_all_pairs(docs)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan, "posting-list pair explosion missing"
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in opt, (
        "verify joins must not force broadcast — candidate sets can be huge"
    )


def test_asof_dedup_left_keeps_left_unshuffled(spark):
    """Round-4 as-of shape: with dedup_left the full left frame joins
    the (broadcast) per-key match map — no Exchange may sit between
    the left scan and the final join."""
    plan = _plan(entrymod.q_orders_asof_events(spark, SF_DIR))
    join_lines = [ln for ln in plan.split("\n") if "BroadcastHashJoin" in ln]
    assert join_lines, "dedup_left must broadcast the matched-key map"
    # the orders scan feeds the join directly: no shuffle of the left
    seg = plan.split("BroadcastHashJoin")[1]
    assert "orders" in seg and "Exchange" not in seg.split("orders")[0].split("BroadcastExchange")[0], plan


def test_minhash_signatures_partial_aggregation(spark):
    """The k-min signature aggregation must combine map-side: the
    shuffle carries k longs per doc, never raw shingle rows."""
    from cryo_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(dedup.minhash_signatures(docs, k=16))
    assert plan.count("HashAggregate") >= 2 or "ObjectHashAggregate" in plan, plan


def test_ngram_posting_explode_parallelism_pinned(spark):
    """Round-5 regression pin: the posting-list aggregation sits on an
    explicit keyed repartition (REPARTITION_BY_NUM), which AQE never
    coalesces — without it the byte-light, CPU-dense pair-gen explode
    folds to ONE task at the coalescer's default minPartitionSize
    (measured 2.8s -> 1.0s for the candidate stage at sf0.1).

    The width is pinned too: the persisted posting-list body is elided
    from the plan snapshots, so this is the only check that sees it.
    """
    from cryo_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(dedup.ngram_jaccard_all_pairs(docs))
    par = spark.sparkContext.defaultParallelism
    assert re.search(
        rf"hashpartitioning\(shingle#\d+, {par}\), REPARTITION_BY_NUM", plan
    ), plan


def test_top_ngrams_partial_count_and_take_ordered(spark):
    from cryo_spark.operators import text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(text.top_ngrams(docs, n=2, k=100))
    assert "TakeOrderedAndProject" in plan, "top-k must never sort the count table"
    assert "partial_count" in plan, "the gram count must combine map-side"


def test_span_dedup_keeper_is_partial_min_agg(spark):
    """The global-first-occurrence keeper must be a map-side-combining
    min aggregate, NOT a window (a hot boilerplate span would funnel
    every occurrence through one task's window sort)."""
    from cryo_spark.operators.spans import dedup_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(dedup_spans(docs))
    assert "partial_min" in plan, "keeper selection must combine map-side"
    # exactly the reassembly window/sort machinery, never a span window
    assert "Window" not in plan


def test_keywords_broadcast_doc_count(spark):
    from cryo_spark.operators import text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(text.keyword_extract(docs, k=5))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        "the 1-row n_docs frame must broadcast, never shuffle the tf table"
    )
    assert "partial_count" in plan, "tf/df counts must combine map-side"


def test_temperature_mix_quota_broadcast(spark):
    from cryo_spark.operators import sampling

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(sampling.temperature_mix(docs, budget=100))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, (
        "the quota table must broadcast back onto the corpus"
    )


def test_sessionize_partial_session_merge(spark):
    """session_window must plan as an aggregation with map-side
    partial session merging (never a per-user window sort)."""
    from cryo_spark.operators.sessions import sessionize

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = _plan(sessionize(ev, gap_seconds=900))
    assert "MergingSessions" in plan or "partial" in plan.lower()
    assert "Window" not in plan


def test_span_dedup_keep_join_reuses_span_exchange(spark):
    """The keep-join keys on the same span column the keeper
    aggregation shuffled by — at most the agg's own exchanges plus
    the reassembly exchange appear (no extra span re-shuffle)."""
    from cryo_spark.operators.spans import dedup_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(dedup_spans(docs))
    # exchanges: spread repartition, span hash (agg+join reuse), doc_id
    n_hash_exchanges = plan.count("Exchange hashpartitioning")
    assert n_hash_exchanges <= 4, plan[:2000]


def test_headline_plan_snapshots():
    """Round-8 plan-hash regression gate: the pinned headline queries'
    normalized physical-plan fingerprints must match the committed
    snapshot. A failure here means a plan SHAPE changed — a lost
    broadcast, a new Exchange, a degraded join strategy — which used
    to surface only as a timing drift a round later.

    The fingerprints are computed in a child process whose session
    runs at the snapshot's own conf (``shuffle_partitions=8`` and
    ``spark.default.parallelism`` =
    ``plan_snapshots.SNAPSHOT_PARALLELISM``), not in the suite's
    ``local[$SPARK_GRAFT_CPUS]`` session: partition counts sized by
    ``defaultParallelism`` are part of the pinned plan text, so the
    check computes them at the width the snapshot was taken at and
    gives the same verdict on any host. A child that fails or times
    out fails this test with the tail of its output.

    If the change is INTENTIONAL: run
    ``python tools/update_plan_snapshots.py``, review the printed
    before/after plans, and commit the regenerated
    tests/plan_snapshots.json with the change that caused it."""
    from tools import plan_snapshots as ps

    current = ps.fingerprints_at_snapshot_width()
    snapshot = ps.load_snapshot()
    assert set(current) == set(snapshot), (
        "pinned-query set drifted — regenerate the snapshot "
        "(python tools/update_plan_snapshots.py)"
    )
    moved = {
        name: (snapshot[name], cur["fp"])
        for name, cur in current.items()
        if cur["fp"] != snapshot[name]
    }
    assert not moved, (
        f"plan shape changed for {sorted(moved)} — if intentional, run "
        "python tools/update_plan_snapshots.py and commit the diff; "
        "details:\n"
        + "\n\n".join(f"== {n} ==\n{current[n]['text']}" for n in sorted(moved))
    )


def test_plan_snapshot_child_failure_surfaces(tmp_path):
    """A fingerprint child that exits non-zero fails the gate with its
    own output, never a skip or a silent pass."""
    from tools import plan_snapshots as ps

    crash = "import sys; sys.stderr.write('boom in child\\n'); sys.exit(3)"
    with pytest.raises(RuntimeError, match=r"(?s)status 3.*boom in child"):
        ps._run_child([sys.executable, "-c", crash], str(tmp_path), timeout=60)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


@pytest.mark.skipif(
    not os.path.isdir("/proc/self"), reason="reads process state from /proc"
)
def test_plan_snapshot_child_timeout_kills_group(tmp_path):
    """A fingerprint child that outlives its timeout fails the gate,
    and its whole process group (where the gateway JVM runs) is gone
    when the call returns."""
    from tools import plan_snapshots as ps

    pid_file = tmp_path / "grandchild.pid"
    hang = (
        "import subprocess, sys, time\n"
        "p = subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(120)'])\n"
        f"open({str(pid_file)!r}, 'w').write(str(p.pid))\n"
        "print('child started', flush=True)\n"
        "time.sleep(120)\n"
    )
    with pytest.raises(RuntimeError, match=r"(?s)did not finish.*child started"):
        ps._run_child([sys.executable, "-c", hang], str(tmp_path), timeout=5)
    grandchild = int(pid_file.read_text())
    deadline = time.monotonic() + 10
    while _alive(grandchild) and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not _alive(grandchild), "the child's process group outlived the timeout"

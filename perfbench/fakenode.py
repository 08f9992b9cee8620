"""The benchmark's JSON-RPC node: the package's deterministic fake node
with a fixed per-POST latency, a periodic retryable 429, and optional
request counters.

Python workers are separate processes, so counters cannot live in
memory: with ``count_dir`` set, every POST appends one line to a file
named after the worker process and transport, and :func:`read_counts`
sums the files. Without ``count_dir`` the node behaves identically but
records nothing, so traced and untraced runs see the same latency and
429 schedule.
"""

from __future__ import annotations

import glob
import os
import time
import uuid

from cryo_spark.sources.rpc_families import full_fake_transport_factory


class RetryableError(ConnectionError):
    """The node's 429: the fetch layer's pacer retries it with backoff."""


class CountingFakeNode:
    """Picklable transport factory (``OnlineSource(transport_factory=...)``).

    Each transport (one per fetch task) sleeps ``latency_s`` per POST
    and refuses every ``fail_every``-th POST it receives."""

    def __init__(self, latency_s: float, fail_every: int, count_dir: str | None = None):
        self.latency_s = latency_s
        self.fail_every = fail_every
        self.count_dir = count_dir

    def __call__(self, config):
        inner = full_fake_transport_factory(config)
        latency, fail_every, count_dir = self.latency_s, self.fail_every, self.count_dir
        path = None
        if count_dir is not None:
            os.makedirs(count_dir, exist_ok=True)
            path = os.path.join(count_dir, f"{os.getpid()}-{uuid.uuid4().hex}.cnt")
        posts = 0

        def post(n_requests: int, answer):
            nonlocal posts
            posts += 1
            t0 = time.time()
            time.sleep(latency)
            refused = bool(fail_every) and posts % fail_every == 0
            out = None if refused else answer()
            t1 = time.time()
            if path is not None:
                kind = "retry" if refused else "post"
                with open(path, "a") as f:
                    f.write(f"{kind} {n_requests} {t0:.6f} {t1:.6f}\n")
            if refused:
                raise RetryableError("429 too many requests")
            return out

        def call(method: str, params: list):
            return post(1, lambda: inner(method, params))

        def batch(reqs: list) -> list:
            return post(len(reqs), lambda: [inner(m, p) for m, p in reqs])

        call.batch = batch  # type: ignore[attr-defined]
        return call


def read_counts(count_dir: str) -> dict:
    """Sum the counter files of one operation: requests carried by
    answered POSTs, answered POSTs, refused POSTs (retries), seconds
    spent inside the node, and the wall span from the first POST's
    start to the last POST's end."""
    out = {"requests": 0, "posts": 0, "retries": 0, "wait_s": 0.0, "span_s": 0.0}
    first, last = None, None
    for path in glob.glob(os.path.join(count_dir, "*.cnt")):
        with open(path) as f:
            for line in f:
                kind, n, t0, t1 = line.split()
                t0, t1 = float(t0), float(t1)
                if kind == "post":
                    out["posts"] += 1
                    out["requests"] += int(n)
                else:
                    out["retries"] += 1
                out["wait_s"] += t1 - t0
                first = t0 if first is None else min(first, t0)
                last = t1 if last is None else max(last, t1)
    if first is not None:
        out["span_s"] = last - first
    return out


def expected_rows(start: int, end: int) -> dict[str, int]:
    """Rows the fake node yields for blocks ``start..end`` inclusive, in
    closed form: one block row per block, ``n % 4`` transactions in block
    n, ``n % 3`` logs only when the block has transactions, and two
    traces per transaction."""
    rows = {"blocks": 0, "transactions": 0, "logs": 0, "traces": 0}
    for n in range(start, end + 1):
        ntx = n % 4
        rows["blocks"] += 1
        rows["transactions"] += ntx
        rows["logs"] += n % 3 if ntx else 0
        rows["traces"] += 2 * ntx
    return rows

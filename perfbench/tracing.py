"""Spans recorded from the benchmark's own files around the calls into
the program's layers. Installed only in the traced run.

- driver to JVM: every py4j round trip is counted by wrapping
  ``send_command`` on the py4j connection classes;
- ``cryo_spark.io.write_chunked``: each call's wall time, and the part
  of it after its last ``DataFrameWriter.parquet`` returned in the same
  thread (renames and footer reads);
- leaks: live Python threads and persisted RDD bytes, probed between
  operations.
"""

from __future__ import annotations

import threading
import time

import py4j.clientserver
import py4j.java_gateway
from pyspark.sql.readwriter import DataFrameWriter

import cryo_spark.io


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self._lock = threading.Lock()
        self._py4j_calls = 0
        self._parquet_done: dict[int, float] = {}
        self.writes: list[dict] = []
        self._saved: list[tuple[object, str, object]] = []

    # -- install / uninstall -----------------------------------------

    def _patch(self, owner, name: str, make) -> None:
        original = getattr(owner, name)
        self._saved.append((owner, name, original))
        setattr(owner, name, make(original))

    def install(self) -> None:
        tracer = self

        def count_send(original):
            def send_command(self, *args, **kwargs):
                with tracer._lock:
                    tracer._py4j_calls += 1
                return original(self, *args, **kwargs)

            return send_command

        for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
            self._patch(cls, "send_command", count_send)

        def time_parquet(original):
            def parquet(self, *args, **kwargs):
                try:
                    return original(self, *args, **kwargs)
                finally:
                    tracer._parquet_done[threading.get_ident()] = time.time()

            return parquet

        self._patch(DataFrameWriter, "parquet", time_parquet)

        def time_write(original):
            def write_chunked(*args, **kwargs):
                tid = threading.get_ident()
                tracer._parquet_done.pop(tid, None)
                t0 = time.time()
                out = original(*args, **kwargs)
                t1 = time.time()
                last_job = tracer._parquet_done.get(tid, t0)
                with tracer._lock:
                    tracer.writes.append({
                        "t0": t0, "t1": t1, "post_job_s": t1 - last_job,
                        "files": len(out.get("completed_paths", [])),
                    })
                return out

            return write_chunked

        self._patch(cryo_spark.io, "write_chunked", time_write)

    def uninstall(self) -> None:
        while self._saved:
            owner, name, original = self._saved.pop()
            setattr(owner, name, original)

    # -- probes --------------------------------------------------------

    def py4j_calls(self) -> int:
        with self._lock:
            return self._py4j_calls

    def writes_between(self, t0: float, t1: float) -> list[dict]:
        with self._lock:
            return [w for w in self.writes if t0 <= w["t0"] <= t1]

    def persisted_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's own calls into each layer
(run -> pass -> op -> {construct, action}), kept in memory and written
as one JSON file when the run ends. Counters are read at the same
boundaries:

* Spark jobs, stages and tasks through a job group set around each
  construct and action call, plus the job group Structured Streaming
  gives each query run (its run id);
* streaming batches through a ``StreamingQueryListener``;
* CPU seconds per process kind (the JVM, its Python worker processes,
  this driver process) from ``/proc``.

``NullTracer`` has the same interface and does nothing, so the untraced
run executes the same loop without the cost of any of this.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time
from datetime import datetime

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        # comm (field 2) may hold spaces; everything after its ")" splits
        return fh.read().rsplit(")", 1)[1].split()


def _cpu_s(fields: list[str], children: bool) -> float:
    ticks = int(fields[11]) + int(fields[12])  # utime, stime
    if children:
        ticks += int(fields[13]) + int(fields[14])  # reaped children
    return ticks / _CLK_TCK


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                parent[int(entry)] = int(_stat_fields(int(entry))[1])
            except (OSError, IndexError):
                continue  # the process ended while we scanned
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_by_kind(jvm_pid: int) -> dict[str, float]:
    """Cumulative CPU seconds of the JVM (its own threads), of the Python
    worker processes under it (with the children they reaped, so a worker
    that exits between two readings is still counted) and of this driver
    process. Differences of two readings give the CPU spent between them."""
    workers = 0.0
    for pid in _descendants(jvm_pid):
        try:
            workers += _cpu_s(_stat_fields(pid), children=True)
        except (OSError, IndexError):
            continue
    t = os.times()
    return {
        "jvm": _cpu_s(_stat_fields(jvm_pid), children=False),
        "pyworkers": workers,
        "driver": t.user + t.system,
    }


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


class NullTracer:
    """Tracing off: every hook is a no-op."""

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        yield None

    def pass_done(self, pass_span, ops) -> None:
        pass

    def close(self, path: str) -> None:
        pass


class Tracer:
    """Tracing on. One instance per run; not thread-safe (the benchmark is
    a closed loop with one client)."""

    def __init__(self, spark, run_id: str):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.streams: dict[str, dict] = {}  # run id -> listener record

        streams = self.streams

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                streams[str(event.runId)] = {
                    "start_ms": _epoch_ms(event.timestamp),
                    "progress": [],
                    "done": False,
                }

            def onQueryProgress(self, event):
                p = event.progress
                rec = streams.setdefault(
                    str(p.runId), {"start_ms": None, "progress": [], "done": False}
                )
                rec["progress"].append(
                    {
                        "ts_ms": _epoch_ms(p.timestamp),
                        "rows": p.numInputRows,
                        "dur": dict(p.durationMs),
                        "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                streams.setdefault(
                    str(event.runId), {"start_ms": None, "progress": [], "done": False}
                )["done"] = True

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Record a span; ``construct`` and ``action`` spans also run under
        a job group named after the span, so their jobs can be counted."""
        sid = next(self._ids)
        rec = {"id": sid, "parent": parent, "name": name, "run": self.run_id, **attrs}
        grouped = name in ("construct", "action")
        if grouped:
            rec["group"] = f"{self.run_id}/{sid}"
            self.sc.setJobGroup(rec["group"], name)
        if name == "pass":
            rec["cpu0"] = cpu_by_kind(self.jvm_pid)
        rec["wall0_ms"] = time.time() * 1e3
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield sid
        finally:
            rec["end"] = time.perf_counter() - self.t0
            rec["wall1_ms"] = time.time() * 1e3
            if grouped:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            if name == "pass":
                cpu0, cpu1 = rec.pop("cpu0"), cpu_by_kind(self.jvm_pid)
                rec["cpu_s"] = {k: cpu1[k] - cpu0[k] for k in cpu1}
            self.spans.append(rec)

    def _wait_streams(self, timeout_s: float = 30.0) -> None:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if all(r["done"] for r in self.streams.values()):
                return
            time.sleep(0.05)

    def pass_done(self, pass_span: int, ops: list[tuple[int, object]]) -> None:
        """After a pass (outside its wall): attach job, stage, planning and
        streaming counters to the pass's op spans. ``ops`` pairs each op
        span id with the DataFrame its action ran on (None if it failed)."""
        self._wait_streams()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        by_parent: dict[int, list[dict]] = {}
        for s in self.spans:
            by_parent.setdefault(s["parent"], []).append(s)
        for op_id, df in ops:
            op = next(s for s in by_parent[pass_span] if s["id"] == op_id)
            kids = {s["name"]: s for s in by_parent.get(op_id, [])}
            streams = [
                (rid, r)
                for rid, r in self.streams.items()
                if r["start_ms"] is not None
                and op["wall0_ms"] <= r["start_ms"] <= op["wall1_ms"]
            ]
            groups = [k["group"] for k in kids.values()] + [rid for rid, _ in streams]
            counts = {
                "construct_jobs": len(
                    tracker.getJobIdsForGroup(kids["construct"]["group"])
                ),
                "jobs": 0, "stages": 0, "tasks": 0,
                "exec_ms": 0, "shuffle_b": 0, "spill_b": 0,
            }
            for g in groups:
                for jid in tracker.getJobIdsForGroup(g):
                    counts["jobs"] += 1
                    info = tracker.getJobInfo(jid)
                    for stage_id in info.stageIds if info else ():
                        st = store.lastStageAttempt(stage_id)
                        if st.status().toString() == "SKIPPED":
                            continue  # its shuffle output was reused
                        counts["stages"] += 1
                        counts["tasks"] += st.numTasks()
                        counts["exec_ms"] += st.executorRunTime()
                        counts["shuffle_b"] += st.shuffleWriteBytes()
                        counts["spill_b"] += st.diskBytesSpilled()
            plan_ms = 0
            if df is not None:
                phases = df._jdf.queryExecution().tracker().phases()
                for phase in ("analysis", "optimization", "planning"):
                    got = phases.get(phase)
                    if got.isDefined():
                        plan_ms += got.get().durationMs()
            counts["plan_ms"] = plan_ms
            counts["streaming"] = [
                {
                    "batches": len(r["progress"]),
                    "input_rows": sum(p["rows"] for p in r["progress"]),
                    "batch_ms": sum(p["dur"].get("triggerExecution", 0) for p in r["progress"]),
                    "planning_ms": sum(p["dur"].get("queryPlanning", 0) for p in r["progress"]),
                    "commit_ms": sum(
                        p["dur"].get("walCommit", 0) + p["dur"].get("commitOffsets", 0)
                        for p in r["progress"]
                    ),
                    "startup_ms": (
                        r["progress"][0]["ts_ms"] - r["start_ms"] if r["progress"] else 0
                    ),
                    "state_rows": r["progress"][-1]["state_rows"] if r["progress"] else 0,
                }
                for _, r in streams
            ]
            op["counts"] = counts

    def close(self, path: str) -> None:
        self.spark.streams.removeListener(self._listener)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)

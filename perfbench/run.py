"""deva-spark benchmark: closed-loop passes over registry entries.

Usage (from the repository root):

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

One run is a fresh process with one client: set-up (import, ``get_spark``,
staging the artifacts the workload's entries read), one cold first pass
over the workload's entries, then warm passes until ``--seconds`` of warm
wall time have elapsed (whole passes, at least one). An op is one registry
entry, ``SPARK_QUERIES[name](spark, sf_dir).toPandas()``; the next op is
issued only when the previous one has returned. ``--seed`` fixes the issue
order of the entries in each pass; the program sees only the data.

Every op's result is hash-checked against the entry's DuckDB oracle
(``tools/check_correctness.py``'s ``frame_hash``) after the measurement,
so no oracle work falls inside a timed window or inside ``setup_s``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics (see ``tracer.py``) with ``--trace 1``. The line
before it (``# detail {...}``) carries sample counts, the tail percentile,
the launch settings and the noise diagnostics (host CPU steal, load).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from subprocess import TimeoutExpired
from typing import Any, NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
WORK = os.path.join(HERE, ".work")

sys.path[:0] = [HERE, ROOT]
import stats  # noqa: E402
import tracer as tracing  # noqa: E402

#: workload -> (entry ids, artifacts those entries read). ``None`` selects
#: every declared query q01-q35. The artifact lists are what the entries
#: read through the artifact layer at this commit; a run stages exactly
#: these during set-up so no op pays for another op's index build.
WORKLOADS: dict[str, tuple[tuple[str, ...] | None, tuple[str, ...]]] = {
    # Per-query driver floor: plan construction, analysis/planning and job
    # scheduling dominate; Python workers do almost nothing.
    "relational": (None, ()),
    # Chains of small dependent micro-batches or jobs: AvailableNow
    # streaming drains plus the iterative x120; per-batch coordination and
    # state commits dominate. Entries are left out to keep a run near 70 s:
    # the iterative x111 (~22 s of cold plus warm pass on its own), the
    # interval-join drain x38 (~11 s), and the windowed-count drains x63
    # and x71 (~7 s together), whose stateful aggregation x33 and x34 keep.
    "stream_iter": (
        "x33 x34 x35 x36 x49 x69 x78 x120".split(),
        ("subpos8", "subwin8d"),
    ),
}

#: Set-up time is process start to first op ready; /proc gives the start.
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _CLK_TCK


def steal_s() -> float:
    """Host CPU steal seconds since boot, all CPUs (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK_TCK


def hermetic_env(run_dir: str) -> dict[str, str]:
    """Give this run its own empty artifact root, temp dir, Spark local
    dirs and working directory (``spark-warehouse/`` lands there), and the
    launch settings the Python workers need. Must run before pyspark
    launches the JVM."""
    dirs = {k: os.path.join(run_dir, k) for k in ("artifacts", "tmp", "local", "cwd")}
    for d in dirs.values():
        os.makedirs(d)
    # program options a caller's environment could set; runs use defaults
    for k in ("DEVA_EXTRA_CONF", "DEVA_SHUFFLE_PARTITIONS", "SPARK_DRIVER_MEMORY"):
        os.environ.pop(k, None)
    pythonpath = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.update(
        DEVA_ARTIFACT_DIR=dirs["artifacts"],
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        # without the repo root the Python workers cannot unpickle any
        # UDF that references deva_spark
        PYTHONPATH=pythonpath,
        # the JVM's temp files and perf-data file stay out of /tmp
        JAVA_TOOL_OPTIONS=" ".join(
            p
            for p in (
                os.environ.get("JAVA_TOOL_OPTIONS"),
                f"-Djava.io.tmpdir={dirs['tmp']}",
                "-XX:-UsePerfData",
            )
            if p
        ),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(dirs["cwd"])
    return {"PYTHONPATH": pythonpath}


def select_entries(registry, ids: tuple[str, ...] | None) -> list[str]:
    names = list(registry)
    if ids is None:
        return [n for n in names if n.startswith("q")]
    picked = [n for n in names if n.split("_", 1)[0] in ids]
    missing = set(ids) - {n.split("_", 1)[0] for n in picked}
    if missing:
        raise SystemExit(f"registry has no entries {sorted(missing)}")
    return picked


class Op(NamedTuple):
    name: str
    latency_s: float
    result: Any  # the pandas frame, None if the op failed
    df: Any  # the DataFrame the action ran on, None if the op failed
    span: int | None
    error: str | None


def run_pass(spark, registry, sf_dir, order, tracer, run_span, index):
    """One closed-loop pass. Returns (wall seconds, ops)."""
    ops: list[Op] = []
    with tracer.span("pass", run_span, index=index) as pass_span:
        t_pass = time.perf_counter()
        for name in order:
            with tracer.span("op", pass_span, entry=name) as op_span:
                t0 = time.perf_counter()
                try:
                    with tracer.span("construct", op_span):
                        df = registry[name](spark, sf_dir)
                    with tracer.span("action", op_span):
                        result = df.toPandas()
                    ops.append(Op(name, time.perf_counter() - t0, result, df, op_span, None))
                except Exception:  # noqa: BLE001 -- a failed op is counted, not fatal
                    err = traceback.format_exc()
                    print(f"# op {name} failed:\n{err}", file=sys.stderr)
                    ops.append(Op(name, time.perf_counter() - t0, None, None, op_span, err))
        wall = time.perf_counter() - t_pass
    tracer.pass_done(pass_span, [(o.span, o.df) for o in ops])
    return wall, ops


def result_hash(frame_hash, op: Op) -> tuple[str, int, list[str]]:
    """frame_hash of a toPandas result, after undoing the pandas
    conversions so values read as ``collect()`` and DuckDB give them:
    NaN/NaT for null, NumPy scalars and arrays, Timestamp, and float for
    a nullable integer column."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegralType

    def plain(v):
        if v is None or v is pd.NaT:
            return None
        if isinstance(v, float) and v != v:
            return None  # Arrow turns a null double into NaN
        if isinstance(v, np.ndarray):
            return [plain(x) for x in v.tolist()]
        if isinstance(v, (list, tuple)):
            return [plain(x) for x in v]
        if isinstance(v, np.generic):
            return plain(v.item())
        if isinstance(v, pd.Timestamp):
            return v.to_pydatetime()
        return v

    pdf, schema = op.result, op.df.schema
    columns = []
    for i, field in enumerate(schema.fields):
        vals = [plain(v) for v in pdf.iloc[:, i].tolist()]
        if isinstance(field.dataType, IntegralType):
            vals = [None if v is None else int(v) for v in vals]
        columns.append(vals)
    rows = list(zip(*columns)) if columns else [() for _ in range(len(pdf))]
    cols = list(pdf.columns)
    h, n = frame_hash(cols, rows)
    return h, n, sorted(cols)


def check_pass(ops: list[Op], frame_hash, hashes: dict, errors: list) -> None:
    """Hash every completed op of a pass (outside the pass wall)."""
    for op in ops:
        if op.error is None:
            hashes[op.name].append(result_hash(frame_hash, op))
        else:
            errors.append(f"{op.name}: exception")


def oracle_hashes(cc, oracle_sql: dict[str, str], names, sf_dir: str) -> dict:
    import duckdb

    from deva_spark.session import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        out = {}
        for name in names:
            cur = con.execute(oracle_sql[name])
            cols = [d[0] for d in cur.description]
            h, n = cc.frame_hash(cols, cur.fetchall())
            out[name] = (h, n, sorted(cols))
        return out
    finally:
        con.close()


def load_check_correctness():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers under it, and wait
    until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    workers = tracing._descendants(jvm_pid)
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def layer_metrics(tracer, setup: dict, end_state: dict) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run: means per warm pass, except the
    set-up and end-of-run readings."""
    spans = tracer.spans
    warm = [s for s in spans if s["name"] == "pass" and s["index"] > 0]
    warm_ids = {s["id"] for s in warm}
    ops = [s for s in spans if s["name"] == "op" and s["parent"] in warm_ids]
    op_ids = {s["id"] for s in ops}
    construct = [s for s in spans if s["name"] == "construct" and s["parent"] in op_ids]
    npass = len(warm)

    def per_pass(values) -> float:
        return sum(values) / npass

    def count(key) -> float:
        return per_pass(s["counts"][key] for s in ops)

    def stream(key) -> float:
        return per_pass(x[key] for s in ops for x in s["counts"]["streaming"])

    def cpu(kind) -> float:
        return per_pass(s["cpu_s"][kind] for s in warm)

    mb = 1024.0 * 1024.0
    return {
        "session.get_spark_s": (setup["get_spark_s"], "s"),
        "queries.construct_ms": (
            per_pass((s["end"] - s["start"]) * 1e3 for s in construct), "ms"),
        "queries.construct_jobs": (count("construct_jobs"), "count"),
        "queries.stage_s": (setup["stage_s"], "s"),
        "queries.artifacts_staged": (setup["artifacts_staged"], "count"),
        "spark.plan_ms": (count("plan_ms"), "ms"),
        "spark.jobs": (count("jobs"), "count"),
        "spark.stages": (count("stages"), "count"),
        "spark.tasks": (count("tasks"), "count"),
        "spark.exec_ms": (count("exec_ms"), "ms"),
        "spark.shuffle_mb": (count("shuffle_b") / mb, "MB"),
        "spark.spill_mb": (count("spill_b") / mb, "MB"),
        "cpu.jvm_s": (cpu("jvm"), "s"),
        "cpu.pyworkers_s": (cpu("pyworkers"), "s"),
        "cpu.driver_s": (cpu("driver"), "s"),
        "spark.persisted_rdds": (end_state["persisted_rdds"], "count"),
        "spark.storage_mb": (end_state["storage_b"] / mb, "MB"),
        "streaming.batches": (stream("batches"), "count"),
        "streaming.input_rows": (stream("input_rows"), "count"),
        "streaming.batch_ms": (stream("batch_ms"), "ms"),
        "streaming.planning_ms": (stream("planning_ms"), "ms"),
        "streaming.commit_ms": (stream("commit_ms"), "ms"),
        "streaming.startup_ms": (stream("startup_ms"), "ms"),
        "streaming.state_rows": (stream("state_rows"), "count"),
    }


def op_coverage(tracer) -> float:
    """Lowest share of a pass's wall covered by its op spans."""
    spans = tracer.spans
    shares = []
    for p in (s for s in spans if s["name"] == "pass"):
        ops = [s for s in spans if s["name"] == "op" and s["parent"] == p["id"]]
        shares.append(sum(s["end"] - s["start"] for s in ops) / (p["end"] - p["start"]))
    return min(shares)


def run(args, run_id: str, launch: dict) -> tuple[dict, dict]:
    ids, artifacts = WORKLOADS[args.workload]
    steal0 = steal_s()

    # --- set-up: import, session, artifact staging ------------------------
    from deva_spark import queries as Q
    from deva_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus)
    get_spark_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    staged = Q.stage_artifacts(spark, DATA, list(artifacts))
    stage_s = time.perf_counter() - t0
    setup_s = process_age_s()
    setup = {
        "get_spark_s": get_spark_s,
        "stage_s": stage_s,
        "artifacts_staged": sum(1 for v in staged.values() if v > 0),
    }

    try:
        tracer = tracing.Tracer(spark, run_id) if args.trace else tracing.NullTracer()
        entries = select_entries(Q.SPARK_QUERIES, ids)
        cc = load_check_correctness()
        hashes: dict[str, list] = {n: [] for n in entries}
        errors: list[str] = []
        walls: list[float] = []
        warm_s: dict[str, list[float]] = {}  # entry -> warm latencies of completed ops
        attempted = 0
        with tracer.span("run", None, workload=args.workload, seed=args.seed) as run_span:
            k = 0
            while k < 2 or sum(walls[1:]) < args.seconds:  # >= 1 warm pass
                order = random.Random(f"{args.seed}:{k}").sample(entries, len(entries))
                wall, ops = run_pass(spark, Q.SPARK_QUERIES, DATA, order, tracer, run_span, k)
                walls.append(wall)
                if k:
                    for name, latency_s in [
                        (o.name, o.latency_s) for o in ops if o.error is None
                    ]:
                        warm_s.setdefault(name, []).append(latency_s)
                attempted += len(ops)
                check_pass(ops, cc.frame_hash, hashes, errors)
                # no reference to a result or DataFrame may outlive the pass:
                # it would pin JVM objects into retained_heap_mb
                del ops
                k += 1

        # --- end-of-run state: converged heap, persisted blocks ----------
        jvm = spark._jvm
        runtime = jvm.java.lang.Runtime.getRuntime()
        heap_readings: list[float] = []

        def read_heap() -> float:
            heap_readings.append(
                (runtime.totalMemory() - runtime.freeMemory()) / (1024.0 * 1024.0)
            )
            return heap_readings[-1]

        def collect() -> None:
            gc.collect()  # py4j proxies free their JVM objects only now
            jvm.java.lang.System.gc()
            # Spark's cleaner thread drops blocks and shuffles of objects
            # this GC found unreachable; give it time before the next round
            time.sleep(0.5)

        heap_mb, gc_rounds = stats.converge(collect, read_heap)
        jsc = spark.sparkContext._jsc
        end_state = {
            "persisted_rdds": jsc.getPersistentRDDs().size(),
            "storage_b": sum(
                i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()
            ),
        }
        layers = layer_metrics(tracer, setup, end_state) if args.trace else {}
        coverage = op_coverage(tracer) if args.trace else None
        tracer.close(os.path.join(WORK, "traces", f"{run_id}.json"))
    finally:
        stop_spark(spark)

    # --- correctness: every op against its DuckDB oracle ------------------
    oracle = oracle_hashes(cc, Q.ORACLE_SQL, entries, DATA)
    for name, got in hashes.items():
        for h in got:
            if h != oracle[name]:
                errors.append(f"{name}: got {h} want {oracle[name]}")

    warm = [x for xs in warm_s.values() for x in xs]
    tail_s, tail_pct = stats.tail(warm)
    warm_wall = sum(walls[1:])
    e2e = {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (walls[0], "s"),
        "latency_p50_ms": (statistics.median(warm) * 1e3, "ms"),
        "latency_tail_ms": (tail_s * 1e3, "ms"),
        "throughput_per_s": (stats.throughput(len(warm), warm_wall), "1/s"),
        "retained_heap_mb": (heap_mb, "MB"),
    }
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in (layers if args.trace else e2e).items()
        },
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "run_id": run_id,
        "cpus": cpus,
        **launch,
        "entries": len(entries),
        "passes": len(walls),
        "pass_walls_s": walls,
        "warm_samples": len(warm),
        "tail_percentile": tail_pct,
        "gc_rounds": gc_rounds,
        "heap_readings": heap_readings,
        "warm_ms": {n: [round(x * 1e3) for x in xs] for n, xs in warm_s.items()},
        "staged": staged,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "op_span_coverage": coverage,
        "steal_s": steal_s() - steal0,
        "load_1m": os.getloadavg()[0],
        "errors": errors,
    }
    return result, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "deva_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_correctness.py")
    ):
        print(f"no deva_spark checkout at {ROOT}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{time.time_ns()}"
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        launch = hermetic_env(run_dir)
        result, detail = run(args, run_id, launch)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print("# detail " + json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

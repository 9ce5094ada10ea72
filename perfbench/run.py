"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload genomics --seed 1 --seconds 20 --trace 0

Run it from the repository root. It derives the seed's input tables
from the engine's test data (``datagen``; cached under ``.bench_data/``),
starts the engine session, warms it up with passes for the workload's
``warmup_s``, then repeats passes over the workload's operations for
``--seconds`` seconds, checking every output against its DuckDB oracle.
On a cold workload (``ingest``) every pass, warm-up or timed, starts in
a fresh SparkContext, so no index, checkpoint or admitted table is left
from an earlier pass. The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones:

- ``setup_s``: median of five session starts in this process, each a
  fresh SparkContext (the first also launches the JVM) plus one warm-up
  query.
- ``wall_s``: one pass, as the sum over operations of each operation's
  median time over the timed passes.
- ``rows_per_s``: the workload's input rows over ``wall_s``.

With ``--trace 1`` the run alternates untraced and traced passes and
prints the per-layer metrics instead (``layers.PER_LAYER``).
Details of each run (per-operation times, micro-batch durations, host
steal and foreign CPU from ``/proc/stat``, spans) go to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SETUPS = 5


def _pin_runtime(work: str, driver_mem: str) -> None:
    """Pin the engine's runtime through its own env knobs: all cores,
    a driver heap well below physical RAM, the repo on the Python
    workers' path, and every scratch path inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
        ),
        # every JVM, the launcher's too: no perf-data file under /tmp
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, (
            os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:+PerfDisableSharedMem"))),
    })
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _digest(rows, cols) -> dict:
    """Row count plus an order-insensitive value hash, on the
    normalisation the engine's oracle gate uses (tools/check.py)."""
    from tools.check import normalize

    h = hashlib.sha256(repr(normalize(rows, cols)).encode()).hexdigest()
    return {"cols": sorted(cols), "rows": len(rows), "hash": h}


def _oracles(data_dir: str, names: list[str]) -> dict:
    """Expected digests per query, from the DuckDB oracles over the same
    tables; computed once per seed and kept beside the tables, each
    under a hash of the SQL it ran and the DuckDB version, so a changed
    oracle is recomputed."""
    import duckdb

    from sparkga1_spark.plans import registry
    from tools.check import duck_connection

    path = os.path.join(data_dir, "_oracles.json")
    cached = json.load(open(path)) if os.path.exists(path) else {}
    sqls, keys = {}, {}
    for n in names:
        # materialise every CTE: same result, but DuckDB otherwise
        # inlines a CTE at each reference and recomputes it (the
        # ingest oracle's unrolled rounds took minutes, not 0.2 s)
        sqls[n] = re.sub(r"^(\s*,?\s*)(\w+) AS \(", r"\1\2 AS MATERIALIZED (",
                         registry.get(n)[1], flags=re.M)
        keys[n] = hashlib.sha256(
            f"{duckdb.__version__}\n{sqls[n]}".encode()).hexdigest()
    missing = [n for n in names if cached.get(n, {}).get("key") != keys[n]]
    if missing:
        con = duck_connection(data_dir)
        for n in missing:
            res = con.execute(sqls[n])
            cached[n] = {"key": keys[n], "digest": _digest(
                res.fetchall(), [c[0] for c in res.description])}
        con.close()
        with open(path, "w") as f:
            json.dump(cached, f)
    return {n: cached[n]["digest"] for n in names}


def _input_rows(data_dir: str, tables) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
        for t in tables
    )


class Runner:
    def __init__(self, wl, data_dir, work, expected):
        self.wl, self.data_dir = wl, data_dir
        self.work, self.expected = work, expected
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.passes = 0
        self.current_op = None
        self.rows: dict[str, int] = {}

    def restart(self) -> float:
        """Stop the active session and start a fresh SparkContext in the
        same JVM, warmed up with one scan; returns the seconds taken."""
        from pyspark.sql import SparkSession

        from sparkga1_spark.session import get_spark
        from sparkga1_spark.sources.catalog import load_table

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.wl.name}")
        load_table(self.spark, self.data_dir, "lineitem").count()
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    def setup(self) -> list[float]:
        return [self.restart() for _ in range(SETUPS)]

    def fresh(self) -> None:
        """Before each pass of a cold workload: a fresh SparkContext,
        so the engine's per-application caches start empty."""
        if self.wl.cold:
            self.restart()

    def ctx(self, data_dir, spans=None):
        from workloads import Ctx

        self.passes += 1
        return Ctx(self.spark, data_dir, self.work, spans=spans,
                   pass_no=self.passes)

    def run_pass(self, data_dir, spans=None, on_op=None, cpu=None) -> dict:
        """One pass over the workload's operations; returns per-op
        seconds (None when the op failed). With `cpu` (a list), appends
        the process tree's CPU jiffies over each operation."""
        from bench import _host_probe
        from sparkga1_spark.operators.cache import release_tracked

        ctx = self.ctx(data_dir, spans)
        if self.wl.prepare is not None:
            self.wl.prepare(ctx)
        out = {}
        for op in self.wl.ops:
            self.current_op = op
            release_tracked()
            t_wall = time.time()
            cpu0 = _host_probe()[1] if cpu is not None else 0
            t0 = time.perf_counter()
            try:
                rows, cols = op.run(ctx)
                error = None
            except Exception as e:  # noqa: BLE001 - counted, reported, run continues
                error = e
            dt = time.perf_counter() - t0
            if cpu is not None:
                cpu.append(_host_probe()[1] - cpu0)
            if error is not None:
                ok = False
                self.errors.append(
                    f"{op.name}: {type(error).__name__}: {str(error)[:300]}")
            else:
                self.rows[op.name] = len(rows)
                ok = _digest(rows, cols) == self.expected[op.name]
                if not ok:
                    self.errors.append(f"{op.name}: output differs from oracle")
            self.attempted += 1
            self.failed += not ok
            out[op.name] = dt if ok else None
            if on_op is not None:
                on_op(op, t_wall)
        return out


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched and the JVM's Python
    workers, and wait until each process has ended."""
    from tracing import alive, descendants

    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    workers = descendants(jvm.pid)
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()  # the JVM exits when this pipe closes
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.time() + 10
    for pid in workers:
        while alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if alive(pid):
            os.kill(pid, signal.SIGKILL)


def _median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else float("nan")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-mem", default="4g")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "sparkga1_spark", "session.py")):
        print("perfbench: run from the repository root "
              "(sparkga1_spark/ not found here)", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _pin_runtime(work, args.driver_mem)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work) -> int:
    import datagen
    from workloads import workloads

    wls = workloads()
    if args.workload not in wls:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(wls)}", file=sys.stderr)
        return 2
    wl = wls[args.workload]
    log: dict = {"workload": wl.name, "seed": args.seed, "factor": wl.factor,
                 "trace": args.trace}

    cache = os.path.join(ROOT, ".bench_data")
    data_dir, log["datagen_s"] = datagen.ensure(cache, args.seed, wl.factor)
    t0 = time.perf_counter()
    expected = _oracles(data_dir, [op.name for op in (*wl.ops, *wl.probes)])
    log["oracle_s"] = time.perf_counter() - t0
    print(f"# datagen {log['datagen_s']:.2f}s (when generated), oracles "
          f"{log['oracle_s']:.2f}s (neither is part of setup_s)", file=sys.stderr)

    r = Runner(wl, data_dir, work, expected)
    setups = r.setup()
    log["setup_each_s"] = setups
    try:
        t0 = time.perf_counter()
        log["warmup_pass_s"] = []
        while not log["warmup_pass_s"] or time.perf_counter() - t0 < wl.warmup_s:
            r.fresh()
            log["warmup_pass_s"].append(r.run_pass(data_dir))
        log["warmup_s"] = time.perf_counter() - t0
        if args.trace:
            result = _traced(r, args, log)
        else:
            result = _timed(r, args, log)
        if not args.trace:
            result["metrics"]["setup_s"] = {"value": statistics.median(setups),
                                            "unit": "s"}
    finally:
        _stop(r.spark)

    log["errors"] = r.errors
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(
        out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w"
    ) as f:
        json.dump(log, f, indent=1, default=str)
    for e in r.errors:
        print(f"# FAILED {e}", file=sys.stderr)
    if not all(math.isfinite(m["value"]) for m in result["metrics"].values()):
        print("perfbench: no successful run of some operation; no result",
              file=sys.stderr)
        return 1
    print(json.dumps({"correct": r.failed == 0, "attempted": r.attempted,
                      "failed": r.failed, "metrics": result["metrics"]}))
    return 0


def _batches(listener, expected: int, timeout: float = 10.0) -> list[dict]:
    """Progress events arrive on the listener bus after the batch; wait
    until the expected number are in."""
    deadline = time.time() + timeout
    while len(listener.batches) < expected and time.time() < deadline:
        time.sleep(0.05)
    return list(listener.batches)


def _timed(r: Runner, args, log) -> dict:
    import bench
    from tracing import ProgressListener

    wl = r.wl
    listener = ProgressListener()
    per_op: dict[str, list] = {op.name: [] for op in wl.ops}
    host0 = bench._host_probe()
    start = time.perf_counter()
    n = 0
    while not n or time.perf_counter() - start < args.seconds:
        r.fresh()
        r.spark.streams.addListener(listener)
        for name, dt in r.run_pass(r.data_dir).items():
            per_op[name].append(dt)
        n += 1
        if wl.batches_per_pass:
            _batches(listener, wl.batches_per_pass * n)
        r.spark.streams.removeListener(listener)
    log["host"] = bench._host_delta(host0, bench._host_probe())
    log["per_op_s"] = per_op
    log["passes"] = n
    log["batches"] = list(listener.batches)
    wall = sum(_median(v) for v in per_op.values())
    print(f"# {wl.name}: {n} passes, host {log['host']}", file=sys.stderr)
    return {"metrics": {
        "wall_s": {"value": wall, "unit": "s"},
        "rows_per_s": {"value": _input_rows(r.data_dir, wl.input_tables) / wall,
                       "unit": "1/s"},
    }}


def _traced(r: Runner, args, log) -> dict:
    import layers

    return layers.traced_run(r, args, log)


if __name__ == "__main__":
    sys.exit(main())

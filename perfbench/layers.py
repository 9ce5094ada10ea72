"""The traced run: per-layer metrics for one workload.

Untraced and traced passes alternate for the run's seconds; on a cold
workload (``ingest``) each pass starts in a fresh SparkContext. A traced
pass wraps each operation (and, inside ``ingest``, the index build and
the stream) in a span whose Spark jobs carry the span's job group; right
after each operation, and after each micro-batch, the group's stage and
SQL metrics are read from the status stores. Jobs the engine submits
from its own threads carry no group; those submitted while an operation
ran are booked to it. On ``genomics`` the run ends with the staged
split (``workloads.genomics_split``), whose spans give each pipeline
layer's self time. ``session.cpu_util`` is the process tree's CPU (JVM
and Python workers) during the untraced operations over their time
times the cores. All values are per traced pass unless the name says
otherwise; layers a workload does not exercise report 0.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

from pyspark.sql import functions as F

from run import _digest
from tracing import ProgressListener, Spans, StatusReader, gc_seconds, submitted

PER_LAYER = [
    ("sources.scan_s", "s"),
    ("sources.scan_bytes", "B"),
    ("sources.sinks.write_s", "s"),
    ("sources.sinks.files_written", "count"),
    ("operators.joins.broadcast_bytes", "B"),
    ("operators.joins.shuffle_bytes", "B"),
    ("operators.joins.spill_bytes", "B"),
    ("operators.transform.python_s", "s"),
    ("operators.transform.bytes_to_python", "B"),
    ("operators.transform.bytes_from_python", "B"),
    ("operators.skew.task_skew", "ratio"),
    ("operators.crawl.python_s", "s"),
    ("operators.multimodal.python_s", "s"),
    ("operators.dedup.candidate_pairs", "count"),
    ("operators.dedup.verified_pairs", "count"),
    ("operators.dedup.verify_yield", "ratio"),
    ("operators.similarity.topk_s", "s"),
    ("plans.plan_s", "s"),
    ("plans.jobs", "count"),
    ("plans.stages", "count"),
    ("plans.tasks", "count"),
    ("streaming.batches", "count"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.sinks.jobs_per_batch", "count"),
    ("streaming.sinks.admit_yield", "ratio"),
    ("session.cpu_util", "ratio"),
    ("session.gc_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("session.trace_overhead_frac", "ratio"),
    ("sources.self_s", "s"),
    ("operators.binning.self_s", "s"),
    ("operators.transform.self_s", "s"),
    ("plans.merge.self_s", "s"),
]

_STAGE_KEYS = ("stages", "tasks", "cpu_s", "run_s", "input_bytes",
               "shuffle_bytes", "spill_bytes")


class Tally:
    """Stage and SQL metrics per operation, each Spark job and SQL
    execution counted once however often its group is read."""

    def __init__(self, reader: StatusReader):
        self.reader = reader
        self.seen_jobs: set[int] = set()
        self.seen_sql: set[int] = set()
        self.by_op: dict[str, dict] = {}
        self.skew = (0.0, 0.0)  # (run seconds, skew) of the heaviest stage
        self.group_jobs: dict[str, int] = {}

    def rebind(self, reader: StatusReader) -> None:
        """Read from a fresh SparkContext's stores, whose job ids start
        again from 0."""
        self.reader = reader
        self.seen_jobs, self.seen_sql = set(), set()

    def op(self, name: str) -> dict:
        return self.by_op.setdefault(
            name, {"jobs": 0, "sql": {}, **{k: 0 for k in _STAGE_KEYS}}
        )

    def read(self, op_name: str, group: str | None = None,
             window: tuple[float, float] | None = None) -> float | None:
        """Book the new jobs of `group` (or, given a `window`, the jobs
        without a group submitted in it) to `op_name`; returns their
        first submission time."""
        jobs = self.reader.jobs(group) if window is None else self.reader.ungrouped(*window)
        times = [t for t in map(submitted, jobs) if t is not None]
        new = [j.jobId() for j in jobs if j.jobId() not in self.seen_jobs]
        if new:
            st = self.reader.stats([j for j in jobs if j.jobId() in new])
            self.seen_jobs.update(new)
            key = group if window is None else "ungrouped"
            self.group_jobs[key] = self.group_jobs.get(key, 0) + len(new)
            acc = self.op(op_name)
            acc["jobs"] += len(new)
            for k in _STAGE_KEYS:
                acc[k] += st[k]
            for node_metric, v in self.reader.sql_metrics(new, self.seen_sql).items():
                acc["sql"][node_metric] = acc["sql"].get(node_metric, 0.0) + v
            if st["heaviest_run_s"] > self.skew[0]:
                self.skew = (st["heaviest_run_s"], st["task_skew"])
        return min(times) if times else None


def _sql_sum(accs, node_prefix: str, metric: str) -> float:
    return sum(
        v for a in accs for (node, m), v in a["sql"].items()
        if m == metric and node.startswith(node_prefix)
    )


SPLIT_REPEATS = 3


def _split_self_times(r) -> tuple[dict, list]:
    """Median prefix times of the workload's staged split, as per-layer
    self times (each prefix minus the one before it)."""
    runs, spans = [], []
    name = r.wl.ops[0].name
    for i in range(SPLIT_REPEATS):
        split = Spans(r.spark.sparkContext, f"split{i}")
        rows, cols = r.wl.split(r.ctx(r.data_dir, split))
        r.attempted += 1
        if _digest(rows, cols) != r.expected[name]:
            r.failed += 1
            r.errors.append(f"{name} (staged split): output differs from oracle")
        runs.append([(s["layer"], s["end"] - s["start"]) for s in split.spans])
        spans.extend(split.spans)
    layers = [layer for layer, _ in runs[0]]
    prefix = [statistics.median(run[i][1] for run in runs) for i in range(len(layers))]
    return {
        f"{layer}.self_s": prefix[i] - (prefix[i - 1] if i else 0.0)
        for i, layer in enumerate(layers)
    }, spans


def _dedup_pairs(r) -> tuple[int, int]:
    """MinHash-LSH candidate pairs over the documents, and the pairs
    that survive exact Jaccard verification at 2/5 (the ``lsh_refine``
    route of ``set_similarity_pairs``)."""
    from sparkga1_spark.functions.text import shingle_hash_rows
    from sparkga1_spark.operators.dedup import minhash_lsh_pairs, set_similarity_pairs
    from sparkga1_spark.operators.cache import release_tracked
    from sparkga1_spark.sources.catalog import load_table

    rows = shingle_hash_rows(load_table(r.spark, r.data_dir, "documents"))
    cand = minhash_lsh_pairs(rows, id_col="doc_id").count()
    verified = set_similarity_pairs(
        rows, id_col="doc_id", threshold_num=2, threshold_den=5, route="lsh_refine"
    ).count()
    release_tracked()
    return cand, verified


def _crawl_batch(r, tally) -> float:
    """Python time of ``warc_response_payloads`` over one pass's landed
    WARC files, run as a batch in its own span: inside the stream the
    parse feeds a cached micro-batch, whose plan metrics the SQL status
    store does not show."""
    from sparkga1_spark.operators.crawl import warc_response_payloads
    from workloads import plant_warc_files

    ctx = r.ctx(r.data_dir, Spans(r.spark.sparkContext, "crawl"))
    src = plant_warc_files(ctx)
    files = r.spark.read.format("binaryFile").load(src).select(
        F.lit(-1).cast("long").alias("doc_id"), F.col("content").alias("payload"))
    with ctx.span("operators.crawl", "warc_response_payloads") as s:
        warc_response_payloads(files).write.format("noop").mode("overwrite").save()
    tally.read("_crawl_batch", s["group"])
    return _sql_sum([tally.by_op["_crawl_batch"]], "", "time to run Python workers")


def _arrivals(data_dir: str) -> int:
    """Documents that arrive on the ingest stream (doc_id = 0 mod 3)."""
    import pyarrow.parquet as pq

    ids = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                        columns=["doc_id"])["doc_id"].to_numpy()
    return int((ids % 3 == 0).sum())


def traced_run(r, args, log) -> dict:
    from tracing import PeakRss

    wl = r.wl
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    tick = os.sysconf("SC_CLK_TCK")
    tally = Tally(StatusReader(r.spark))
    tracing = [False]
    batches: list[dict] = []

    def on_batch(b):
        if tracing[0]:
            tally.read(r.current_op.name, b["run_id"])
            batches.append(b)

    listener = ProgressListener(on_batch)
    r.spark.streams.addListener(listener)
    untraced, traced, cpu, all_spans = [], [], [], []
    acc = {"plan_s": 0.0, "gc_s": 0.0}

    def fresh():
        if wl.cold:
            r.fresh()
            tally.rebind(StatusReader(r.spark))
            r.spark.streams.addListener(listener)

    def untraced_pass():
        fresh()
        res = r.run_pass(r.data_dir, cpu=cpu)
        untraced.append(sum(v or 0.0 for v in res.values()))

    def traced_pass():
        fresh()
        sc = r.spark.sparkContext
        spans = Spans(sc, f"pass{r.passes + 1}")
        booked = [0]

        def on_op(op, t_start):
            new = spans.spans[booked[0]:]
            booked[0] = len(spans.spans)
            firsts = [tally.read(op.name, s["group"]) for s in new]
            firsts.append(tally.read(op.name, window=(t_start, time.time())))
            firsts = [t for t in firsts if t is not None]
            if firsts:
                acc["plan_s"] += max(0.0, min(firsts) - t_start)

        tracing[0] = True
        gc0 = gc_seconds(sc)
        res = r.run_pass(r.data_dir, spans=spans, on_op=on_op)
        acc["gc_s"] += gc_seconds(sc) - gc0
        time.sleep(0.5)  # the last progress events land on the listener bus
        tracing[0] = False
        traced.append(sum(v or 0.0 for v in res.values()))
        all_spans.extend(spans.spans)

    # untraced and traced passes in ABBA blocks, so a warm-up trend
    # within the run weighs on both sides equally
    start, i = time.perf_counter(), 0
    with PeakRss(r.spark.sparkContext._gateway.proc.pid) as rss:
        while i % 4 or time.perf_counter() - start < args.seconds:
            (untraced_pass if "UTTU"[i % 4] == "U" else traced_pass)()
            i += 1
    r.spark.streams.removeListener(listener)
    sc = r.spark.sparkContext
    sc.setJobGroup("untraced", "untraced")
    k = len(traced)

    self_s, cand, verified = {}, 0, 0
    if wl.split is not None:
        self_s, split_spans = _split_self_times(r)
        all_spans.extend(split_spans)
    crawl_s = 0.0
    if wl.batches_per_pass:
        # the stream's parse and dedup stages, measured on their own
        crawl_s = _crawl_batch(r, tally)
        cand, verified = _dedup_pairs(r)
    probe_s = {}
    for op in wl.probes:
        probe = Spans(sc, f"probe-{op.name}")
        t0 = time.perf_counter()
        rows, cols = op.run(r.ctx(r.data_dir, probe))
        probe_s[op.name] = time.perf_counter() - t0
        r.attempted += 1
        if _digest(rows, cols) != r.expected[op.name]:
            r.failed += 1
            r.errors.append(f"{op.name}: output differs from oracle")
        for s in probe.spans:
            tally.read(op.name, s["group"])
        all_spans.extend(probe.spans)
    log["spans"] = all_spans
    log["by_op"] = {
        op: {**{k: v for k, v in a.items() if k != "sql"},
             "sql": {f"{n} | {m}": v for (n, m), v in a["sql"].items()}}
        for op, a in tally.by_op.items()
    }
    log["untraced_pass_s"], log["traced_pass_s"] = untraced, traced

    accs = [tally.by_op[op.name] for op in wl.ops if op.name in tally.by_op]

    def py(layer, metric="time to run Python workers"):
        """Per pass for timed operations; probes ran once."""
        return sum(
            _sql_sum([tally.by_op[op.name]], "", metric) / (k if op in wl.ops else 1)
            for op in (*wl.ops, *wl.probes)
            if op.python_layer == layer and op.name in tally.by_op
        )

    tot = {key: sum(a[key] for a in accs) for key in ("jobs", *_STAGE_KEYS)}
    n_ops = k * len(wl.ops)
    stream_jobs = sum(tally.group_jobs.get(g, 0) for g in {b["run_id"] for b in batches})
    admitted = r.rows.get("s_crawl_ingest_incremental")

    def dur(key):
        xs = [b["duration_ms"].get(key, 0) for b in batches]
        return statistics.median(xs) if xs else 0.0

    med_u, med_t = statistics.median(untraced), statistics.median(traced)
    values = {
        "sources.scan_s": _sql_sum(accs, "Scan", "scan time") / k,
        "sources.scan_bytes": _sql_sum(accs, "Scan", "size of files read") / k,
        "sources.sinks.write_s": sum(
            s["end"] - s["start"] for s in all_spans if s["layer"] == "sources.sinks"
        ) / k,
        "sources.sinks.files_written": _sql_sum(accs, "", "number of written files") / k,
        "operators.joins.broadcast_bytes":
            _sql_sum(accs, "BroadcastExchange", "data size") / k,
        "operators.joins.shuffle_bytes": tot["shuffle_bytes"] / k,
        "operators.joins.spill_bytes": tot["spill_bytes"] / k,
        "operators.transform.python_s": py("operators.transform"),
        "operators.transform.bytes_to_python":
            py("operators.transform", "data sent to Python workers"),
        "operators.transform.bytes_from_python":
            py("operators.transform", "data returned from Python workers"),
        "operators.skew.task_skew": tally.skew[1],
        "operators.crawl.python_s": crawl_s,
        "operators.multimodal.python_s": py("operators.multimodal"),
        "operators.dedup.candidate_pairs": cand,
        "operators.dedup.verified_pairs": verified,
        "operators.dedup.verify_yield": verified / cand if cand else 0.0,
        "operators.similarity.topk_s": probe_s.get("x_ann_ivf_topk", 0.0),
        "plans.plan_s": acc["plan_s"] / k,
        "plans.jobs": tot["jobs"] / n_ops,
        "plans.stages": tot["stages"] / n_ops,
        "plans.tasks": tot["tasks"] / n_ops,
        "streaming.batches": len(batches) / k,
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.sinks.jobs_per_batch": stream_jobs / len(batches) if batches else 0.0,
        "streaming.sinks.admit_yield":
            admitted / _arrivals(r.data_dir) if admitted is not None else 0.0,
        "session.cpu_util": sum(cpu) / tick / (sum(untraced) * cores),
        "session.gc_s": acc["gc_s"] / k,
        "session.peak_rss_mb": rss.peak,
        "session.trace_overhead_frac": (med_t - med_u) / med_u,
        **{name: 0.0 for name, _ in PER_LAYER if name.endswith(".self_s")},
        **self_s,
    }
    print(f"# {wl.name}: {k} traced + {len(untraced)} untraced passes",
          file=sys.stderr)
    return {"metrics": {
        name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER
    }}

"""CDC engine benchmark: one process, one workload, ``local[4]``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload catchup_drain --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
is a JSON report with every metric by name and unit, the work counters, the
correctness checks and the validity fields. Traced runs also write their
spans to ``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

CORES = 4
SETUPS = 3  # set-up is repeated and its median reported
DRIVER_MEM = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "audit_s": "s",
    "changefeed_read_s": "s",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["catchup_drain", "mq_tail"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def steady(run, name: str) -> tuple[list[float], dict]:
    """The samples of ``name`` taken under at most ``STEAL_MAX_PCT`` host
    steal; where fewer than half of them were, the least-stolen half. Returns
    the values and how they were chosen."""
    from workloads import STEAL_MAX_PCT

    rows = sorted((run.steal.pct(t0, t1), v) for v, t0, t1 in run.samples[name])
    kept = [r for r in rows if r[0] <= STEAL_MAX_PCT]
    quiet = len(kept)
    if quiet < (len(rows) + 1) // 2:
        kept = rows[: (len(rows) + 1) // 2]
    return [v for _, v in kept], {
        "taken": len(rows), "quiet": quiet, "used": len(kept),
        "values": [round(v, 4) for v, _, _ in run.samples[name]],
        "max_steal_pct_used": max((st for st, _ in kept), default=0.0),
    }


def percentile(xs: list[float], q: float) -> float:
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1]


# ------------------------------------------------------------------ session
class Sessions:
    """Starts SparkSessions through the engine's ``get_spark`` with the
    benchmark's scratch directories, and stops the JVM at the end."""

    def __init__(self, work: str, extra_conf: dict[str, str]):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        self.conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            **extra_conf,
        }
        self.spark = None

    def start(self, cores: int = CORES):
        from data_sync_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        self.spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def shutdown(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


# ------------------------------------------------------------------- layers
SPARK_SPANS = (
    "streaming.runner.apply_batch",
    "lake.table.merge",
    "lake.table.compact",
    "backfill.sync_table_direct",
    "inspector.inspect",
    "bench.changefeed",
)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_metrics(
    tracer, jobs: list[dict], progress: list[dict], extra: dict, workload: str
) -> dict:
    from tracing import jobs_in, spark_summary

    # only the timed phases count, not the warm-up before them
    def timed(t):
        return not any(a <= t < b for a, b in extra.get("untimed", ()))

    def spans(name):
        return [s for s in tracer.closed(name) if timed(s["start"])]

    def wall(s):
        return s["end"] - s["start"]

    def inside(name, outer):
        """``name`` spans that started inside an ``outer`` span: the timed
        closing calls, not their untimed warm-up"""
        return [s for s in spans(name) if any(
            o["start"] <= s["start"] <= o["end"] for o in spans(outer))]

    out: dict[str, tuple[float, str]] = {}
    applies = spans("streaming.runner.apply_batch")

    # Structured Streaming epochs, from the progress listener
    progress = [p for p in progress if timed(p["ts"])]
    prog = [p for p in progress if p.get("num_input_rows")]
    dur = [p.get("duration_ms") or {} for p in prog]
    out["streaming.runner.trigger_s"] = (_med(d.get("triggerExecution", 0) / 1e3 for d in dur), "s")
    out["streaming.runner.query_planning_s"] = (_med(d.get("queryPlanning", 0) / 1e3 for d in dur), "s")
    out["streaming.runner.wal_commit_s"] = (_med(d.get("walCommit", 0) / 1e3 for d in dur), "s")
    out["streaming.runner.latest_offset_s"] = (_med(d.get("latestOffset", 0) / 1e3 for d in dur), "s")
    # a progress row is emitted after its trigger ends: pair it with the
    # latest apply_batch span of the same batch id that ended before it
    overhead = []
    for p in prog:
        before = [s for s in applies
                  if s["attrs"].get("batch_id") == p["stream_batch_id"] and s["end"] <= p["ts"]]
        if before:
            span = max(before, key=lambda s: s["end"])
            overhead.append(p["duration_ms"].get("triggerExecution", 0) / 1e3 - wall(span))
    out["streaming.runner.epoch_overhead_s"] = (_med(overhead), "s")
    out["streaming.runner.apply_batch_s"] = (_med(wall(s) for s in applies), "s")
    events_in = sum(s["attrs"].get("events_in", 0) for s in applies)
    net_rows = sum(s["attrs"].get("net_rows", 0) for s in applies)
    # Kafka frames read by the source, and those the Maxwell decode dropped
    frames = sum(p.get("num_input_rows") or 0 for p in progress) if workload == "mq_tail" else 0
    out["streaming.wire.frames_in"] = (frames, "count")
    out["streaming.wire.dropped"] = (max(0, frames - events_in) if frames else 0, "count")

    # pipeline: driver plan time, and the merge job's stages up to the
    # net-effect shuffle (the stages that write shuffle output)
    out["pipeline.plan_s"] = (_med(wall(s) for s in spans("pipeline.net_changes")), "s")
    map_cpu, shuffle = [], []
    for s in applies:
        stages = [st for j in jobs_in(s, jobs) for st in j["stages"].values()]
        map_cpu.append(sum(st["cpu_s"] for st in stages if st["shuffle_write"]))
        shuffle.append(sum(st["shuffle_write"] for st in stages))
    out["pipeline.map_cpu_s"] = (_mean(map_cpu), "s")
    out["pipeline.shuffle_write_bytes"] = (_mean(shuffle), "bytes")
    out["pipeline.events_in"] = (_mean(s["attrs"].get("events_in", 0) for s in applies), "count")
    out["pipeline.net_rows"] = (_mean(s["attrs"].get("net_rows", 0) for s in applies), "count")
    out["pipeline.collapse_ratio"] = (events_in / net_rows if net_rows else 0.0, "ratio")

    # lake.table.merge, excluding the compaction it may trigger
    merges = spans("lake.table.merge")
    compacts = inside("lake.table.compact", "bench.tail")  # not the closing one
    write_cpu, out_bytes = [], []
    inner = {id(j) for c in compacts for j in jobs_in(c, jobs)}
    for s in merges:
        stages = [
            st for j in jobs_in(s, jobs) if id(j) not in inner for st in j["stages"].values()
        ]
        write_cpu.append(sum(st["cpu_s"] for st in stages if st["output_bytes"]))
        out_bytes.append(sum(st["output_bytes"] for st in stages))
    out["lake.table.merge.wall_s"] = (_med(wall(s) for s in merges), "s")
    out["lake.table.merge.write_cpu_s"] = (_mean(write_cpu), "s")
    out["lake.table.merge.files_written"] = (_mean(s["attrs"].get("files_written", 0) for s in merges), "count")
    out["lake.table.merge.output_bytes"] = (_mean(out_bytes), "bytes")
    out["lake.table.merge.affected_buckets"] = (_mean(s["attrs"].get("affected_buckets", 0) for s in merges), "count")

    puts = spans("lake.backend.put_manifest")
    swaps = spans("lake.backend.swap_pointer")
    out["lake.backend.commit.wall_s"] = (
        (sum(wall(s) for s in puts) + sum(wall(s) for s in swaps)) / len(puts) if puts else 0.0, "s")
    out["lake.backend.commit.conflicts"] = (sum(1 for s in puts if "error" in s["attrs"]), "count")

    out["lake.table.compact.wall_s"] = (_mean(wall(s) for s in compacts), "s")
    out["lake.table.compact.buckets"] = (sum(s["attrs"].get("buckets", 0) for s in compacts), "count")

    # reads made by one audit: the layout the writes left behind
    audit_reads = inside("lake.table.read", "bench.audit")
    per_audit = max(1, len(spans("bench.audit")))
    out["lake.table.read.wall_s"] = (_med(wall(s) for s in audit_reads), "s")
    out["lake.table.read.dirty_buckets"] = (
        sum(s["attrs"].get("dirty_buckets", 0) for s in audit_reads) / per_audit, "count")
    out["lake.table.read.delta_files_live"] = (
        sum(s["attrs"].get("delta_files_live", 0) for s in audit_reads) / per_audit, "count")

    feeds = spans("bench.changefeed")
    out["lake.changes.wall_s"] = (
        _med(wall(s) for s in inside("lake.changes.read_changes", "bench.changefeed")), "s")
    out["lake.changes.rows"] = (extra.get("changefeed_rows", 0), "count")
    out["lake.changes.shuffle_bytes"] = (_mean(
        sum(st["shuffle_write"] for j in jobs_in(s, jobs) for st in j["stages"].values())
        for s in feeds), "bytes")

    syncs = spans("backfill.sync_table_direct")
    apply_s, probe_s = [], []
    for s in syncs:
        inner = sum(wall(a) for a in applies if s["start"] <= a["start"] <= s["end"])
        apply_s.append(inner)
        probe_s.append(wall(s) - inner)
    out["backfill.rows_per_s"] = (extra.get("sync_rows_per_s", 0.0), "1/s")
    out["backfill.chunks"] = (_mean(s["attrs"].get("chunks", 0) for s in syncs), "count")
    out["backfill.apply_s"] = (_mean(apply_s), "s")
    out["backfill.probe_s"] = (_mean(probe_s), "s")
    out["inspector.wall_s"] = (_med(wall(s) for s in inside("inspector.inspect", "bench.audit")), "s")

    for name in SPARK_SPANS:
        chosen = inside(name, "bench.audit") if name == "inspector.inspect" else spans(name)
        summaries = [spark_summary(s, jobs) for s in chosen]
        base = "spark." + name.replace("streaming.runner.", "").replace("lake.table.", "")
        for key, unit in (("jobs", "count"), ("tasks", "count"), ("executor_cpu_s", "s"),
                          ("executor_run_s", "s"), ("driver_gap_s", "s")):
            out[f"{base}.{key}"] = (_mean(x[key] for x in summaries), unit)
        cpu = sum(x["executor_cpu_s"] for x in summaries)
        run = sum(x["executor_run_s"] for x in summaries)
        out[f"{base}.cpu_over_wall"] = (cpu / run if run else 0.0, "ratio")

    out["scaling.local1_events_per_s"] = (extra.get("local1", 0.0), "1/s")
    out["scaling.local4_events_per_s"] = (extra.get("local4", 0.0), "1/s")
    out["scaling.ratio_4_over_1"] = (
        extra["local4"] / extra["local1"] if extra.get("local1") else 0.0, "ratio")
    out["trace.wrapper_s"] = (tracer.wrapper_s, "s")
    out["trace.spans"] = (len(tracer.spans), "count")
    return out


# --------------------------------------------------------------------- main
def main(argv: list[str]) -> int:
    args = parse_args(argv)
    try:
        import workloads  # noqa: F401  (imports pyspark and the engine)
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        report, last = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(last))
    return 0


# the end-to-end metrics under the names the design notes use, per workload
NAMED = {
    "catchup_drain": {
        "catchup_batch_p50_s": "latency_p50_s",
        "inspect_audit_s": "audit_s",
        "changefeed_read_s": "changefeed_read_s",
    },
    "mq_tail": {
        "tail_latency_p50_s": "latency_p50_s",
        "tail_latency_p90_s": "latency_p90_s",
        "inspect_audit_s": "audit_s",
        "changefeed_read_s": "changefeed_read_s",
    },
}


def measure(args, work: str):
    import workloads
    from host import cpu_times, steal_pct, tree_peak_rss_mb
    from tracing import Tracer, event_log_conf, spark_jobs

    tracer = Tracer() if args.trace else None
    log_dir = os.path.join(work, "eventlog")
    sessions = Sessions(work, event_log_conf(log_dir) if tracer else {})
    stat0 = cpu_times()
    extra: dict = {}
    run = None
    try:
        setup_s, tables = [], None
        for i in range(SETUPS):
            t0 = time.perf_counter()
            spark = sessions.start()
            tables = workloads.create_tables(spark, os.path.join(work, f"setup-{i}"))
            setup_s.append(time.perf_counter() - t0)
            workloads.log(f"setup {i}: {setup_s[-1]:.2f}s")
        if tracer is not None:
            tracer.install()
        run = workloads.Run(spark, work, args.seed, args.seconds, tracer)
        result = workloads.WORKLOADS[args.workload](run, tables)
        if tracer is not None and args.workload == "catchup_drain":
            tracer.uninstall()  # the single-core baseline is not traced
            run.tracer = None
            rates = workloads.core_scaling(run, sessions.start)
            extra.update(local4=rates[4], local1=rates[1])
        peak_rss = tree_peak_rss_mb(os.getpid())
    finally:
        if run is not None:
            run.steal.stop()
        if tracer is not None:
            tracer.uninstall()
        sessions.shutdown()
    steal = steal_pct(stat0, cpu_times())

    chosen = {name: steady(run, name) for name in run.samples}
    values = {name: v for name, (v, _) in chosen.items()}
    e2e = {
        "setup_s": statistics.median(setup_s),
        "latency_p50_s": percentile(values["latency_s"], 50),
        "latency_p90_s": percentile(values["latency_s"], 90),
        "audit_s": _med(values["audit_s"]),
        "changefeed_read_s": _med(values["changefeed_read_s"]),
    }
    metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    checks = run.checks
    attempted = result["attempted_batches"] + len(checks)
    failed = sum(1 for _, ok, _ in checks if not ok)
    named = {k: metrics[v] for k, v in NAMED[args.workload].items()}
    named.update(
        setup_s=metrics["setup_s"],
        # reported, not gated: JVM heap growth follows GC timing, and its
        # spread across seeds (28%) exceeds any usable bound
        peak_rss_mb={"value": peak_rss, "unit": "MB"},
        error_rate={"value": failed / attempted, "unit": "ratio",
                    "failed": failed, "attempted": attempted},
    )
    if values["events_per_s"]:
        named["catchup_events_per_s"] = {"value": _med(values["events_per_s"]), "unit": "1/s"}
    if values["sync_rows_per_s"]:
        named["direct_sync_rows_per_s"] = {"value": _med(values["sync_rows_per_s"]), "unit": "1/s"}
    if "tail_backlog_end_chunks" in result["info"]:
        named["tail_backlog_end_chunks"] = {
            "value": result["info"]["tail_backlog_end_chunks"], "unit": "count"}
    report = {
        "workload": args.workload,
        "metrics": metrics,
        "named": named,
        "samples": {name: info for name, (_, info) in chosen.items()},
        "setup_samples_s": setup_s,
        "counters": result["counters"],
        "info": result["info"],
        "validity": {
            "seed": args.seed,
            "cores": CORES,
            "host_steal_pct": steal,
            "generator_late_s": result["info"].get("generator_late_s"),
            "traced": bool(args.trace),
        },
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
    }
    if tracer is not None:
        extra["changefeed_rows"] = result["counters"].get("changefeed_rows", 0)
        extra["sync_rows_per_s"] = _med(values["sync_rows_per_s"])
        extra["untimed"] = run.untimed
        from data_sync_spark.metrics import MetricsSink

        progress = [
            r for r in MetricsSink(run.path("progress")).records()
            if r.get("type") == "query_progress"
        ]
        jobs = spark_jobs(log_dir)
        layers = layer_metrics(tracer, jobs, progress, extra, args.workload)
        report["self_s"] = tracer.self_times()
        report["trace_wrapper_s"] = tracer.wrapper_s
        out_dir = os.path.join(ROOT, ".perfbench_out")
        spans_path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
        tracer.dump(spans_path, {"workload": args.workload, "seed": args.seed, "jobs": jobs})
        report["spans_file"] = os.path.relpath(spans_path, ROOT)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    last = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return report, last


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

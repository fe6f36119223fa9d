"""Spans around the engine's public calls, timed from outside the engine.

``Tracer.install()`` wraps module- and class-level functions of
``data_sync_spark`` so that every call records a span (name, start, end,
parent, attributes). Nothing inside the engine changes: the wrappers are
installed on the imported modules and removed again by ``uninstall()``.
Spark job and task counters come from the event log the traced session
writes (``event_log_conf``); ``spark_jobs`` parses it after the session has
stopped, and ``jobs_in`` gives each span the jobs submitted while it was
open.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time


class Tracer:
    """In-memory span recorder. Spans live in ``self.spans`` until the run
    writes them out with :meth:`dump`."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self.wrapper_s = 0.0  # bookkeeping time spent inside the wrappers

    # ----------------------------------------------------------------- spans
    def span(self, name: str):
        return _Span(self, name)

    def _open(self, name: str, attrs: dict) -> dict:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": stack[-1] if stack else None,
                "thread": threading.get_ident(),
                "start": time.time(),
                "end": None,
                "attrs": dict(attrs),
            }
            self.spans.append(rec)
        stack.append(sid)
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.time()
        self._local.stack.pop()

    def _charge(self, seconds: float) -> None:
        with self._lock:  # wrappers run on the main and the stream threads
            self.wrapper_s += seconds

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``on_result(rec,
        args, kwargs, result)`` may add attributes after the call."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            t0 = time.perf_counter()
            rec = tracer._open(name, {})
            t1 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            except Exception as e:
                rec["attrs"]["error"] = type(e).__name__
                raise
            finally:
                t2 = time.perf_counter()
                tracer._close(rec)
                tracer._charge((t1 - t0) + (time.perf_counter() - t2))
            if on_result is not None:
                t3 = time.perf_counter()
                on_result(rec, args, kwargs, result)
                tracer._charge(time.perf_counter() - t3)
            return result

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, wrapped)

    def install(self) -> None:
        """Wrap the public seams of every layer the benchmark reports."""
        from data_sync_spark import backfill, inspector
        from data_sync_spark.lake import backend, table
        from data_sync_spark.streaming import runner

        lake_table = table.LakeTable

        def merge_attrs(rec, args, kwargs, result):
            rec["attrs"].update(
                committed=result.committed,
                mode=result.mode,
                net_rows=result.net_rows,
                files_written=result.files_written,
                affected_buckets=len(result.affected_buckets),
            )

        def compact_attrs(rec, args, kwargs, result):
            rec["attrs"]["buckets"] = len(result)

        def read_attrs(rec, args, kwargs, result):
            self_ = args[0]
            version = kwargs.get("version")
            m = self_.current() if version is None else self_._read_manifest(version)
            wanted = kwargs.get("buckets")
            entries = [
                e for b, e in m["files"].items() if wanted is None or int(b) in wanted
            ]
            rec["attrs"].update(
                dirty_buckets=sum(1 for e in entries if e.get("delta")),
                delta_files_live=sum(len(e.get("delta", [])) for e in entries),
            )

        def batch_attrs(rec, args, kwargs, result):
            rec["attrs"].update(
                batch_id=result.get("batch_id"),
                events_in=result.get("events_in", 0),
                net_rows=result.get("net_rows", 0),
            )

        def backfill_attrs(rec, args, kwargs, result):
            rec["attrs"]["chunks"] = len(result)

        # runner.apply_batch is looked up at call time by run_stream's
        # foreachBatch handler and by backfill, which imported it by name
        self.wrap(runner, "apply_batch", "streaming.runner.apply_batch", batch_attrs)
        self.wrap(backfill, "apply_batch", "streaming.runner.apply_batch", batch_attrs)
        self.wrap(runner, "net_changes", "pipeline.net_changes")
        self.wrap(lake_table, "merge", "lake.table.merge", merge_attrs)
        self.wrap(lake_table, "compact", "lake.table.compact", compact_attrs)
        self.wrap(lake_table, "read", "lake.table.read", read_attrs)
        self.wrap(lake_table, "read_changes", "lake.changes.read_changes")
        self.wrap(backend.LocalFSBackend, "put_manifest_exclusive", "lake.backend.put_manifest")
        self.wrap(backend.LocalFSBackend, "swap_pointer", "lake.backend.swap_pointer")
        self.wrap(backfill, "sync_table_direct", "backfill.sync_table_direct", backfill_attrs)
        self.wrap(backfill, "backfill", "backfill.backfill", backfill_attrs)
        self.wrap(inspector, "inspect", "inspector.inspect")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    # ---------------------------------------------------------------- output
    def closed(self, name: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["end"] is not None and (name is None or s["name"] == name)
        ]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of it covered by
        the span's own children (same thread)."""
        children: dict[int, list[dict]] = {}
        for s in self.closed():
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.closed():
            kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
            own = (s["end"] - s["start"]) - _union(kids, s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, default=str)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> dict:
        self.rec = self.tracer._open(self.name, {})
        return self.rec

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.rec)


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------ Spark counters
def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{os.path.abspath(log_dir)}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def spark_jobs(log_dir: str) -> list[dict]:
    """Jobs from every event log under ``log_dir`` (one per SparkContext),
    with their stages' task counters summed. Times are epoch seconds."""
    jobs: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        by_id: dict[int, dict] = {}
        stage_job: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a torn last line of a log still being written
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "tasks": 0,
                        "cpu_s": 0.0,
                        "run_s": 0.0,
                        "stages": {},
                    }
                    by_id[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = job
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in by_id:
                    by_id[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics") or {}
                    if job is None or not tm:
                        continue
                    st = job["stages"].setdefault(
                        ev["Stage ID"],
                        {"cpu_s": 0.0, "shuffle_write": 0, "shuffle_read": 0,
                         "output_bytes": 0},
                    )
                    cpu = tm.get("Executor CPU Time", 0) / 1e9
                    job["tasks"] += 1
                    job["cpu_s"] += cpu
                    job["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    st["cpu_s"] += cpu
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    om = tm.get("Output Metrics") or {}
                    st["output_bytes"] += om.get("Bytes Written", 0)
        jobs.extend(j for j in by_id.values() if j["end"] is not None)
    return jobs


def jobs_in(span: dict, jobs: list[dict]) -> list[dict]:
    """Jobs submitted while ``span`` was open (inclusive of its children)."""
    return [j for j in jobs if span["start"] <= j["start"] <= span["end"]]


def spark_summary(span: dict, jobs: list[dict]) -> dict:
    mine = jobs_in(span, jobs)
    wall = span["end"] - span["start"]
    busy = _union([(j["start"], j["end"]) for j in mine], span["start"], span["end"])
    cpu = sum(j["cpu_s"] for j in mine)
    run = sum(j["run_s"] for j in mine)
    return {
        "jobs": len(mine),
        "tasks": sum(j["tasks"] for j in mine),
        "executor_cpu_s": cpu,
        "executor_run_s": run,
        "driver_gap_s": wall - busy,
    }

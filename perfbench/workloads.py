"""The benchmark workloads.

Each workload writes a primary table through the streaming path, then
audits it with the inspector and reads its classified change feed.
``catchup_drain`` also resumes an append-mode replica, which already holds
part of the drained table, with ``sync_table_direct`` (a copy-on-write
merge above the replica's watermark) and audits the replica. The workload
function returns its end-to-end samples, deterministic work counters and
facts about the run; correctness checks are recorded on the :class:`Run`.
Inputs come only from ``generator.change_feed`` with the run's seed; the
engine sees nothing else.
"""

from __future__ import annotations

import gc
import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from data_sync_spark import backfill, inspector, oracle
from data_sync_spark.config import PipelineConfig
from data_sync_spark.generator import change_feed
from data_sync_spark.lake import LakeTable
from data_sync_spark.metrics import MetricsSink, attach_progress_listener
from data_sync_spark.schema import TARGET_SCHEMA
from data_sync_spark.streaming import runner, wire
from host import HostSteal

N_BUCKETS = 8
TARGET_COLS = [f.name for f in TARGET_SCHEMA.fields]

# catchup_drain: a backlog of large chunks, one chunk per micro-batch. Two
# chunks stay below the compaction threshold (8 delta generations), and a
# chunk is large enough (about 35 MB by Catalyst's estimate) for the merge
# to take the keyed bucket-exchange write, where mq_tail's small batches
# take the single-task write below ALIGNED_WRITE_MAX_EST_BYTES.
CATCHUP_CHUNKS = 2
CATCHUP_CHUNK_EVENTS = 220_000
CATCHUP_KEYS = 10_000
# each chunk lands as several files that one batch reads in parallel; the
# same layout bench.py's replay headline uses (max(8, cores // 2) files)
CATCHUP_FILES_PER_CHUNK = 8
# measured drains, at least; more run until the window (--seconds) is
# spent. Two untimed drains come first, the second after the direct sync:
# throughput still rose 10-25% from one drain to the next after a single
# warm-up drain (JIT compilation). The measured drains run back to back: an
# audit run between two drains slowed the next drain's first batch by 20-40%
CATCHUP_MIN_DRAINS = 4
# mq_tail: small chunks landing on a fixed schedule; every trigger takes all
# landed chunks, as a Kafka source takes every offset available
# 2000 events/s in 10 files/s. At 20 files/s (50 ms) each trigger's per-file
# cost grew under host contention and the batches grew with it: interleaved
# runs under 2-5% host steal read tail p50 1.9-3.1 s at 50 ms against
# 1.7-2.0 s at 100 ms
TAIL_INTERVAL_S = 0.1
TAIL_CHUNK_EVENTS = 200
TAIL_KEYS = 10_000
# the warm-up lands its chunks in groups, one batch each: eight batches, as
# the time of a batch still fell by a quarter over the first ten (JIT
# compilation). The table compacts every 8 delta generations (the default
# threshold); after eight warm-up batches, the last of them compacting, the
# next compaction is the window's 8th batch and the one after its 16th, and
# a 10 s window takes 7-20 batches plus the drain of its backlog, so it
# holds one compaction, or two on a fast host
TAIL_WARMUP_CHUNKS = 16
TAIL_WARMUP_GROUPS = 8
# the change-feed read covers the warm-up's batches 3 to 7 (from the version
# after its 2nd batch to the one after its 7th): five batches of MOR deltas
# with no compaction among them, the same on every run, where the window's
# batches differ from run to run in number and size
TAIL_FEED_BATCHES = (2, 7)
TAIL_DRAIN_TIMEOUT_S = 60.0
# the audit and the change-feed read are timed this many times each, in
# alternation, and the median is reported
CLOSING_REPEATS = 4
# Both took 40-60% longer on their first call than once warm, and came
# within a few percent of their steady time only after about five calls of
# the same query plan on the same tables (JIT compilation), so this many
# untimed rounds come first, right before the timed ones: rounds warmed
# before catchup_drain's drains had cooled again after them
CLOSING_WARM_ROUNDS = 3
# A sample whose interval had more host steal than this is set aside; where
# fewer than half of the samples stay under the limit, the least-stolen half
# is used (see run.py). Operations are not repeated under steal: host steal
# came in episodes of minutes (8-16% over every drain of a run), which
# repeats only made longer
STEAL_MAX_PCT = 3.0

UPSERT = PipelineConfig()
APPEND = PipelineConfig(default_upsert=False)


@dataclass
class Run:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object | None = None
    steal: HostSteal = field(default_factory=lambda: HostSteal().start())
    # (start, end) epoch seconds of untimed warm-up, left out of the
    # per-layer metrics
    untimed: list = field(default_factory=list)
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    # name -> [(value, start, end)], start and end in epoch seconds
    samples: dict = field(default_factory=lambda: {
        "events_per_s": [], "latency_s": [], "audit_s": [], "changefeed_read_s": [],
        "sync_rows_per_s": [],
    })

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    def fail(self, name: str, error: Exception) -> None:
        """A failed stream or phase is one failed operation."""
        self.check(name, False, repr(error)[:300])

    def span(self, name: str):
        return nullcontext() if self.tracer is None else self.tracer.span(name)

    def sample(self, name: str, value: float, start: float, end: float) -> None:
        self.samples[name].append((value, start, end))


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ helpers
def create_tables(spark, root: str) -> list[LakeTable]:
    """The primary table and its replica."""
    return [
        LakeTable.create(spark, os.path.join(root, name), TARGET_SCHEMA, n_buckets=N_BUCKETS)
        for name in ("primary", "replica")
    ]


def batch_records(table: LakeTable) -> list[dict]:
    """Per-batch lineage records in commit order (listener rows excluded)."""
    recs = [r for r in MetricsSink(table.path).records() if "batch_id" in r]
    return sorted(recs, key=lambda r: r["ts"])


def oracle_state(events: pd.DataFrame) -> dict:
    state = oracle.replay(events, UPSERT, target_cols=TARGET_COLS)
    log("oracle replayed")
    return state


def _norm(v):
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return None
    if isinstance(v, str):
        return v
    if hasattr(v, "__len__"):
        return [int(x) for x in v]
    return int(v)


def state_mismatches(table: LakeTable, expected: dict) -> int:
    """Rows of ``table`` that differ from the oracle state, compared row by
    row with exact token arrays; missing and extra keys count too."""
    actual = {r.doc_id: r for r in table.read().toPandas().itertuples(index=False)}
    bad = 0
    for (key,), exp in expected.items():
        row = actual.pop(key, None)
        if row is None or any(
            _norm(getattr(row, c)) != _norm(exp.get(c)) for c in TARGET_COLS[1:]
        ):
            bad += 1
    return bad + len(actual)


def table_counters(table: LakeTable, records: list[dict]) -> dict:
    """Deterministic work counters from the batch records and the manifest."""
    m = table.current()
    return {
        "batches": len(records),
        "events_in": sum(int(r.get("events_in") or 0) for r in records),
        "net_rows": sum(int(r.get("net_rows") or 0) for r in records),
        "files_written": sum(int(r.get("files_written") or 0) for r in records),
        "compacted_buckets": sum(len(r.get("compacted_buckets") or []) for r in records),
        "table_versions": int(m["version"]),
        "live_delta_files": sum(len(e.get("delta", [])) for e in m["files"].values()),
        "final_rows": table.read().count(),
    }


def write_chunks(df, n_chunks: int, files: int, out_dir: str) -> list[list[str]]:
    """Write ``df`` -- a ``change_feed`` projection over ``n_chunks * files``
    contiguous offset ranges, one per partition -- as ``files`` flat parquet
    files per chunk (the file source does not recurse into directories), in
    one job with no shuffle. File times follow chunk order, so a trigger
    that takes ``files`` files takes exactly one chunk."""
    staging = out_dir + "-staging"
    df.write.parquet(staging)
    parts = sorted(f for f in os.listdir(staging) if f.startswith("part-"))
    if len(parts) != n_chunks * files:
        raise RuntimeError(f"expected {n_chunks * files} part files, got {len(parts)}")
    os.makedirs(out_dir, exist_ok=True)
    base = time.time() - 3600
    paths: list[list[str]] = []
    for k, part in enumerate(parts):  # part-NNNNN follows the partition id
        c, f = divmod(k, files)
        path = os.path.join(out_dir, f"chunk-{c:05d}-{f:02d}.parquet")
        os.replace(os.path.join(staging, part), path)
        os.utime(path, (base + k, base + k))
        if f == 0:
            paths.append([])
        paths[-1].append(path)
    shutil.rmtree(staging)
    return paths


def consume_changes(table: LakeTable, versions: tuple[int, int]) -> int:
    """Read the classified change feed over ``versions`` (from, to] and
    consume every column (a plain count would let Spark prune the payload)."""
    feed = table.read_changes(*versions, classify=True)
    row = feed.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*feed.columns)).alias("h")
    ).collect()[0]
    return int(row["n"])


def expected_frame(spark, state: dict):
    """The oracle state as a cached DataFrame, the ``expected`` side of an
    audit; materialised here so that the audit times only the engine."""
    pdf = pd.DataFrame(
        [(k[0], v["tokens"], v["n_tok"], v["source"]) for k, v in state.items()],
        columns=TARGET_COLS,
    )
    pdf["n_tok"] = pdf["n_tok"].astype("int32")
    df = spark.createDataFrame(pdf, schema=TARGET_SCHEMA).persist()
    df.count()
    return df


def closing_ops(audited: LakeTable, expected, feed: LakeTable, versions) -> list:
    """The timed closing operations as ``(name, span, fn)``: an audit of
    ``audited`` against ``expected()``, and a read of ``feed``'s classified
    change feed over ``versions`` (from, to]."""
    return [
        ("audit_s", "bench.audit", lambda: inspector.inspect(audited, expected=expected())),
        ("changefeed_read_s", "bench.changefeed", lambda: consume_changes(feed, versions)),
    ]


def timed(run: Run, name: str, span: str, fn):
    """Call ``fn`` once as a sample of ``name``; returns its result."""
    t0 = time.time()
    with run.span(span):
        result = fn()
    run.sample(name, time.time() - t0, t0, time.time())
    return result


def untimed_rounds(ops: list, rounds: int) -> list:
    """``rounds`` untimed rounds of ``ops``; returns the last results."""
    results = []
    for _ in range(rounds):
        results = [fn() for _, _, fn in ops]
    return results


def closing_rounds(run: Run, ops: list, warm_rounds: int) -> list:
    """``warm_rounds`` untimed rounds of ``ops``, then CLOSING_REPEATS timed
    ones, each operation in turn. Returns the operations' last results."""
    results = untimed_rounds(ops, warm_rounds)
    for _ in range(CLOSING_REPEATS):
        results = [timed(run, *op) for op in ops]
    return results


def close_out(run: Run, primary: LakeTable, state: dict, versions) -> dict:
    """The closing phase of ``mq_tail``: check the primary against the
    oracle and compact it, then audit it against the oracle state and read
    its change feed over ``versions``, in alternation (see closing_rounds).
    Returns counters."""
    bad = state_mismatches(primary, state)
    run.check("primary_equals_oracle", bad == 0, f"{bad} mismatched rows")
    log("primary checked against the oracle")
    out: dict = {}
    try:
        # how many delta generations the window leaves depends on how many
        # batches it took: an audit of a table the window's last batch had
        # just compacted took half as long. Compacted, the table has the
        # same layout on every run
        primary.compact()
        frame = expected_frame(run.spark, state)
        ops = closing_ops(primary, lambda: frame, primary, versions)
        report, out["changefeed_rows"] = closing_rounds(run, ops, CLOSING_WARM_ROUNDS)
        run.check("audit_ok", report.ok, str(report.as_dict()))
        out["audited_rows"] = report.target_rows
    except Exception as e:
        run.fail("close_out", e)
    log("closing phase done")
    return out


# ------------------------------------------------------------ catchup_drain
def _drain(run: Run, feed: str, table: LakeTable, ckpt: str) -> tuple[float, list[dict]]:
    t0 = time.time()
    with run.span("bench.drain"):
        q = runner.run_stream(
            run.spark, feed, table, UPSERT, ckpt,
            max_files_per_trigger=CATCHUP_FILES_PER_CHUNK,
        )
        q.awaitTermination()
    return t0, batch_records(table)


def catchup_drain(run: Run, tables: list[LakeTable]) -> dict:
    spark = run.spark
    source, replica = tables
    feed = run.path("feed")
    n_events = CATCHUP_CHUNKS * CATCHUP_CHUNK_EVENTS
    events = change_feed(
        spark, n_events, n_keys=CATCHUP_KEYS, seed=run.seed,
        partitions=CATCHUP_CHUNKS * CATCHUP_FILES_PER_CHUNK,
    )
    chunks = write_chunks(events, CATCHUP_CHUNKS, CATCHUP_FILES_PER_CHUNK, feed)
    first = run.path("feed-first")  # the first chunk alone, for core_scaling
    os.makedirs(first)
    for path in chunks[0]:
        shutil.copy2(path, first)
    # the oracle's input, read back from the written files (a toPandas
    # would recompute the feed in Spark)
    events = pd.concat(
        [pq.read_table(p).to_pandas() for c in chunks for p in c], ignore_index=True
    )
    log("catchup feed written")
    with ThreadPoolExecutor(1) as pool:
        # the oracle replays, and then the replica is staged, while the
        # first untimed warm-up drain runs
        state = pool.submit(oracle_state, events)
        if run.tracer is not None:
            attach_progress_listener(spark, run.path("progress"))
        _drain(run, feed, source, run.path("ckpt-warm-0"))
        pool.submit(preload_replica, source, replica).result()
        state = state.result()
    del events  # ~1M Python objects the collector would walk in the window
    gc.collect()
    log("catchup warm-up drained, replica pre-loaded")

    run.untimed.append((0.0, time.time()))
    closing: dict = {}
    ops = []
    try:
        # the rest of the source in one sync chunk: a copy-on-write merge
        # costs ~25 Spark jobs
        t0 = time.time()
        with run.span("bench.sync"):
            recs = backfill.sync_table_direct(
                spark, source, replica, APPEND, chunk_offsets=n_events)
        closing["sync_rows"] = sum(r["events_in"] for r in recs)
        run.sample("sync_rows_per_s", closing["sync_rows"] / (time.time() - t0), t0, time.time())
        log(f"sync: {closing['sync_rows']} rows")
        history = sorted(h["version"] for h in source.history())
        ops = closing_ops(replica, source.read, source, (history[len(history) // 2], None))
    except Exception as e:
        run.fail("sync", e)
    t0 = time.time()
    table = LakeTable.create(spark, run.path("warm-1"), TARGET_SCHEMA, n_buckets=N_BUCKETS)
    _drain(run, feed, table, run.path("ckpt-warm-1"))
    shutil.rmtree(table.path, ignore_errors=True)
    run.untimed.append((t0, time.time()))
    log("catchup warm-up done")

    drains: list[dict] = []
    table = None
    end = time.monotonic() + run.seconds
    i = 0
    while len(drains) < CATCHUP_MIN_DRAINS or time.monotonic() < end:
        if i >= 2 * CATCHUP_MIN_DRAINS and not drains:
            break  # every drain so far failed
        if table is not None:
            shutil.rmtree(table.path, ignore_errors=True)
        table = LakeTable.create(spark, run.path(f"drain-{i}"), TARGET_SCHEMA, n_buckets=N_BUCKETS)
        i += 1
        try:
            t0, recs = _drain(run, feed, table, run.path(f"ckpt-{i}"))
        except Exception as e:
            run.fail(f"drain_{i}", e)
            continue
        t1 = recs[-1]["ts"]
        run.sample("events_per_s", sum(r["events_in"] for r in recs) / (t1 - t0), t0, t1)
        # a backlog batch's commit latency: the engine's own time for it
        for r in recs:
            run.sample("latency_s", r["elapsed_sec"], r["ts"] - r["elapsed_sec"], r["ts"])
        drains.append(table_counters(table, recs))
        log(f"drain {i}: {run.samples['events_per_s'][-1][0]:.0f} events/s, "
            f"steal {run.steal.pct(t0, t1):.1f}%")

    run.check("counters_repeat_across_drains", all(d == drains[0] for d in drains))
    if table is not None:
        bad = state_mismatches(table, state)
        run.check("primary_equals_oracle", bad == 0, f"{bad} mismatched rows")
    if ops:
        try:
            report, closing["changefeed_rows"] = closing_rounds(run, ops, CLOSING_WARM_ROUNDS)
            run.check("audit_ok", report.ok, str(report.as_dict()))
            closing["audited_rows"] = report.target_rows
        except Exception as e:
            run.fail("close_out", e)
    log("closing phase done")
    return {
        "counters": {**(drains[0] if drains else {}), **closing},
        "attempted_batches": sum(d["batches"] for d in drains),
        "info": {"drains": len(drains), "events_per_drain": n_events},
    }


def preload_replica(source: LakeTable, replica: LakeTable) -> None:
    """Stage ``replica`` as a target that already holds part of ``source``:
    an initial load of the rows whose last change lies at or below the
    median row-version offset, and the sync watermark at that offset, so
    that ``sync_table_direct`` resumes above it. The source is the warm-up
    table, which holds the rows and versions every drain produces."""
    rows = source.read(include_internal=True)
    mid = rows.agg(F.percentile_approx("_ver.off", 0.5)).collect()[0][0]
    replica.append(rows.filter(F.col("_ver.off") <= mid).select(*TARGET_COLS))
    replica.set_app_state("direct", **{backfill.WATERMARK_KEY: mid})


def core_scaling(run: Run, restart) -> dict:
    """Drain the first backlog chunk at local[4] and then at local[1] (a
    fresh SparkContext in the same JVM each); events/s for both."""
    out = {}
    for cores in (4, 1):
        run.spark = restart(cores)
        table = LakeTable.create(
            run.spark, run.path(f"scale-{cores}"), TARGET_SCHEMA, n_buckets=N_BUCKETS
        )
        t0, recs = _drain(run, run.path("feed-first"), table, run.path(f"ckpt-scale-{cores}"))
        out[cores] = sum(r["events_in"] for r in recs) / (recs[-1]["ts"] - t0)
    return out


# ------------------------------------------------------------------ mq_tail
# the row shape spark-sql-kafka's ``.load()`` emits (wire.KAFKA_SOURCE_SCHEMA)
FRAME_SCHEMA = pa.schema([
    ("key", pa.binary()), ("value", pa.binary()), ("topic", pa.string()),
    ("partition", pa.int32()), ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")), ("timestampType", pa.int32()),
])


def record_frames(spark, out_dir: str, n_chunks: int, seed: int):
    """Kafka-shaped Maxwell frames for ``n_chunks`` chunks, built with the
    events in one vectorised job from ``change_feed``, one parquet file per
    chunk. Returns (chunk file paths, the events as pandas)."""
    events = change_feed(
        spark, n_chunks * TAIL_CHUNK_EVENTS, n_keys=TAIL_KEYS, seed=seed, partitions=4
    )
    is_delete = F.col("op") == "delete"
    envelope = F.struct(
        F.col("op").alias("type"),
        F.lit("corpus").alias("database"),
        F.col("source").alias("table"),
        (F.lit(1_700_000_000) + F.col("log_offset")).alias("ts"),
        F.col("seq").cast("long").alias("xid"),
        F.lit(True).alias("commit"),
        F.format_string("master.000001:%d", F.col("log_offset")).alias("position"),
        F.array(F.col("doc_id")).alias("primary_key"),
        F.array(F.lit("doc_id")).alias("primary_key_columns"),
        F.struct(
            F.col("doc_id"),
            F.when(~is_delete, F.col("tokens")).alias("tokens"),
            F.when(~is_delete, F.col("n_tok")).alias("n_tok"),
            F.col("source"),
        ).alias("data"),
    )
    wire_cols = {"_key": F.col("doc_id").cast("binary"),
                 "_value": F.to_json(envelope).cast("binary"),
                 "_partition": F.pmod(F.xxhash64("doc_id"), F.lit(3))}
    # collected once and split here: a Spark write of one file per chunk
    # cost a task per chunk, in the JVM's first job
    pdf = events.select("*", *(c.alias(n) for n, c in wire_cols.items())).toPandas()
    os.makedirs(out_dir)
    base = time.time() - 3600
    paths = []
    for c in range(n_chunks):
        rows = pdf.iloc[c * TAIL_CHUNK_EVENTS:(c + 1) * TAIL_CHUNK_EVENTS]
        n = len(rows)
        frames = pa.Table.from_arrays([
            pa.array(rows["_key"], pa.binary()),
            pa.array(rows["_value"], pa.binary()),
            pa.array(["binlog.corpus"] * n, pa.string()),
            pa.array(rows["_partition"], pa.int32()),
            pa.array(rows["log_offset"], pa.int64()),
            pa.array([pd.Timestamp("2026-01-01", tz="UTC")] * n, pa.timestamp("us", tz="UTC")),
            pa.array([0] * n, pa.int32()),
        ], schema=FRAME_SCHEMA)
        path = os.path.join(out_dir, f"chunk-{c:05d}.parquet")
        pq.write_table(frames, path)
        os.utime(path, (base + c, base + c))  # file times follow chunk order
        paths.append(path)
    return paths, pdf.drop(columns=list(wire_cols))


def _committed_offset(table: LakeTable) -> int:
    offs = [(r.get("lineage") or {}).get("offset_max") for r in batch_records(table)]
    return max((o for o in offs if o is not None), default=-1)


def _wait_for_offset(table: LakeTable, offset: int, query, timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while _committed_offset(table) < offset:
        if query.exception() is not None or time.monotonic() > deadline:
            raise RuntimeError(f"offset {offset} was not committed")
        time.sleep(0.02)


def mq_tail(run: Run, tables: list[LakeTable]) -> dict:
    spark = run.spark
    table = tables[0]
    n_chunks = max(20, round(run.seconds / TAIL_INTERVAL_S))
    staged, events = record_frames(
        spark, run.path("frames"), TAIL_WARMUP_CHUNKS + n_chunks, run.seed
    )
    # a chunk is committed once a batch's lineage offset_max reaches the
    # chunk's largest offset. Chunk p holds rows [p * TAIL_CHUNK_EVENTS, ...)
    # of the feed; a duplicate replay carries the offset of the event before
    # it, so offsets alone do not give the chunk
    chunk_max = events.groupby(np.arange(len(events)) // TAIL_CHUNK_EVENTS)["log_offset"].max()
    warm, paths = staged[:TAIL_WARMUP_CHUNKS], staged[TAIL_WARMUP_CHUNKS:]
    log("mq_tail frames recorded")
    watch = run.path("watch")
    os.makedirs(watch)
    if run.tracer is not None:
        attach_progress_listener(spark, run.path("progress"))
    q = runner.run_stream(
        spark, None, table, UPSERT, run.path("ckpt"), available_now=False,
        feed=wire.kafka_recorded_feed(spark, watch, max_files_per_trigger=100_000),
    )
    warm_versions: list[int] = []  # the table's version after each warm-up batch
    schedule: list[float] = []  # due times of the chunks landed on schedule
    landed: list[float] = []
    info: dict = {"chunks": n_chunks, "chunk_events": TAIL_CHUNK_EVENTS,
                  "interval_s": TAIL_INTERVAL_S}

    def move(p: str) -> None:
        os.replace(p, os.path.join(watch, os.path.basename(p)))

    try:
        # warm-up (untimed): the first chunks go through the tailing query
        group = TAIL_WARMUP_CHUNKS // TAIL_WARMUP_GROUPS
        for g in range(0, TAIL_WARMUP_CHUNKS, group):
            for p in warm[g:g + group]:
                move(p)
            _wait_for_offset(table, chunk_max[g + group - 1], q, TAIL_DRAIN_TIMEOUT_S)
            warm_versions.append(table.current()["version"])
        log("mq_tail warm-up committed")
        run.untimed.append((0.0, time.time()))
        t_start = time.time() + 0.2

        def land() -> None:
            # the generator only renames, on a schedule that never waits
            # for the engine
            for i, p in enumerate(paths):
                due = t_start + i * TAIL_INTERVAL_S
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                move(p)
                schedule.append(due)
                landed.append(time.time())
            done = _committed_offset(table)
            info["tail_backlog_end_chunks"] = sum(
                1 for k in range(len(landed)) if chunk_max[TAIL_WARMUP_CHUNKS + k] > done)

        gen = threading.Thread(target=land, name="perfbench-generator")
        with run.span("bench.tail"):
            gen.start()
            gen.join()
            _wait_for_offset(
                table, chunk_max[TAIL_WARMUP_CHUNKS + len(landed) - 1], q, TAIL_DRAIN_TIMEOUT_S
            )
    except Exception as e:
        run.fail("tail_stream", e)
    finally:
        q.stop()
    log("mq_tail drained")

    recs = batch_records(table)
    if len(landed) == n_chunks and not any(name == "tail_stream" for name, _, _ in run.checks):
        commits = []
        for i in range(n_chunks):
            target = chunk_max[TAIL_WARMUP_CHUNKS + i]
            commits.append(next(
                r["ts"] for r in recs
                if (r.get("lineage") or {}).get("offset_max", -1) >= target
            ))
            run.sample("latency_s", commits[-1] - schedule[i], schedule[i], commits[-1])
        window = [r for r in recs if schedule[0] < r["ts"] <= commits[-1]]
        info.update(
            window_steal_pct=run.steal.pct(schedule[0], schedule[-1]),
            tail_batch_s=[r["elapsed_sec"] for r in window],
            tail_compactions=sum(1 for r in window if r.get("compacted_buckets")),
            generator_late_s=max(a - d for a, d in zip(landed, schedule)),
        )

    # the oracle replays the frames that landed
    landed_events = events.iloc[: (TAIL_WARMUP_CHUNKS + len(landed)) * TAIL_CHUNK_EVENTS]
    first, last = TAIL_FEED_BATCHES
    versions = (0, None)  # the whole feed, where the warm-up failed
    if len(warm_versions) >= last:
        versions = (warm_versions[first - 1], warm_versions[last - 1])
    closing = close_out(run, table, oracle_state(landed_events), versions)
    # batch boundaries in an open loop depend on timing, so only these
    # counters repeat exactly
    c = table_counters(table, recs)
    counters = {k: c[k] for k in ("events_in", "final_rows")}
    counters.update(frames=len(landed_events), chunks=n_chunks, **closing)
    info["timing_dependent_counters"] = {k: c[k] for k in c if k not in counters}
    return {
        "counters": counters,
        "attempted_batches": len(recs),
        "info": info,
    }


WORKLOADS = {
    "catchup_drain": catchup_drain,
    "mq_tail": mq_tail,
}

"""spark-submit entrypoint — the engine's operational surface.

The reference runs as a service with strategy bitmask + HTTP admin
(``/root/reference/src/application/strategy/facade.go:13-17``,
``src/server/http/server.go``); the Spark-native equivalent is job modes:

* ``gen``      — materialize a deterministic change feed (chunked parquet)
* ``replay``   — Structured Streaming ingest: feed → foreachBatch MERGE
                 (sync_mq analog; resumable via --checkpoint)
* ``backfill`` — chunked catch-up from a static change log above the
                 committed watermark (sync_direct analog)
* ``verify``   — consistency audit vs the serial dict-replay oracle
                 (inspect analog)
* ``show``     — table state / history / metrics

Run under spark-submit (cluster) or plain python (local[N]):

    spark-submit --py-files data_sync_spark.zip -m data_sync_spark.cli ...
    python -m data_sync_spark.cli replay --feed /tmp/feed --table /tmp/t ...
"""

from __future__ import annotations

import argparse
import json
import sys

from data_sync_spark.config import PipelineConfig
from data_sync_spark.schema import TARGET_SCHEMA


def _spark(args):
    from data_sync_spark.session import get_spark

    return get_spark("data-sync-spark-cli", master=args.master)


def _load_cfg(args) -> PipelineConfig:
    if getattr(args, "config", None):
        with open(args.config) as f:
            return PipelineConfig.from_json(f.read())
    return PipelineConfig()


def cmd_gen(args) -> int:
    from data_sync_spark.generator import write_feed_chunks

    spark = _spark(args)
    paths = write_feed_chunks(
        spark,
        args.out,
        n_events=args.events,
        chunk_size=args.chunk_size,
        n_keys=args.keys,
        seed=args.seed,
    )
    print(json.dumps({"chunks": len(paths), "events": args.events, "out": args.out}))
    return 0


def cmd_replay(args) -> int:
    from data_sync_spark.lake import LakeTable
    from data_sync_spark.metrics import MetricsSink
    from data_sync_spark.streaming.runner import run_stream

    spark = _spark(args)
    cfg = _load_cfg(args)
    if LakeTable.exists(args.table):
        table = LakeTable.load(spark, args.table)
    else:
        table = LakeTable.create(spark, args.table, TARGET_SCHEMA, n_buckets=args.buckets)
    feed = None
    if getattr(args, "wire", "events") == "maxwell":
        # recorded Kafka frames (KAFKA_SOURCE_SCHEMA parquet) → Maxwell
        # decode — the production wire path minus the socket
        from data_sync_spark.streaming.wire import kafka_recorded_feed

        feed = kafka_recorded_feed(
            spark, args.feed, max_files_per_trigger=args.files_per_trigger
        )
    q = run_stream(
        spark,
        args.feed,
        table,
        cfg,
        checkpoint_dir=args.checkpoint,
        app_id=args.app_id,
        max_files_per_trigger=args.files_per_trigger,
        feed=feed,
        publish_dir=getattr(args, "publish_dir", None),
    )
    q.awaitTermination()
    recs = MetricsSink(table.path).records()
    events = sum(r.get("events_in", 0) for r in recs)
    print(
        json.dumps(
            {
                "batches": len(recs),
                "events_in": events,
                "table_version": table.current()["version"],
                "rows": table.read().count(),
            }
        )
    )
    return 0


def _relay_chunk_to_version(name: str) -> int | None:
    """Terminal version of a publisher chunk dir, from its name
    (``changes_{frm:08d}_{to:08d}`` / ``changes_snapshot_{to:08d}``)."""
    import re

    m = re.match(r"changes_snapshot_(\d+)$", name)
    if m:
        return int(m.group(1))
    m = re.match(r"changes_(\d+)_(\d+)$", name)
    if m:
        return int(m.group(2))
    return None


def cmd_relay(args) -> int:
    """Downstream half of the CDC relay: apply a publisher's outbound chunk
    directory (``replay --publish-dir``) into a second table, one MERGE per
    chunk in version order.

    The relay is LEDGER-driven, not checkpoint-driven: each chunk's
    terminal version is its ``batch_id`` on the downstream table's app
    ledger, so a replayed/crashed relay skips applied chunks without a
    separate streaming checkpoint, and each chunk is read with its OWN
    parquet footer schema — a column added upstream mid-stream arrives
    typed in the next chunk and auto-evolves the downstream table, instead
    of being silently null-filled by a static source schema captured at
    relay startup (advisor r5). Wider crash-replay chunks that overlap an
    applied window re-apply idempotently (equal ``_ver`` loses LWW)."""
    import os

    from data_sync_spark.lake import LakeTable, apply_chunk_ddl, feed_to_events
    from data_sync_spark.metrics import MetricsSink
    from data_sync_spark.streaming.runner import apply_batch

    spark = _spark(args)
    cfg = _load_cfg(args)
    if LakeTable.exists(args.table):
        table = LakeTable.load(spark, args.table)
    else:
        table = LakeTable.create(spark, args.table, TARGET_SCHEMA, n_buckets=args.buckets)
    sink = MetricsSink(table.path)
    chunks = sorted(
        (v, n)
        for n in os.listdir(args.feed)
        if (v := _relay_chunk_to_version(n)) is not None
    )
    recs = []
    for to, name in chunks:
        chunk_dir = os.path.join(args.feed, name)
        # upstream rename/widen commits ride the chunk as a _ddl.json
        # sidecar: apply them BEFORE the merge so a renamed column keeps
        # its identity downstream instead of auto-evolving as a new one
        apply_chunk_ddl(table, chunk_dir)
        feed = spark.read.parquet(chunk_dir)
        recs.append(
            apply_batch(
                table, feed_to_events(feed), to, cfg, app_id=args.app_id,
                sink=sink,
            )
        )
    print(
        json.dumps(
            {
                "batches": len(recs),
                "events_in": sum(r.get("events_in", 0) for r in recs),
                "table_version": table.current()["version"],
                "rows": table.read().count(),
            }
        )
    )
    return 0


def cmd_backfill(args) -> int:
    from data_sync_spark.backfill import backfill, get_watermark
    from data_sync_spark.lake import LakeTable
    from data_sync_spark.schema import EVENT_SCHEMA

    spark = _spark(args)
    cfg = _load_cfg(args)
    if LakeTable.exists(args.table):
        table = LakeTable.load(spark, args.table)
    else:
        table = LakeTable.create(spark, args.table, TARGET_SCHEMA, n_buckets=args.buckets)
    source = spark.read.schema(EVENT_SCHEMA).parquet(args.feed)
    recs = backfill(
        spark, source, table, cfg, app_id=args.app_id, chunk_offsets=args.chunk_offsets
    )
    print(
        json.dumps(
            {
                "chunks": len(recs),
                "watermark": get_watermark(table, args.app_id),
                "rows": table.read().count(),
            }
        )
    )
    return 0


def cmd_verify(args) -> int:
    from pyspark.sql import types as T

    from data_sync_spark.inspector import inspect
    from data_sync_spark.lake import LakeTable
    from data_sync_spark.oracle import replay_to_pandas
    from data_sync_spark.schema import EVENT_SCHEMA

    spark = _spark(args)
    cfg = _load_cfg(args)
    table = LakeTable.load(spark, args.table)
    # composite-key tables: the feed carries the extra key columns too —
    # extend the fixed event schema so they are read (and replay keys on
    # the table's full key list, not just doc_id). COPY first: StructType.add
    # mutates in place and would poison the module-global EVENT_SCHEMA.
    feed_schema = T.StructType(list(EVENT_SCHEMA.fields))
    known = {f.name for f in feed_schema.fields}
    for k in table.key_cols:
        if k not in known:
            feed_schema = feed_schema.add(
                T.StructField(k, table.schema[k].dataType, True)
            )
    events = spark.read.schema(feed_schema).parquet(args.feed)
    # The dict-replay oracle is driver-side BY DESIGN (it is the independent
    # golden model) — guard the toPandas so a huge feed fails loudly instead
    # of OOMing the driver. For feeds past the cap, verify a key-range slice
    # per run, or audit with inspector.inspect(table, expected=...) — one
    # distributed grouped aggregation — against an expected state that is
    # built without the driver.
    n_events = events.count()
    if n_events > args.max_oracle_events:
        print(
            json.dumps(
                {
                    "ok": False,
                    "err": (
                        f"feed has {n_events} events > --max-oracle-events "
                        f"{args.max_oracle_events}; raise the cap explicitly or "
                        "audit via inspector.inspect(table, expected=...) "
                        "(distributed single-pass audit)"
                    ),
                }
            )
        )
        return 2
    expected_pdf = replay_to_pandas(
        events.toPandas(),
        cfg,
        target_cols=[f.name for f in table.schema.fields],
        key_cols=tuple(table.key_cols),
    )
    expected = spark.createDataFrame(expected_pdf, schema=table.schema)
    report = inspect(table, expected=expected)
    print(json.dumps(report.as_dict()))
    return 0 if report.ok else 1


def cmd_maintain(args) -> int:
    """Table maintenance: compact dirty buckets + expire old snapshots."""
    from data_sync_spark.lake import LakeTable

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    if args.upgrade_feed:
        from data_sync_spark.lake.changes import upgrade_legacy_cow_feed

        print(json.dumps({"upgraded_versions": upgrade_legacy_cow_feed(table)}))
        return 0
    if args.consolidate_only:
        consolidated = table.consolidate_deltas()
        print(json.dumps({"consolidated_buckets": consolidated}))
        return 0
    compacted = table.compact(
        purge_before=args.purge_tombstones_before,
        max_base_files=args.max_base_files,
    )
    expired = table.expire_snapshots(keep_last=args.keep_snapshots)
    print(json.dumps({"compacted_buckets": compacted, **expired}))
    return 0


def cmd_runall(args) -> int:
    """Start all strategies concurrently against one table — the literal
    RunAll composition (reference facade.go:28-36), safe under the
    optimistic-rebase commit protocol."""
    from data_sync_spark.facade import run_all
    from data_sync_spark.lake import LakeTable
    from data_sync_spark.schema import EVENT_SCHEMA

    spark = _spark(args)
    cfg = _load_cfg(args)
    if LakeTable.exists(args.table):
        table = LakeTable.load(spark, args.table)
    else:
        table = LakeTable.create(spark, args.table, TARGET_SCHEMA, n_buckets=args.buckets)
    direct = (
        spark.read.schema(EVENT_SCHEMA).parquet(args.direct_feed)
        if args.direct_feed
        else None
    )
    strategies = tuple(s.strip() for s in args.strategies.split(",") if s.strip())
    out = run_all(
        spark,
        table,
        cfg,
        feed_path=args.feed,
        checkpoint_dir=args.checkpoint,
        direct_source=direct,
        strategies=strategies,
        chunk_offsets=args.chunk_offsets,
    )
    out["rows"] = table.read().count()
    out.pop("backfill", None)  # chunk records are in the metrics JSONL
    print(json.dumps(out, default=str))
    return 0 if not out["errors"] else 1


def cmd_metrics(args) -> int:
    """Export the table's per-batch metrics as a Prometheus textfile
    (reference parity: monitor.go counters/gauges)."""
    from data_sync_spark.metrics import write_prometheus_textfile

    path = write_prometheus_textfile(args.table, args.out)
    print(json.dumps({"written": path}))
    return 0


def cmd_show(args) -> int:
    from data_sync_spark.lake import LakeTable
    from data_sync_spark.metrics import MetricsSink

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    m = table.current()
    out = {
        "version": m["version"],
        "schema": [f"{f.name}:{f.dataType.simpleString()}" for f in table.schema.fields],
        "n_buckets": m["n_buckets"],
        "rows": table.read().count(),
        "apps": m["apps"],
        "history": [h["summary"].get("operation") for h in table.history()][:10],
        "metric_batches": len(MetricsSink(table.path).records()),
    }
    print(json.dumps(out))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="data-sync-spark")
    p.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen", help="generate a deterministic change feed")
    g.add_argument("--out", required=True)
    g.add_argument("--events", type=int, default=100_000)
    g.add_argument("--chunk-size", type=int, default=20_000)
    g.add_argument("--keys", type=int, default=10_000)
    g.add_argument("--seed", type=int, default=42)
    g.set_defaults(fn=cmd_gen)

    r = sub.add_parser("replay", help="streaming ingest (sync_mq analog)")
    r.add_argument("--feed", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--checkpoint", required=True)
    r.add_argument("--config", default=None, help="PipelineConfig JSON file")
    r.add_argument("--app-id", default="stream")
    r.add_argument("--buckets", type=int, default=64)
    r.add_argument("--files-per-trigger", type=int, default=1)
    r.add_argument(
        "--publish-dir",
        default=None,
        help="also emit the table's outbound raw change feed per committed "
        "version window (CDC relay; exactly-once via the table's app-state "
        "ledger)",
    )
    r.add_argument(
        "--wire",
        choices=("events", "maxwell"),
        default="events",
        help="feed format: engine-event parquet, or recorded Kafka frames "
        "(binary key/value + topic/partition/offset) decoded as Maxwell JSON",
    )
    r.set_defaults(fn=cmd_replay)

    rl = sub.add_parser(
        "relay",
        help="tail a publisher's outbound chunk dir into a second table "
        "(downstream half of the CDC relay)",
    )
    rl.add_argument("--feed", required=True, help="publisher --publish-dir path")
    rl.add_argument("--table", required=True)
    rl.add_argument(
        "--checkpoint",
        default=None,
        help="unused (accepted for compatibility): the downstream table's "
        "app-state batch ledger IS the relay checkpoint",
    )
    rl.add_argument("--config", default=None)
    rl.add_argument("--app-id", default="relay")
    rl.add_argument("--buckets", type=int, default=64)
    rl.add_argument("--files-per-trigger", type=int, default=1)
    rl.add_argument(
        "--schema-from",
        default=None,
        help="unused (accepted for compatibility): each chunk is read with "
        "its own footer schema, so upstream evolution arrives typed",
    )
    rl.set_defaults(fn=cmd_relay)

    b = sub.add_parser("backfill", help="chunked catch-up (sync_direct analog)")
    b.add_argument("--feed", required=True)
    b.add_argument("--table", required=True)
    b.add_argument("--config", default=None)
    b.add_argument("--app-id", default="backfill")
    b.add_argument("--buckets", type=int, default=64)
    b.add_argument("--chunk-offsets", type=int, default=1_000_000)
    b.set_defaults(fn=cmd_backfill)

    v = sub.add_parser("verify", help="audit table vs oracle replay (inspect analog)")
    v.add_argument("--feed", required=True)
    v.add_argument("--table", required=True)
    v.add_argument("--config", default=None)
    v.add_argument(
        "--max-oracle-events",
        type=int,
        default=5_000_000,
        help="driver-side oracle replay cap (the oracle is single-node by design)",
    )
    v.set_defaults(fn=cmd_verify)

    m = sub.add_parser("maintain", help="compact dirty buckets + expire snapshots")
    m.add_argument("--table", required=True)
    m.add_argument("--keep-snapshots", type=int, default=2)
    m.add_argument(
        "--consolidate-only",
        action="store_true",
        help="binPack delta files per bucket without a full compaction",
    )
    m.add_argument(
        "--max-base-files",
        type=int,
        default=16,
        help="also rewrite buckets whose base file count exceeds this (append-only small-file GC)",
    )
    m.add_argument(
        "--purge-tombstones-before",
        type=int,
        default=None,
        help="age-based tombstone GC horizon (offset); requires source retention past it",
    )
    m.add_argument(
        "--upgrade-feed",
        action="store_true",
        help="one-time backfill of applied-net side files for legacy "
        "pre-r6 COW commits so every retained window reads incrementally",
    )
    m.set_defaults(fn=cmd_maintain)

    s = sub.add_parser("show", help="table state / history / metrics")
    s.add_argument("--table", required=True)
    s.set_defaults(fn=cmd_show)

    ra = sub.add_parser("runall", help="run all strategies concurrently (facade.RunAll analog)")
    ra.add_argument("--feed", default=None, help="streaming feed dir (syncmq)")
    ra.add_argument("--direct-feed", default=None, help="static change log (syncdirect)")
    ra.add_argument("--table", required=True)
    ra.add_argument("--checkpoint", default=None)
    ra.add_argument("--config", default=None)
    ra.add_argument("--buckets", type=int, default=64)
    ra.add_argument("--chunk-offsets", type=int, default=1_000_000)
    ra.add_argument("--strategies", default="inspect,syncdirect,syncmq")
    ra.set_defaults(fn=cmd_runall)

    pm = sub.add_parser("metrics", help="export Prometheus textfile from batch metrics")
    pm.add_argument("--table", required=True)
    pm.add_argument("--out", required=True)
    pm.set_defaults(fn=cmd_metrics)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())

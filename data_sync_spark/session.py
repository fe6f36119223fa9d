"""SparkSession factory with scale-appropriate defaults.

The reference tunes a MySQL connection pool (64 conns / 10 idle,
``/root/reference/src/infrastructure/drivers/sqlengine.go:93-123``); our
analog is Spark task parallelism + AQE. These configs are chosen for the
100 TB deployment shape (AQE coalescing + skew-join handling make the same
job run well at local[8] and on a 1000-executor cluster) and are safe on
``local[N]``.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Default driver heap: half of available RAM, capped at 16g, floored
    at 2g. 16g is right for the 128 GB bench host, but baking it in would
    make ``get_spark`` fail to start (or swap) on a <20 GB CI container —
    derive it instead; ``SPARK_GRAFT_DRIVER_MEM`` overrides."""
    try:
        import re

        with open("/proc/meminfo") as f:
            m = re.search(r"MemAvailable:\s+(\d+) kB", f.read())
        avail_gb = int(m.group(1)) / (1024 * 1024)
    except Exception:
        return "8g"  # no /proc (macOS etc.) — conservative static default
    return f"{max(2, min(16, int(avail_gb // 2)))}g"


def get_spark(
    app_name: str = "data-sync-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the same entrypoint serves pytest, bench, and spark-submit (where the
    cluster manager supplies the master and this arg is left None by the
    caller anyway — ``SparkSession.builder`` ignores ``master`` if one is
    already set by spark-submit).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_MASTER" in os.environ:
        master = os.environ["SPARK_GRAFT_MASTER"]
    if master is None:
        master = f"local[{cpus}]"
    builder = builder.master(master)

    conf = {
        # AQE: runtime re-plan, partition coalescing, skew-join splitting.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # 3 shuffle partitions per core (the same ~2-3x-total-cores rule a
        # real cluster uses): with one task per core, any straggler — a GC
        # pause, a skewed task, host steal — idles a core for the whole
        # stage; finer tasks backfill. Measured on the 160M-event replay at
        # local[32]: +13% sustained ev/s and a flatter per-batch profile
        # vs one-per-core (round-7 probe). AQE coalesces the excess for
        # small stages, with the 16m advisory below keeping enough
        # granularity on mid-size shuffles to matter.
        "spark.sql.shuffle.partitions": str(shuffle_partitions or 3 * cpus),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        # Arrow for pandas UDFs / toPandas (the only Python in the hot path).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Deterministic session timezone for reproducible fixtures.
        "spark.sql.session.timeZone": "UTC",
        # File-output committer algorithm v2: task outputs move to the
        # final directory at TASK commit (parallel, on executors) instead
        # of being renamed serially by the driver at JOB commit. Every MOR
        # merge is a dynamic-partitioned parquet write of up to n_buckets
        # directories, so v1's driver-serial rename tail (~1.3-1.6s/batch,
        # STAGES_r05/r06) scales with file count while v2's does not.
        # Measured (interleaved same-JVM A/B, 16M events / 4 batches / 3
        # alternations, round 8): v1 median 914k ev/s vs v2 1,029k
        # (+12.5%), v2 ahead in all three alternations; round 7's A/B saw
        # +2.8% on a quieter host. v2's weaker crash story (partial task
        # output visible on job failure) is irrelevant here: every write
        # lands in a fresh uuid-suffixed generation dir that is invisible
        # until the manifest commit references it.
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        # Small split size so local scans of modest feeds still fan out to
        # every core (default 128m bin-packs a ~500MB feed into ~5 scan
        # tasks). On a real cluster with TB-scale inputs the default is
        # fine; here parallelism is the scarcer resource.
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.files.openCostInBytes": "1m",
        "spark.ui.enabled": "false",
        # Target 16g (local[32] puts all executor work in the driver JVM;
        # 8g showed GCLocker alloc stalls on every heavy bench — cold
        # replays ~20% slower, one iterative-join experiment OOMed), but
        # derive from the machine so small CI/dev containers still start.
        # On a real cluster this knob is per-executor memory instead.
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()
        ),
    }
    # Shuffle/spill through tmpfs when available: the sandbox's /tmp sits on
    # a virtual disk whose bandwidth serializes multi-core shuffles; a real
    # cluster shuffles through local NVMe. RAM-backed local dirs are the
    # honest local analog.
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        conf["spark.local.dir"] = os.environ.get("SPARK_GRAFT_LOCAL_DIR", shm)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def job_description(spark: SparkSession, name: str):
    """Label every Spark job the calling thread launches inside the block
    with ``name`` (``spark.job.description``, shown in the event log and
    UI), then restore the caller's label. The caller's job group is left
    alone, so a surrounding ``setJobGroup`` still sees these jobs."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)

"""Round-8 optimization regression pins.

The estimate-adaptive single-task bucket write (lake/table.py,
ALIGNED_WRITE_MAX_EST_BYTES) must keep the keyed exchange's file-layout
guarantee: at most one file per bucket per merge, even when the merge
input is a many-partition persisted relation whose shuffle layout AQE
cannot coalesce — the multi-route shape that, with a naive aligned write,
exploded to ~one file per (partition, bucket) and tripped threshold
auto-compaction every batch."""

import os
import re

from pyspark.sql import functions as F

from data_sync_spark.config import PipelineConfig
from data_sync_spark.generator import change_feed
from data_sync_spark.lake import LakeTable
from data_sync_spark.pipeline import net_changes
from data_sync_spark.schema import TARGET_SCHEMA


def test_small_merge_writes_one_file_per_bucket_from_persisted_input(
    spark, tmp_path
):
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TARGET_SCHEMA, n_buckets=8
    )
    feed = change_feed(spark, 5_000, n_keys=800, seed=11)
    net = net_changes(feed, PipelineConfig(), table.schema).persist()
    try:
        net.count()  # materialize the cache with its pinned shuffle layout
        assert net.rdd.getNumPartitions() > 1  # the hazard precondition
        res = table.merge(net, app_id="a", batch_id=0, mor=True)
        assert res.committed
        files = table.current()["files"]
        assert files, "merge wrote nothing"
        for b, e in files.items():
            assert len(e["delta"]) <= 1, (b, e)
        # and the layout did not trip threshold auto-compaction
        assert res.compacted_buckets == []
    finally:
        net.unpersist()


def test_large_merge_keeps_keyed_exchange(spark, tmp_path, monkeypatch):
    """Above the estimate threshold the keyed write must stay: one file per
    bucket via the explicit exchange. Each arm must take its own write
    branch — the executed plan of the bucket write's input shows a single-
    partition ``Coalesce 1`` in the small arm and ``Exchange
    hashpartitioning(_bucket…)`` in the keyed arm — and the two branches
    must agree on layout and rows."""
    import data_sync_spark.lake.table as tbl

    feed = change_feed(spark, 20_000, n_keys=3_000, seed=12)
    cfg = PipelineConfig()
    # record the executed plan of every DataFrame the merge writes
    writer = type(feed).write
    plans: list[str] = []

    def spy(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return writer.fget(df)

    monkeypatch.setattr(type(feed), "write", property(spy))
    keyed_exchange = re.compile(r"Exchange hashpartitioning\(_bucket#\d+")
    layouts = {}
    for tag, thresh in (("small", tbl.ALIGNED_WRITE_MAX_EST_BYTES), ("keyed", -1)):
        monkeypatch.setattr(tbl, "ALIGNED_WRITE_MAX_EST_BYTES", thresh)
        t = LakeTable.create(
            spark, str(tmp_path / tag), TARGET_SCHEMA, n_buckets=8
        )
        plans.clear()
        t.merge(net_changes(feed, cfg, t.schema), app_id="a", batch_id=0, mor=True)
        assert len(plans) == 1, plans
        if tag == "small":
            assert "Coalesce 1" in plans[0] and not keyed_exchange.search(plans[0])
        else:
            assert keyed_exchange.search(plans[0]) and "Coalesce" not in plans[0]
        layouts[tag] = {
            b: len(e["delta"]) for b, e in t.current()["files"].items()
        }
        rows = t.read().orderBy("doc_id").collect()
        layouts[tag + "_rows"] = [(r["doc_id"], r["n_tok"]) for r in rows]
    assert layouts["small"] == layouts["keyed"]
    assert layouts["small_rows"] == layouts["keyed_rows"]


def test_compact_consolidates_regardless_of_estimate(spark, tmp_path):
    """Maintenance writes must force the keyed exchange: compaction of an
    append-only bucket with many base files must leave <=1 base file per
    bucket even though the resolved state is estimate-small."""
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TARGET_SCHEMA, n_buckets=4
    )
    for b in range(5):
        rows = [
            {"doc_id": f"d{i}", "tokens": [1], "n_tok": 1, "source": "s",
             "log_offset": b * 100 + i, "seq": 0}
            for i in range(20)
        ]
        df = spark.createDataFrame(rows).select(
            "doc_id", "tokens", "n_tok", "source", "log_offset", "seq"
        )
        table.append(df, app_id="a", batch_id=b)
    done = table.compact(max_base_files=2)
    assert done
    after = table.current()["files"]
    assert all(len(e["base"]) <= 1 for e in after.values())

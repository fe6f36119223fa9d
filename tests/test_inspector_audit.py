"""The inspector's exact audit: one grouped aggregation whose counts are the
multiset (``exceptAll``) differences, computed on stored column values."""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_sync_spark.backfill import backfill
from data_sync_spark.config import PipelineConfig
from data_sync_spark.generator import change_feed
from data_sync_spark.inspector import audit_counts, inspect
from data_sync_spark.lake import LakeTable
from data_sync_spark.oracle import replay_to_pandas
from data_sync_spark.pipeline import net_changes
from data_sync_spark.schema import TARGET_SCHEMA

TARGET_COLS = ["doc_id", "tokens", "n_tok", "source"]

ARRAY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("ints", T.ArrayType(T.IntegerType()), True),
        T.StructField("strs", T.ArrayType(T.StringType()), True),
    ]
)
ARRAY_ROWS = [("d1", [1, None, 2], None), ("d2", [], None), ("d3", None, ["a,b"])]
# rows that differ from ARRAY_ROWS but joined to the same string when arrays
# were compared as comma-joined text
LOOKALIKES = {
    "d1": ("d1", [1, 2], None),
    "d2": ("d2", [None], None),
    "d3": ("d3", None, ["a", "b"]),
}


@pytest.fixture(scope="module")
def array_table(spark, tmp_path_factory):
    table = LakeTable.create(
        spark, str(tmp_path_factory.mktemp("arr") / "t"), ARRAY_SCHEMA, n_buckets=2
    )
    table.append(spark.createDataFrame(ARRAY_ROWS, ARRAY_SCHEMA))
    return table


def test_audit_matches_identical_state(spark, array_table):
    rep = inspect(array_table, expected=spark.createDataFrame(ARRAY_ROWS, ARRAY_SCHEMA))
    assert rep.ok, rep.as_dict()
    assert (rep.target_rows, rep.expected_rows, rep.missing_rows, rep.extra_rows) == (
        3, 3, 0, 0,
    )


@pytest.mark.parametrize("doc_id", sorted(LOOKALIKES))
def test_audit_tells_lookalike_arrays_apart(spark, array_table, doc_id):
    """``[1, null, 2]`` vs ``[1, 2]``, ``[]`` vs ``[null]`` and ``["a,b"]``
    vs ``["a", "b"]`` are different rows."""
    rows = [LOOKALIKES[doc_id] if r[0] == doc_id else r for r in ARRAY_ROWS]
    rep = inspect(array_table, expected=spark.createDataFrame(rows, ARRAY_SCHEMA))
    assert not rep.ok
    assert (rep.missing_rows, rep.extra_rows) == (1, 1), rep.as_dict()


def test_audit_counts_duplicates_and_changed_payloads(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), TARGET_SCHEMA, n_buckets=2)
    rows = [("a", [1, 2], 2, "web"), ("b", [3], 1, "wiki")]
    # an append-only table keeps a replayed row twice
    table.append(spark.createDataFrame(rows + rows[:1], TARGET_SCHEMA))
    rep = inspect(table, expected=spark.createDataFrame(rows, TARGET_SCHEMA))
    assert (rep.target_rows, rep.expected_rows) == (3, 2)
    assert (rep.missing_rows, rep.extra_rows) == (0, 1) and not rep.ok

    changed = [("a", [1, 2], 2, "web"), ("b", [3], 1, "code")] + rows[:1]
    rep = inspect(table, expected=spark.createDataFrame(changed, TARGET_SCHEMA))
    assert (rep.missing_rows, rep.extra_rows) == (1, 1) and not rep.ok


def test_audit_groups_map_columns(spark):
    """``exceptAll`` rejects map columns; the grouped audit compares them by
    entries, whatever their insertion order."""
    schema = "k string, m map<string,int>"
    actual = spark.createDataFrame([("a", {"x": 1, "y": 2}), ("b", {"x": 1})], schema)
    same = spark.createDataFrame([("a", {"y": 2, "x": 1}), ("b", {"x": 1})], schema)
    other = spark.createDataFrame([("a", {"y": 2, "x": 1}), ("b", {"x": 2})], schema)
    assert audit_counts(actual, same) == (2, 2, 0, 0)
    assert audit_counts(actual, other) == (2, 2, 1, 1)


def _edit(rng: random.Random, row: tuple) -> tuple:
    doc_id, tokens, n_tok, source = row
    kind = rng.randrange(5)
    if kind == 0:
        return (doc_id, tokens, None if n_tok is None else n_tok + 1, source)
    if kind == 1:
        return (doc_id, (tokens or []) + [None], n_tok, source)
    if kind == 2:
        return (doc_id, (tokens or [0])[:-1], n_tok, source)
    if kind == 3:
        return (doc_id, None if tokens else [7], n_tok, source)
    return (doc_id, tokens, n_tok, None if source else "web")


@pytest.mark.parametrize("seed", [3, 11, 29])
def test_audit_counts_equal_except_all(spark, seed):
    """Random drops, duplicates and edits of a replayed state: the grouped
    counts equal ``exceptAll`` on the raw columns (and a driver-side
    multiset count)."""
    events = change_feed(spark, 3_000, n_keys=400, seed=seed)
    pdf = replay_to_pandas(events.toPandas(), PipelineConfig(), target_cols=TARGET_COLS)
    state = [
        (r.doc_id, None if r.tokens is None else [int(x) for x in r.tokens],
         None if r.n_tok is None else int(r.n_tok), r.source)
        for r in pdf.itertuples(index=False)
    ]
    rng = random.Random(seed)
    target = []
    for row in state:
        roll = rng.random()
        if roll < 0.05:
            continue  # dropped
        target.append(_edit(rng, row) if roll < 0.12 else row)
        if roll > 0.95:
            target.append(row)  # duplicated
    e = spark.createDataFrame(state, TARGET_SCHEMA)
    a = spark.createDataFrame(target, TARGET_SCHEMA)

    counts = audit_counts(a, e)
    assert counts == (a.count(), e.count(), e.exceptAll(a).count(), a.exceptAll(e).count())

    def key(r):
        return (r[0], None if r[1] is None else tuple(r[1]), r[2], r[3])

    ca, ce = Counter(map(key, target)), Counter(map(key, state))
    assert counts == (len(target), len(state), sum((ce - ca).values()), sum((ca - ce).values()))
    assert counts[2] > 0 and counts[3] > 0


def test_watermark_check(spark, tmp_path):
    """The applied backfill watermark is reported, and a target ahead of
    the feed's max offset fails the check."""
    events = change_feed(spark, 1_000, n_keys=100, seed=19)
    feed_max = events.agg(F.max("log_offset")).collect()[0][0]
    table = LakeTable.create(spark, str(tmp_path / "t"), TARGET_SCHEMA, n_buckets=4)
    backfill(spark, events, table, PipelineConfig(), chunk_offsets=400)

    rep = inspect(table, feed_max_offset=feed_max, app_id="backfill")
    assert rep.ok and rep.target_watermark == feed_max
    assert rep.target_max_batch is not None and rep.feed_max_offset == feed_max
    assert rep.target_rows == table.read().count()

    behind = inspect(table, feed_max_offset=feed_max - 1, app_id="backfill")
    assert not behind.ok and behind.target_watermark == feed_max

    never = inspect(table, feed_max_offset=feed_max, app_id="other")
    assert not never.ok and never.target_watermark == -1


def test_audit_job_count_and_description(spark, tmp_path):
    """One audit of a merge-on-read table launches at most 4 Spark jobs,
    and leaves the caller's job group and description as they were."""
    table = LakeTable.create(spark, str(tmp_path / "t"), TARGET_SCHEMA, n_buckets=4)
    cfg = PipelineConfig()
    for b, seed in enumerate((5, 6)):
        feed = change_feed(spark, 2_000, n_keys=300, seed=seed, start_offset=b * 2_000)
        table.merge(net_changes(feed, cfg, table.schema), app_id="a", batch_id=b, mor=True)
    assert any(e["delta"] for e in table.current()["files"].values())
    expected = table.read().persist()
    expected.count()

    sc, group = spark.sparkContext, "test-audit-job-count"
    sc.setJobGroup(group, "caller description")
    try:
        rep = inspect(table, expected=expected)
        assert sc.getLocalProperty("spark.jobGroup.id") == group
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
        expected.unpersist()
    assert rep.ok, rep.as_dict()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 4, jobs

"""Consistency inspector — the reference's ``inspect`` strategy, upgraded.

Reference: per table, compare source vs target ``max(pk)`` on a timer, with
a verdict state machine (source < target ⇒ fail; equal ⇒ ok; source ahead
and target stalled since last round ⇒ fail) and an alarm after N consecutive
failures (``/root/reference/src/application/mysql_handler.go:314-368``,
``src/application/strategy/inspect/inspect.go:50-82``).

Ours keeps the cheap watermark check (applied backfill watermark vs feed
max offset) and adds what a set-oriented engine can afford: an exact
multiset audit against an expected state. The audit is one grouped
aggregation, not two counts plus two ``exceptAll`` passes: both sides are
tagged, unioned, grouped on every stored column value, and one ``agg``
returns the row counts and both directed differences — each side is
scanned (and a merge-on-read side resolved) once.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_sync_spark.backfill import get_watermark
from data_sync_spark.lake import LakeTable
from data_sync_spark.session import job_description


@dataclass
class InspectReport:
    ok: bool
    target_rows: int
    expected_rows: int | None = None
    missing_rows: int = 0  # in expected, not in target
    extra_rows: int = 0  # in target, not in expected
    target_max_batch: int | None = None
    feed_max_offset: int | None = None
    target_watermark: int | None = None  # applied backfill watermark, -1 if none

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__dataclass_fields__}


def audit_counts(actual: DataFrame, expected: DataFrame) -> tuple[int, int, int, int]:
    """``(target_rows, expected_rows, missing_rows, extra_rows)`` in one
    Spark action. ``missing``/``extra`` are the multiset differences
    ``expected.exceptAll(actual)`` / ``actual.exceptAll(expected)``: each
    distinct row contributes ``max(ne - na, 0)`` / ``max(na - ne, 0)`` where
    ``na``/``ne`` are its multiplicities. Grouping compares stored values
    exactly and null-safely, like ``exceptAll`` (arrays element by element,
    so ``[1, null, 2]`` ≠ ``[1, 2]``); map columns, which ``exceptAll``
    rejects, group by their sorted entries. ``expected`` is matched to
    ``actual`` by column position."""
    cols = actual.columns
    both = actual.select(*cols, F.lit(1).alias("_na"), F.lit(0).alias("_ne")).union(
        expected.select(*cols, F.lit(0).alias("_na"), F.lit(1).alias("_ne"))
    )
    na, ne = F.col("na"), F.col("ne")
    row = (
        both.groupBy(*cols)
        .agg(F.sum("_na").alias("na"), F.sum("_ne").alias("ne"))
        .agg(
            F.sum(na),
            F.sum(ne),
            F.sum(F.greatest(ne - na, F.lit(0))),
            F.sum(F.greatest(na - ne, F.lit(0))),
        )
        .collect()[0]
    )
    return tuple(int(v or 0) for v in row)


def inspect(
    table: LakeTable,
    expected: DataFrame | None = None,
    feed_max_offset: int | None = None,
    app_id: str | None = None,
) -> InspectReport:
    """Audit ``table``. With ``expected``: an exact multiset comparison
    (``audit_counts``); ok iff nothing is missing or extra. With
    ``feed_max_offset`` and ``app_id``: the watermark check — fail when the
    app has applied no batch yet, or when its applied backfill watermark is
    above the feed's max offset (target ahead of source, the reference's
    first rule). The reference's third rule (source ahead and target
    stalled since the last round) needs state kept across rounds and is
    not checked here. Every Spark job runs under the job description
    ``inspector.inspect``."""
    with job_description(table.spark, "inspector.inspect"):
        actual = table.read()
        report = InspectReport(ok=True, target_rows=0)

        if feed_max_offset is not None and app_id is not None:
            report.target_max_batch = table.last_batch_id(app_id)
            report.target_watermark = get_watermark(table, app_id)
            report.feed_max_offset = feed_max_offset
            if report.target_max_batch is None or report.target_watermark > feed_max_offset:
                report.ok = False

        if expected is None:
            report.target_rows = actual.count()
        else:
            (
                report.target_rows,
                report.expected_rows,
                report.missing_rows,
                report.extra_rows,
            ) = audit_counts(actual, expected.select(*actual.columns))
            if (
                report.missing_rows
                or report.extra_rows
                or report.expected_rows != report.target_rows
            ):
                report.ok = False
    return report


class FailureEscalator:
    """Consecutive-failure counter with alarm threshold (reference I2:
    ``inspect.go:50-82``, default alarm after 5, ``config.go:58-61``)."""

    def __init__(self, alarm_after: int = 5):
        self.alarm_after = alarm_after
        self.failed = 0
        self.alarms: list[int] = []

    def observe(self, ok: bool) -> bool:
        """Returns True when an alarm fires."""
        if ok:
            self.failed = 0
            return False
        self.failed += 1
        if self.failed >= self.alarm_after:
            self.alarms.append(self.failed)
            return True
        return False

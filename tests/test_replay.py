"""The bounded replay behind the streaming snapshot queries
(``streaming.jobs._replay``): its failure path and the Spark jobs a
warm replay costs."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_replay_failure_stops_query_and_deletes_root(spark):
    """A sink that raises mid-replay surfaces its error from ``_replay``,
    and neither the temp root nor the streaming query outlives it."""
    from data_integration_system_spark.streaming.jobs import _replay

    prefix = "stream_replay_failure_"

    def sink(root: str):
        seen = []

        def apply(batch, batch_id: int) -> None:
            seen.append(batch_id)
            if len(seen) == 2:
                raise RuntimeError("sink failed on its second batch")

        return apply

    staged = spark.range(30).withColumn("__b", (F.col("id") % 3).cast("int"))
    with pytest.raises(Exception, match="sink failed on its second batch"):
        _replay(
            spark, prefix,
            staged,
            sink=sink,
            read=lambda root: spark.read.parquet(f"{root}/in"),
            order_by=["id"],
        )
    left = [d for d in os.listdir(tempfile.gettempdir()) if d.startswith(prefix)]
    assert left == []
    assert spark.streams.active == []


def _probe_job_id(spark, group: str) -> int:
    """Run one single-task job under ``group`` and return its job id."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([1], 1).count()
        return min(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")


@pytest.mark.parametrize(
    "name,bound",
    [
        # the stream schema comes from the staged frame and the report
        # ledger is read with its grain's schema: no inference jobs
        ("streaming_length_profile_snapshot", 25),
        # the tercile split is staged without a checkpoint job
        ("streaming_tumbling_counts_snapshot", 14),
    ],
)
def test_snapshot_replay_warm_job_count(spark, name, bound):
    """Warm Spark jobs of one replay, counted as the job-id range between
    two probe jobs: micro-batch jobs run on the stream's own thread, so
    a job group set by the caller would miss them."""
    from data_integration_system_spark.registry import get_queries

    query = get_queries()[name]
    query(spark, SF).collect()  # warm
    assert spark.streams.active == []
    before = _probe_job_id(spark, f"replay-jobs-before-{name}")
    query(spark, SF).collect()
    after = _probe_job_id(spark, f"replay-jobs-after-{name}")
    assert after - before - 1 <= bound


@pytest.mark.parametrize(
    "name,bound",
    [
        # the ledger is read with the streamed plan's schema
        ("streaming_funnel_pairs_snapshot", 12),
        # ... and the eviction cutoff is taken from the fixture frame,
        # not from a second inferred read of the staged batches
        ("streaming_sessionized_eviction_snapshot", 14),
    ],
)
def test_ledger_replay_warm_job_count(spark, name, bound):
    """The ledger harnesses read back what their sink landed with no
    schema-inference job (counted as in the test above)."""
    test_snapshot_replay_warm_job_count(spark, name, bound)

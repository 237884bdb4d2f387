"""The batch-versioned state chain behind the lake-resident streaming
states (``streaming.jobs._state_chain``), driven through the report
sinks: flat per-trigger cost, the earlier ledger layout, empty batches."""

from __future__ import annotations

import os


def _probe_job_id(spark, group: str) -> int:
    """Run one single-task job under ``group`` and return its job id."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([1], 1).count()
        return min(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")


def test_report_sink_trigger_cost_flat_over_history(spark, tmp_path):
    """35 triggers of one report sink: trigger 35 costs the same Spark
    jobs as trigger 3 (the running grain is read once, whatever the
    trigger count), and at most 2 state versions are left."""
    from data_integration_system_spark.streaming.jobs import length_histogram_sink

    ledger = str(tmp_path / "ledger")
    sink = length_histogram_sink(spark, ledger, str(tmp_path / "report"))
    jobs = {}
    for b in range(35):
        batch = spark.createDataFrame([(b * 37 % 700,)], "n_chars long")
        before = _probe_job_id(spark, f"chain-before-{b}")
        sink(batch, b)
        jobs[b + 1] = _probe_job_id(spark, f"chain-after-{b}") - before - 1
    assert jobs[35] == jobs[3], jobs
    states = [d for d in os.listdir(f"{ledger}/state") if d.startswith("batch_id=")]
    assert len(states) <= 2, states


def test_report_sink_folds_earlier_layout_ledger(spark, tmp_path):
    """A ledger left in the earlier layout (one grain dir per trigger
    directly under the ledger path) keeps its counts: the first state
    folds it in, so the report equals report_fn over every grain, and
    redelivering the batch leaves the report unchanged."""
    from data_integration_system_spark.operators.textops import (
        length_histogram_grain,
        length_histogram_report,
    )
    from data_integration_system_spark.pipeline.snapshots import read_current
    from data_integration_system_spark.streaming.jobs import length_histogram_sink

    ledger = str(tmp_path / "ledger")
    report = str(tmp_path / "report")
    batches = [
        spark.createDataFrame([(n,) for n in ns], "n_chars long")
        for ns in ([10, 70, 640], [20, 75], [15, 900, 130])
    ]
    for b, batch in enumerate(batches[:2]):
        length_histogram_grain(batch).write.parquet(f"{ledger}/batch_id={b}")

    sink = length_histogram_sink(spark, ledger, report)
    sink(batches[2], 2)
    want = {
        tuple(r)
        for r in length_histogram_report(
            spark.read.parquet(f"{ledger}/batch_id=0", f"{ledger}/batch_id=1")
            .unionByName(length_histogram_grain(batches[2]))
        ).collect()
    }
    got = {tuple(r) for r in read_current(spark, report).collect()}
    assert got == want and sum(r[2] for r in got) == 8
    sink(batches[2], 2)  # redelivery
    assert {tuple(r) for r in read_current(spark, report).collect()} == want


def test_dq_sink_empty_first_batch(spark, tmp_path):
    """An empty batch folds like any other: a dq_sink whose first batch
    is empty reports zero rows with a NULL rate instead of dividing by
    zero, and the next batch's counts add to it."""
    from data_integration_system_spark.pipeline import checks as dq
    from data_integration_system_spark.pipeline.snapshots import read_current
    from data_integration_system_spark.streaming.jobs import dq_sink

    report = str(tmp_path / "report")
    sink = dq_sink(
        spark, str(tmp_path / "ledger"), report, [dq.not_null("o_custkey")]
    )
    schema = "o_custkey long"
    sink(spark.createDataFrame([], schema), 0)
    assert [tuple(r) for r in read_current(spark, report).collect()] == [
        ("not_null_o_custkey", 0, 0, None)
    ]
    sink(spark.createDataFrame([(1,), (None,)], schema), 1)
    assert [tuple(r) for r in read_current(spark, report).collect()] == [
        ("not_null_o_custkey", 2, 1, 500000)
    ]

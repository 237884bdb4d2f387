"""The traced run: layer wrappers and the per-layer table.

``install`` wraps the package's layer functions in the namespaces their
callers use; ``table`` turns the recorded spans, the Spark event log and
the streaming listener's progress records into the per-layer metrics.
Every metric is reported for every workload: a layer a workload does
not reach reads 0, which is the prediction for that workload.
"""

from __future__ import annotations

import os
import statistics
from datetime import datetime

from perfbench.eventlog import GroupStats, merge
from perfbench.spans import Tracer, clip, covered, layer_self_time, union

PER_LAYER = (
    ("spark.jobs_per_op", "count"),
    ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.driver_s", "s"),
    ("spark.task_wait_s", "s"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.cpu_util", "ratio"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.python_stage_s", "s"),
    ("spark.output_bytes", "bytes"),
    ("spark.ungrouped_jobs", "count"),
    ("operators.relational.s", "s"),
    ("operators.joins.s", "s"),
    ("operators.windows.s", "s"),
    ("operators.textops.s", "s"),
    ("operators.dedup.s", "s"),
    ("operators.similarity.s", "s"),
    ("operators.graph.s", "s"),
    ("operators.multimodal.s", "s"),
    ("streaming.jobs.s", "s"),
    ("jobs.submit_s", "s"),
    ("jobs.status_appends", "count"),
    ("jobs.status_append_s", "s"),
    ("jobs.claim_s", "s"),
    ("crawl.s", "s"),
    ("crawl.generations", "count"),
    ("crawl.s_per_generation", "s"),
    ("snapshots.commit_s", "s"),
    ("snapshots.files_per_commit", "count"),
    ("snapshots.bytes_per_changed_byte", "ratio"),
    ("ingest.pages_per_s", "pages/s"),
    ("index.build_s", "s"),
    ("index.recall_at_10", "ratio"),
    ("index.jobs_per_probe_oneshot", "count"),
    ("index.jobs_per_probe_handle", "count"),
    ("index.probe_driver_s", "s"),
    ("index.manifest_reads_per_probe", "count"),
    ("index.manifest_read_s", "s"),
    ("index.tombstone_rows", "count"),
    ("index.files_after_writes", "count"),
    ("index.jobs_per_append", "count"),
    ("index.jobs_per_delete", "count"),
    ("index.files_per_append", "count"),
    ("minhash.jobs_per_probe", "count"),
    ("minhash.probe_driver_s", "s"),
    ("streaming.batches_per_op", "count"),
    ("streaming.batch_p50_s", "s"),
    ("streaming.add_batch_s", "s"),
    ("streaming.planning_s", "s"),
    ("streaming.wal_commit_s", "s"),
    ("trace.run_s", "s"),
)


def tree_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping hidden and marker
    files (``.crc``, ``_SUCCESS``)."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def install(tracer: Tracer) -> None:
    """Wrap every layer boundary the workloads cross."""
    from data_integration_system_spark.pipeline import crawl as PC
    from data_integration_system_spark.pipeline import curate, index_manifest
    from data_integration_system_spark.pipeline import jobs as PJ

    def commit_files(span, args, kwargs, result):
        if result:
            root = args[1] if len(args) > 1 else kwargs["root"]
            span.attrs["files"], span.attrs["bytes"] = tree_files(f"{root}/{result}")

    tracer.wrap(PJ, "submit_job", "jobs.submit")
    tracer.wrap(PJ, "_append_job_row", "jobs.status_append")
    tracer.wrap(PJ, "run_pending_jobs", "jobs.drain")
    tracer.wrap(PJ, "current_jobs", "jobs.claim_fold")
    tracer.wrap(PJ, "run_job", "jobs.run_job")
    tracer.wrap(PJ, "crawl", "crawl")
    tracer.wrap(PC, "fetch_frontier", "crawl.fetch_frontier")
    tracer.wrap(PJ, "write_snapshot", "snapshots.commit", commit_files)
    tracer.wrap(curate, "write_snapshot", "snapshots.commit", commit_files)
    tracer.wrap(index_manifest, "read_manifest", "index.read_manifest")
    tracer.propagate_to_pools()


class StreamingRecorder:
    """Collects micro-batch progress from a StreamingQueryListener."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                batches.append((ts.timestamp(), dict(p.durationMs or {})))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def table(ctx, stats: dict, streaming_batches: list[tuple[float, dict]]) -> dict[str, float]:
    """The per-layer metrics of one traced run."""
    tr = ctx.tracer
    passes = max(len(ctx.pass_times), 1)
    root = tr.op_of_span()
    spans = {s.id: s for s in tr.spans}
    timed = [o for o in tr.ops if o.span is not None]
    timed_ids = {o.span for o in timed}

    # Spark job groups -> op span: our own groups through the span
    # tree; foreign groups (a streaming query's run id) by time
    groups_of: dict[int, set] = {i: set() for i in timed_ids}
    for s in tr.spans:
        if root[s.id] in groups_of:
            groups_of[root[s.id]].add(s.group)
    for g, st in stats.items():
        if g is None or g.startswith("pb-") or not st.job_intervals:
            continue
        t = min(a for a, _ in st.job_intervals)
        for i in timed_ids:
            if spans[i].start <= t <= spans[i].end:
                groups_of[i].add(g)
                break

    per_op: dict[int, GroupStats] = {i: merge(stats, groups_of[i]) for i in timed_ids}

    def driver_s(i: int) -> float:
        sp = spans[i]
        jobs = clip(per_op[i].job_intervals, sp.start, sp.end)
        return sp.duration - covered(union(jobs))

    total = GroupStats()
    for st in per_op.values():
        total.add(st)
    n_ops = max(len(timed), 1)
    out = {name: 0.0 for name, _ in PER_LAYER}
    out.update({
        "spark.jobs_per_op": total.jobs / n_ops,
        "spark.stages_per_op": total.stages / n_ops,
        "spark.tasks_per_op": total.tasks / n_ops,
        "spark.driver_s": _mean(driver_s(i) for i in timed_ids),
        "spark.task_wait_s": total.task_wait_s / n_ops,
        "spark.executor_run_s": total.executor_run_s / passes,
        "spark.executor_cpu_s": total.executor_cpu_s / passes,
        "spark.cpu_util": (
            total.executor_cpu_s / total.executor_run_s if total.executor_run_s else 0.0
        ),
        "spark.gc_s": total.gc_s / passes,
        "spark.shuffle_read_bytes": total.shuffle_read_bytes / passes,
        "spark.shuffle_write_bytes": total.shuffle_write_bytes / passes,
        "spark.spill_bytes": total.spill_bytes / passes,
        "spark.python_stage_s": total.python_stage_s / passes,
        "spark.output_bytes": total.output_bytes / passes,
        "spark.ungrouped_jobs": stats[None].jobs if None in stats else 0,
        "trace.run_s": statistics.median(ctx.passes_unstolen()),
    })

    # spans of timed ops only (set-up and check work is excluded)
    in_timed = [s for s in tr.spans if root[s.id] in timed_ids]

    def named(name: str):
        return [s for s in in_timed if s.name == name]

    submits = named("jobs.submit")
    appends = named("jobs.status_append")
    crawls = named("crawl")
    gens = named("crawl.fetch_frontier")
    commits = named("snapshots.commit")
    out["jobs.submit_s"] = _mean(s.duration for s in submits)
    out["jobs.status_appends"] = len(appends) / passes
    out["jobs.status_append_s"] = _mean(s.duration for s in appends)
    out["jobs.claim_s"] = layer_self_time(in_timed, {"jobs.drain"}) / passes
    crawl_s = sum(s.duration for s in crawls)
    out["crawl.s"] = crawl_s / passes
    out["crawl.generations"] = len(gens) / len(crawls) if crawls else 0.0
    out["crawl.s_per_generation"] = crawl_s / len(gens) if gens else 0.0
    out["snapshots.commit_s"] = _mean(s.duration for s in commits)
    out["snapshots.files_per_commit"] = _mean(s.attrs.get("files", 0) for s in commits)
    changed = ctx.extra.get("_changed_bytes", 0)
    recrawl_ops = {o.span for o in timed if o.name == "recrawl"}
    recrawl_bytes = [s.attrs.get("bytes", 0) for s in commits if root[s.id] in recrawl_ops]
    if changed and recrawl_bytes:
        out["snapshots.bytes_per_changed_byte"] = _mean(recrawl_bytes) / changed

    def ops_named(*names):
        return [o.span for o in timed if o.name in names]

    def jobs_per(ids) -> float:
        return _mean(per_op[i].jobs for i in ids)

    oneshot, handle = ops_named("ivfpq_oneshot"), ops_named("ivfpq_handle")
    probes = oneshot + handle
    out["index.jobs_per_probe_oneshot"] = jobs_per(oneshot)
    out["index.jobs_per_probe_handle"] = jobs_per(handle)
    out["index.probe_driver_s"] = _mean(driver_s(i) for i in probes)
    reads = [s for s in in_timed if s.name == "index.read_manifest" and root[s.id] in set(probes)]
    out["index.manifest_reads_per_probe"] = len(reads) / len(probes) if probes else 0.0
    out["index.manifest_read_s"] = _mean(s.duration for s in reads)
    out["index.jobs_per_append"] = jobs_per(ops_named("ivfpq_append"))
    out["index.jobs_per_delete"] = jobs_per(ops_named("ivfpq_delete"))
    mh = ops_named("minhash_probe")
    out["minhash.jobs_per_probe"] = jobs_per(mh)
    out["minhash.probe_driver_s"] = _mean(driver_s(i) for i in mh)

    streaming_ops = [o for o in timed if o.name.startswith("streaming_")]
    windows = [(spans[o.span].start, spans[o.span].end) for o in streaming_ops]
    streaming_batches = [
        b for t, b in streaming_batches if any(lo <= t <= hi for lo, hi in windows)
    ]
    if streaming_batches:
        trig = [b.get("triggerExecution", 0) / 1000.0 for b in streaming_batches]
        out["streaming.batches_per_op"] = len(streaming_batches) / len(streaming_ops)
        out["streaming.batch_p50_s"] = statistics.median(trig)
        out["streaming.add_batch_s"] = _mean(b.get("addBatch", 0) / 1000.0 for b in streaming_batches)
        out["streaming.planning_s"] = _mean(b.get("queryPlanning", 0) / 1000.0 for b in streaming_batches)
        out["streaming.wal_commit_s"] = _mean(b.get("walCommit", 0) / 1000.0 for b in streaming_batches)

    for key, value in ctx.extra.items():
        if key in out:
            out[key] = float(value)
    return out

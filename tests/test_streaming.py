"""Structured Streaming tests: file source → availableNow trigger →
memory sink. Verifies batch/stream parity (the Kappa contract) and the
T5/T6 semantics."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from data_integration_system_spark.streaming.jobs import (
    dedup_within_watermark,
    pending_job_picker,
    sessionized,
    upsert_sink,
    windowed_event_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_stream"))
    from data_integration_system_spark.catalog import table

    table(spark, SF, "events").write.mode("overwrite").parquet(d)
    return d


def _run_to_memory(spark, sdf, name: str, mode: str = "append"):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"/tmp/ckpt-{name}-{uuid.uuid4().hex}")
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _read_stream(spark, d):
    schema = spark.read.parquet(d).schema
    return spark.readStream.schema(schema).parquet(d)


def test_windowed_counts_stream_matches_batch(spark, events_stream_dir):
    stream = _read_stream(spark, events_stream_dir)
    got = _run_to_memory(spark, windowed_event_counts(stream), "win_counts")
    batch = spark.read.parquet(events_stream_dir)
    want = (
        batch.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n_events")
    )
    g = {(r.bucket_start, r.event_type): r.n_events for r in got.collect()}
    w = {(r.bucket_start, r.event_type): r.n_events for r in want.collect()}
    # watermark may hold back only the final windows in availableNow mode;
    # every emitted window must match batch exactly
    assert g and all(w[k] == v for k, v in g.items())


def test_sessionized_stream_matches_batch(spark, events_stream_dir):
    stream = _read_stream(spark, events_stream_dir)
    got = _run_to_memory(spark, sessionized(stream), "sessions")
    from data_integration_system_spark.registry import get_queries

    want = get_queries()["session_windows"](spark, SF)
    g = {(r.user_id, r.session_start): r.n_events for r in got.collect()}
    w = {(r.user_id, r.session_start): r.n_events for r in want.collect()}
    assert g and all(w.get(k) == v for k, v in g.items())


def test_dedup_within_watermark_drops_redelivery(spark, tmp_path):
    d = str(tmp_path / "dup_in")
    df = spark.createDataFrame(
        [("e1", "2024-01-01 00:00:00"), ("e1", "2024-01-01 00:00:01"), ("e2", "2024-01-01 00:10:00")],
        "event_id string, ts_s string",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))
    df.write.mode("overwrite").parquet(d)
    stream = _read_stream(spark, d)
    got = _run_to_memory(spark, dedup_within_watermark(stream, ["event_id"]), "dedup_wm")
    assert got.count() == 2  # T6: the redelivered e1 is suppressed


def test_pending_job_picker(spark, tmp_path):
    d = str(tmp_path / "jobs_in")
    spark.createDataFrame(
        [("j1", "PENDING"), ("j2", "RUNNING"), ("j3", "PENDING")],
        "job_id string, status string",
    ).write.mode("overwrite").parquet(d)
    stream = _read_stream(spark, d)
    got = _run_to_memory(spark, pending_job_picker(stream), "pending_jobs")
    assert {r.job_id for r in got.collect()} == {"j1", "j3"}  # S14 filter


def test_upsert_sink_effectively_once(spark, tmp_path):
    """T5: applying the same micro-batch twice converges (idempotent)."""
    from data_integration_system_spark.pipeline.snapshots import read_current

    target = str(tmp_path / "upsert_target")
    spark.createDataFrame(
        [("k1", 1, "a"), ("k2", 1, "b")], "key string, v int, payload string"
    ).write.parquet(target)  # legacy plain layout: the sink must upgrade it
    batch = spark.createDataFrame(
        [("k2", 2, "b2"), ("k3", 1, "c")], "key string, v int, payload string"
    )
    sink = upsert_sink(target, "key", "v", spark)
    sink(batch, 0)
    sink(batch, 0)  # redelivery
    got = {r.key: (r.v, r.payload) for r in read_current(spark, target).collect()}
    assert got == {"k1": (1, "a"), "k2": (2, "b2"), "k3": (1, "c")}


def test_running_user_totals_stateful(spark, events_stream_dir):
    """applyInPandasWithState: final per-user snapshot must equal the
    batch groupBy aggregate (state folded correctly across batches)."""
    from data_integration_system_spark.streaming.jobs import running_user_totals

    stream = _read_stream(spark, events_stream_dir)
    got_df = _run_to_memory(spark, running_user_totals(stream), "user_totals", mode="update")
    # update mode may emit one snapshot per batch; keep the last per user
    last = {r.user_id: (r.n_events, r.total_value) for r in got_df.collect()}
    batch = spark.read.parquet(events_stream_dir)
    want = {
        r.user_id: (r.n, round(r.t, 2))
        for r in batch.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert last and all(want[u][0] == v[0] for u, v in last.items())


def _read_target(spark, target):
    from data_integration_system_spark.pipeline.snapshots import read_current

    return read_current(spark, target)


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Effectively-once across restarts: a query restarted with the SAME
    checkpointLocation processes only files that arrived since the last
    commit; combined with the idempotent upsert sink the target converges
    with no duplicates.  (The streaming twin of the durable crawl
    frontier: the checkpoint IS the committed generation.)"""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "target")
    schema = "key string, v int, payload string"
    spark.createDataFrame([("k1", 1, "a")], schema).write.mode("append").parquet(src)
    spark.createDataFrame([], schema).write.parquet(target)

    def run_once():
        sdf = spark.readStream.schema(schema).parquet(src)
        q = (
            sdf.writeStream.foreachBatch(upsert_sink(target, "key", "v", spark))
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = {r.key: (r.v, r.payload) for r in _read_target(spark, target).collect()}
    assert got == {"k1": (1, "a")}

    # new data arrives while the job is down; the restart picks up ONLY it
    spark.createDataFrame(
        [("k1", 2, "a2"), ("k2", 1, "b")], schema
    ).write.mode("append").parquet(src)
    run_once()
    got = {r.key: (r.v, r.payload) for r in _read_target(spark, target).collect()}
    assert got == {"k1": (2, "a2"), "k2": (1, "b")}


def test_funnel_stream_matches_batch(spark, events_stream_dir):
    """Streaming funnel == batch signup_purchase_funnel on a bounded
    replay (last update-mode snapshot per user)."""
    from data_integration_system_spark.operators.windows import (
        signup_purchase_funnel,
    )
    from data_integration_system_spark.streaming.jobs import funnel_state_stream

    stream = _read_stream(spark, events_stream_dir)
    got_df = _run_to_memory(spark, funnel_state_stream(stream), "funnel_s", mode="update")
    last = {
        r.user_id: (r.signup_ts, r.first_purchase_ts, r.lag_us)
        for r in got_df.orderBy("user_id").collect()
    }
    want = {
        r.user_id: (r.signup_ts, r.first_purchase_ts, r.lag_us)
        for r in signup_purchase_funnel(spark, SF).collect()
    }
    assert last == want and len(want) > 0


def test_transitions_stream_matches_batch(spark, events_stream_dir):
    """Folded streaming transition edges == the batch Markov matrix."""
    from data_integration_system_spark.operators.windows import (
        event_type_transitions,
    )
    from data_integration_system_spark.streaming.jobs import (
        event_transitions_stream,
    )

    stream = _read_stream(spark, events_stream_dir)
    got_df = _run_to_memory(spark, event_transitions_stream(stream), "trans_s", mode="update")
    got = {
        (r.event_type, r.next_type): r.n
        for r in got_df.groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    want = {
        (r.event_type, r.next_type): r.n
        for r in event_type_transitions(spark, SF).collect()
    }
    assert got == want and len(want) > 0


class _FakeState:
    """Minimal GroupState stand-in for driving folds batch-by-batch."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_funnel_fold_late_earlier_signup(spark):
    """The out-of-order case the candidate list exists for: a signup
    arriving LATE and EARLIER than an already-seen purchase must
    resurrect that purchase as the first-qualifying one."""
    import pandas as pd

    from data_integration_system_spark.streaming.jobs import _funnel_fold

    def batch(rows):
        return pd.DataFrame(
            {
                "user_id": [7] * len(rows),
                "event_id": list(range(len(rows))),
                "ts": [pd.Timestamp(us, unit="us") for us, _ in rows],
                "event_type": [t for _, t in rows],
            }
        )

    state = _FakeState()

    def run(rows):
        return list(_funnel_fold((7,), iter([batch(rows)]), state))

    assert run([(100, "purchase")]) == []          # no signup yet
    assert run([(200, "signup")]) == []            # purchase precedes signup
    out = run([(300, "purchase")])                 # first qualifying pair
    assert len(out) == 1 and out[0].lag_us[0] == 100
    out = run([(50, "signup")])                    # LATE, EARLIER signup
    assert len(out) == 1
    assert out[0].signup_ts[0] == pd.Timestamp(50, unit="us")
    assert out[0].first_purchase_ts[0] == pd.Timestamp(100, unit="us")
    assert out[0].lag_us[0] == 50


def test_job_worker_stream_drains_queue(spark, tmp_path):
    """The streaming worker daemon: submitted jobs are picked up, run,
    and transitioned to DONE on the same log — the reference's poll loop
    as a streaming query (drain-and-stop trigger)."""
    from test_pipeline import fake_fetch

    from data_integration_system_spark.pipeline.jobs import current_jobs, submit_job
    from data_integration_system_spark.pipeline.snapshots import read_current
    from data_integration_system_spark.streaming.jobs import job_worker_stream

    jobs_path = str(tmp_path / "jobs_log")
    j1 = submit_job(spark, jobs_path, {"url": "https://ex.com/", "download_files": False})
    j2 = submit_job(spark, jobs_path, {"url": "https://ex.com/a", "download_files": False})

    q = job_worker_stream(
        spark, jobs_path, str(tmp_path / "out"),
        fetch_fn=fake_fetch, trigger={"availableNow": True},
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    state = {r.job_id: r.status for r in current_jobs(spark, jobs_path).collect()}
    assert state == {j1: "DONE", j2: "DONE"}
    assert read_current(spark, f"{tmp_path}/out/{j1}").count() == 4


def test_funnel_fold_cap_keeps_qualifying_purchase(spark):
    """The candidate cap must evict SPECULATIVE pre-signup purchases,
    never the qualifying at-or-after-signup one."""
    import pandas as pd

    from data_integration_system_spark.streaming.jobs import _funnel_fold

    state = _FakeState()
    rows = [(us, "purchase") for us in range(100, 1300)]  # 1200 pre-signup
    rows += [(5000, "signup"), (6000, "purchase")]
    pdf = pd.DataFrame(
        {
            "user_id": [1] * len(rows),
            "event_id": list(range(len(rows))),
            "ts": [pd.Timestamp(us, unit="us") for us, _ in rows],
            "event_type": [t for _, t in rows],
        }
    )
    out = list(_funnel_fold((1,), iter([pdf]), state))
    assert len(out) == 1
    assert out[0].first_purchase_ts[0] == pd.Timestamp(6000, unit="us")
    s_us, purch = state.get
    assert 6000 in purch and len(purch) <= 1024


def test_near_dup_sink_matches_batch(spark, tmp_path):
    """Streaming incremental near-dup over the materialized index: two
    micro-batches of the corpus must surface exactly the pairs the batch
    dedup_minhash_near finds on the full corpus (within-batch AND
    cross-batch pairs; no hot buckets at this SF, so the append path's
    missing global cap cannot diverge)."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.dedup import dedup_minhash_near
    from data_integration_system_spark.streaming.jobs import near_dup_sink

    docs = table(spark, SF, "documents").select("doc_id", "text")
    d = str(tmp_path / "doc_stream")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(d)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", "1")  # force >= 2 micro-batches
        .parquet(d)
    )
    pairs_path = str(tmp_path / "pairs")
    sink = near_dup_sink(spark, str(tmp_path / "mh_idx"), pairs_path)
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()

    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in spark.read.parquet(pairs_path).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup_minhash_near(spark, SF).collect()
    }
    assert got == want and len(want) > 0


def test_near_dup_sink_topk_cap(spark, tmp_path):
    """Bounded-output contract on the ONLINE near-dup sink (the r12
    capped-mode contract extended to the 24/7 surface): with cap >=
    every doc's true degree the capped sink reproduces the uncapped
    batch pair set EXACTLY, and with cap=1 each trigger appends at most
    one pair per incoming doc.  foreachBatch sinks are plain callables,
    so the batches are driven directly (the replay contract itself is
    test_near_dup_sink_matches_batch's job)."""
    import collections

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.dedup import dedup_minhash_near
    from data_integration_system_spark.streaming.jobs import near_dup_sink

    docs = table(spark, SF, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") % 2 == 0).localCheckpoint()
    b1 = docs.filter(F.col("doc_id") % 2 == 1).localCheckpoint()

    want = [tuple(r) for r in dedup_minhash_near(spark, SF).collect()]
    deg: collections.Counter = collections.Counter()
    for a, b, _ in want:
        deg[a] += 1
        deg[b] += 1
    generous = max(deg.values())

    pairs_path = str(tmp_path / "pairs_gen")
    sink = near_dup_sink(
        spark, str(tmp_path / "idx_gen"), pairs_path,
        top_k_neighbors=generous,
    )
    sink(b0, 0)
    sink(b1, 1)
    got = {tuple(r) for r in spark.read.parquet(pairs_path).collect()}
    assert got == set(want) and len(want) > 0

    pairs1 = str(tmp_path / "pairs_k1")
    sink1 = near_dup_sink(
        spark, str(tmp_path / "idx_k1"), pairs1, top_k_neighbors=1
    )
    sink1(b0, 0)
    after0 = spark.read.parquet(pairs1).count()
    assert after0 <= b0.count()
    sink1(b1, 1)
    after1 = spark.read.parquet(pairs1).count()
    assert after1 - after0 <= b1.count()
    assert {tuple(r) for r in spark.read.parquet(pairs1).collect()} <= set(want)


def test_ann_probe_sink_matches_batch(spark, tmp_path):
    """Streaming ANN probes over the static IVF index must produce
    exactly the batch query_ivf_index rows for the same query set, with
    queries split across micro-batches (probing is per-query, so batch
    boundaries cannot change any neighbor list)."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        build_ivf_index,
        query_ivf_index,
    )
    from data_integration_system_spark.streaming.jobs import ann_probe_sink

    idx = str(tmp_path / "ivf_index")
    build_ivf_index(spark, SF, idx)
    queries = (
        table(spark, SF, "embeddings")
        .filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))
    )
    d = str(tmp_path / "q_stream")
    queries.filter(F.col("q_id") % 2 == 0).coalesce(1).write.parquet(d)
    queries.filter(F.col("q_id") % 2 == 1).coalesce(1).write.mode("append").parquet(d)

    out = str(tmp_path / "ann_out")
    q = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .writeStream.foreachBatch(ann_probe_sink(spark, idx, out))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()

    got = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in query_ivf_index(spark, idx, queries).collect()
    }
    assert got == want and len(want) > 0


def test_ann_ingest_sink_grows_index_to_match_batch(spark, tmp_path):
    """Streaming ANN ingest (per-batch centroid assignment + partition
    appends) must leave an index that answers every query exactly like
    the one-shot batch build — the write-side Kappa contract of the
    probe sink's read side."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        build_ivf_index,
        query_ivf_index,
    )
    from data_integration_system_spark.streaming.jobs import ann_ingest_sink

    full = str(tmp_path / "full")
    build_ivf_index(spark, SF, full)
    inc = str(tmp_path / "incremental")
    spark.read.parquet(f"{full}/centroids").write.parquet(f"{inc}/centroids")

    emb = table(spark, SF, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= _N_QUERIES).select("vec_id", "embedding")
    d = str(tmp_path / "vec_stream")
    corpus.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(d)
    corpus.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode("append").parquet(d)

    q = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .writeStream.foreachBatch(ann_ingest_sink(spark, inc))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()

    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    got = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in query_ivf_index(spark, inc, queries).collect()
    }
    want = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in query_ivf_index(spark, full, queries).collect()
    }
    assert got == want and len(want) > 0


def test_trending_tokens_matches_batch_counts(spark, tmp_path):
    """Sliding-window streaming token counts must equal the batch
    explode + window groupBy over the same timestamped docs once every
    window is finalized.  Append mode only emits windows the watermark
    has passed, so a far-future sentinel doc (streamed as its own later
    micro-batch) pushes the watermark beyond every real window; the
    comparison covers exactly the real (pre-sentinel) windows."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.streaming.jobs import trending_tokens

    docs = (
        table(spark, SF, "documents")
        .select("doc_id", "text")
        .withColumn(
            "ts",
            F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            + F.make_interval(mins=(F.col("doc_id") % 37).cast("int")),
        )
    )
    d = str(tmp_path / "docs_ts")
    docs.coalesce(2).write.parquet(d)
    sentinel = docs.limit(1).select(
        "doc_id",
        F.lit("sentinel").alias("text"),
        F.to_timestamp(F.lit("2026-01-02 00:00:00")).alias("ts"),
    )
    sentinel.coalesce(1).write.mode("append").parquet(d)

    out = str(tmp_path / "out")
    q = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .transform(trending_tokens)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()

    toks = F.split(F.trim(F.col("text")), r"\s+")
    cutoff = "2026-01-01 12:00:00"
    want = {
        (r.win_start, r.win_end, r.token, r.n)
        for r in spark.read.parquet(d)
        .select("ts", F.explode(toks).alias("token"))
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "token")
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "token",
            "n",
        )
        .filter(F.col("win_end") < cutoff)
        .collect()
    }
    got = {
        (r.win_start, r.win_end, r.token, r.n)
        for r in spark.read.parquet(out)
        .filter(F.col("win_end") < cutoff)
        .collect()
    }
    assert got == want and len(want) > 0


def test_dup_rate_sink_matches_batch(spark, tmp_path):
    """Incremental dup-rate over the hash ledger: after streaming the
    corpus in >= 2 micro-batches, the snapshotted report must equal the
    batch dup_rate_by_source on the full corpus (cross-batch duplicates
    count — the ledger, not the trigger, is the aggregation scope)."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.pipeline.snapshots import read_current
    from data_integration_system_spark.registry import get_queries
    from data_integration_system_spark.streaming.jobs import dup_rate_sink

    docs = table(spark, SF, "documents").select("source", "text", "doc_id")
    d = str(tmp_path / "doc_stream")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(d)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .select("source", "text")
    )
    report_root = str(tmp_path / "report")
    sink = dup_rate_sink(spark, str(tmp_path / "ledger"), report_root)
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()

    got = {tuple(r) for r in read_current(spark, report_root).collect()}
    want = {tuple(r) for r in get_queries()["dup_rate_by_source"](spark, SF).collect()}
    assert got == want and len(want) > 0


def test_dup_rate_sink_redelivery_idempotent(spark, tmp_path):
    """A redelivered micro-batch must not double-count: the ledger write
    is keyed on batch_id (overwrite), so re-applying the same batch
    leaves the report unchanged."""
    from data_integration_system_spark.pipeline.snapshots import read_current
    from data_integration_system_spark.streaming.jobs import dup_rate_sink

    batch = spark.createDataFrame(
        [("s1", "same text"), ("s1", "same text"), ("s2", "other")],
        "source string, text string",
    )
    report_root = str(tmp_path / "report")
    sink = dup_rate_sink(spark, str(tmp_path / "ledger"), report_root)
    sink(batch, 7)
    first = sorted(tuple(r) for r in read_current(spark, report_root).collect())
    sink(batch, 7)  # at-least-once redelivery of the SAME batch id
    second = sorted(tuple(r) for r in read_current(spark, report_root).collect())
    assert first == second
    assert first == [("s1", 2, 2, 10000), ("s2", 1, 0, 0)]


def test_length_histogram_sink_matches_batch(spark, tmp_path):
    """The generic incremental_report_sink instance for the length
    histogram: after streaming the corpus in >= 2 micro-batches, the
    snapshotted report equals the batch doc_length_histogram."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.pipeline.snapshots import read_current
    from data_integration_system_spark.registry import get_queries
    from data_integration_system_spark.streaming.jobs import length_histogram_sink

    docs = table(spark, SF, "documents").select("doc_id", "n_chars")
    d = str(tmp_path / "doc_stream")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(d)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .select("n_chars")
    )
    report_root = str(tmp_path / "report")
    sink = length_histogram_sink(spark, str(tmp_path / "ledger"), report_root)
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()

    got = {tuple(r) for r in read_current(spark, report_root).collect()}
    want = {tuple(r) for r in get_queries()["doc_length_histogram"](spark, SF).collect()}
    assert got == want and len(want) > 0


def test_report_sink_prunes_and_compacts(spark, tmp_path):
    """Monitor housekeeping: report snapshots stay bounded at 2 per
    root however many triggers ran, the running grain keeps only its
    prior and newest states, and the next report keeps every count."""
    import os

    from data_integration_system_spark.pipeline.snapshots import read_current
    from data_integration_system_spark.streaming.jobs import dup_rate_sink

    ledger = str(tmp_path / "ledger")
    report_root = str(tmp_path / "report")
    sink = dup_rate_sink(spark, ledger, report_root)
    for i, rows in enumerate(
        [
            [("s1", "dup text"), ("s2", "only")],
            [("s1", "dup text")],
            [("s2", "more"), ("s2", "dup text")],
        ]
    ):
        sink(spark.createDataFrame(rows, "source string, text string"), i)

    versions = [d for d in os.listdir(report_root) if d.startswith("v")]
    assert len(versions) == 2  # pruned every trigger, 3 triggers ran

    before = sorted(tuple(r) for r in read_current(spark, report_root).collect())
    dirs = sorted(d for d in os.listdir(f"{ledger}/state") if d.startswith("batch_id="))
    assert dirs == ["batch_id=1", "batch_id=2"]

    # the next trigger's report over the running grain is unchanged in
    # the already-seen keys and counts
    sink(spark.createDataFrame([("s3", "new src")], "source string, text string"), 99)
    after = {r.source: tuple(r) for r in read_current(spark, report_root).collect()}
    for row in before:
        assert after[row[0]] == row
    assert after["s3"] == ("s3", 1, 0, 0)


def test_retention_sink_matches_batch(spark, tmp_path):
    """Streaming retention over the activity-grain ledger: after >= 2
    micro-batches (split so some users' consecutive-week activity spans
    batches), the snapshot equals batch weekly_retention."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.pipeline.snapshots import read_current
    from data_integration_system_spark.registry import get_queries
    from data_integration_system_spark.streaming.jobs import retention_sink

    ev = table(spark, SF, "events").select("event_id", "user_id", "ts")
    d = str(tmp_path / "ev_stream")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(d)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .select("user_id", "ts")
    )
    report_root = str(tmp_path / "report")
    sink = retention_sink(spark, str(tmp_path / "ledger"), report_root)
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()

    got = {tuple(r) for r in read_current(spark, report_root).collect()}
    want = {tuple(r) for r in get_queries()["weekly_retention"](spark, SF).collect()}
    assert got == want and len(want) > 0


def test_dq_sink_matches_batch_and_is_idempotent(spark, tmp_path):
    """Streaming data-quality monitor: after the stream drains, the
    snapshot equals the same checks run in ONE batch pass over the full
    input; redelivering a batch id must not double-count (the
    exactly-once count-ledger contract)."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.pipeline import checks as dq
    from data_integration_system_spark.pipeline.snapshots import read_current
    from data_integration_system_spark.streaming.jobs import dq_report, dq_sink

    checks = [
        dq.not_null("o_custkey"),
        dq.in_range("o_totalprice", 0, 1000000),
        dq.in_set("o_orderstatus", ("O", "F", "P")),
    ]
    o = table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    d = str(tmp_path / "orders_stream")
    o.filter(F.col("o_orderkey") % 2 == 0).coalesce(1).write.parquet(d)
    o.filter(F.col("o_orderkey") % 2 == 1).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    report_root = str(tmp_path / "report")
    sink = dq_sink(spark, str(tmp_path / "ledger"), report_root, checks)
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()

    got = {tuple(r) for r in read_current(spark, report_root).collect()}
    want = {
        tuple(r)
        for r in dq_report(
            dq.run_checks(o, checks)
        ).collect()
    }
    assert got == want and len(want) == 3

    # redeliver batch 0's half: deterministic batch-id dir overwrites,
    # the report must not change
    sink(o.filter(F.col("o_orderkey") % 2 == 0), 0)
    again = {tuple(r) for r in read_current(spark, report_root).collect()}
    assert again == got


def test_migrate_ledger_column_unifies_mixed_types(spark, tmp_path):
    """A ledger whose batch dirs disagree on a grain column's type (the
    round-5 week DATE→TIMESTAMP upgrade) must be readable again after
    migrate_ledger_column, with the report unchanged modulo the cast;
    the migration is idempotent."""
    from data_integration_system_spark.operators.windows import retention_report
    from data_integration_system_spark.streaming.jobs import migrate_ledger_column

    ledger = str(tmp_path / "ledger")
    old = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-01")], "user_id long, week string"
    ).select("user_id", F.col("week").cast("date").alias("week"))
    new = spark.createDataFrame(
        [(1, "2024-01-08")], "user_id long, week string"
    ).select("user_id", F.col("week").cast("timestamp").alias("week"))
    old.write.parquet(f"{ledger}/batch_id=0")
    new.write.parquet(f"{ledger}/batch_id=1")

    n = migrate_ledger_column(spark, ledger, "week", "timestamp")
    assert n == 1  # only the DATE dir rewrote
    assert migrate_ledger_column(spark, ledger, "week", "timestamp") == 0

    merged = (
        spark.read.option("basePath", ledger)
        .parquet(ledger)
        .select("user_id", "week")
    )
    rows = {tuple(r) for r in retention_report(merged).collect()}
    # week1: 2 active, 1 retained into week2
    import datetime as dt

    assert (dt.datetime(2024, 1, 1), 2, 1, 5000) in rows


def test_ewma_stream_matches_batch(spark, events_stream_dir):
    """Streaming EWMA == batch user_value_ewma on a bounded in-order
    replay (last update-mode snapshot per user)."""
    from data_integration_system_spark.operators.groupops import (
        user_value_ewma,
    )
    from data_integration_system_spark.streaming.jobs import ewma_state_stream

    stream = _read_stream(spark, events_stream_dir)
    got_df = _run_to_memory(spark, ewma_state_stream(stream), "ewma_s", mode="update")
    got = {r.user_id: (r.n_events, r.ewma_e2) for r in got_df.collect()}
    want = {
        r.user_id: (r.n_events, r.ewma_e2)
        for r in user_value_ewma(spark, SF).collect()
    }
    assert got == want and len(want) > 0


def test_ewma_fold_batch_split_invariant(spark):
    """The recurrence continues across batches: folding rows as two
    ordered micro-batches must land on the same state as one combined
    batch (the in-order-delivery contract made checkable)."""
    import pandas as pd

    from data_integration_system_spark.streaming.jobs import _ewma_fold

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)
            self.exists = True

    def batch(rows):
        return pd.DataFrame(
            {
                "user_id": [1] * len(rows),
                "event_id": list(range(len(rows))),
                "ts": [pd.Timestamp(i, unit="s") for i in range(len(rows))],
                "value": [v for v in rows],
            }
        )

    vals = [1.0, 2.5, 0.3, 7.7, 4.2]
    one = FakeState()
    list(_ewma_fold((1,), iter([batch(vals)]), one))
    split = FakeState()
    list(_ewma_fold((1,), iter([batch(vals[:2])]), split))
    # second batch must carry correct event-time ordering AFTER batch 1
    b2 = batch(vals[2:])
    b2["ts"] = [pd.Timestamp(i + 2, unit="s") for i in range(len(b2))]
    list(_ewma_fold((1,), iter([b2]), split))
    assert one._v == split._v


def test_ewma_jvm_batch_matches_pandas(spark):
    """The Catalyst-HOF EWMA (user_value_ewma_jvm) must be bit-identical
    to the applyInPandas twin — same recurrence, same (ts, event_id)
    order, `div` == halve_trunc over the full integer domain."""
    from data_integration_system_spark.operators.groupops import (
        user_value_ewma,
        user_value_ewma_jvm,
    )

    a = [tuple(r) for r in user_value_ewma(spark, SF).collect()]
    b = [tuple(r) for r in user_value_ewma_jvm(spark, SF).collect()]
    assert a == b and len(a) > 0


def test_group_quantiles_jvm_matches_pandas(spark):
    """The rank-selection quantile twin (group_quantiles_jvm, r13 fold
    audit) must be bit-identical to the applyInPandas sibling: type-1
    quantiles select existing doubles (no interpolation), so the JVM
    element_at over the sorted group array and pandas iloc over the
    sorted frame pick the SAME machine numbers."""
    from data_integration_system_spark.operators.groupops import (
        group_quantiles,
        group_quantiles_jvm,
    )

    key = lambda r: r[0]  # noqa: E731
    a = sorted((tuple(r) for r in group_quantiles(spark, SF).collect()), key=key)
    b = sorted(
        (tuple(r) for r in group_quantiles_jvm(spark, SF).collect()), key=key
    )
    assert a == b and len(a) > 0


def test_ewma_jvm_step_negative_domain(spark):
    """`(acc + x) div 2` must truncate toward zero exactly like
    halve_trunc — pinned on a value sequence whose running sums cross
    zero (where Python's floor-dividing // would diverge)."""
    from data_integration_system_spark.operators._common import halve_trunc
    from data_integration_system_spark.streaming.jobs import ewma_jvm_step

    vals = [-7, 3, -1, -8, 5, -3]
    rows = [(1, i, i, v) for i, v in enumerate(vals)]
    batch = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, v_e2 long"
    )
    got = ewma_jvm_step(batch, None).collect()[0]
    s = 0
    for i, v in enumerate(vals):
        s = v if i == 0 else halve_trunc(s + v)
    assert (got.user_id, got.n_events, got.ewma_e2) == (1, len(vals), s)


def test_ewma_jvm_step_split_invariant(spark):
    """Seeding the fold with the prior state must continue the
    recurrence exactly: two ordered micro-batches through
    ewma_jvm_step == one combined batch (the across-batch contract,
    JVM edition — the twin of test_ewma_fold_batch_split_invariant)."""
    from data_integration_system_spark.streaming.jobs import ewma_jvm_step

    vals = [100, 250, 30, 770, 420, -55]
    rows = [(1, i, i, v) for i, v in enumerate(vals)]
    schema = "user_id long, ts long, event_id long, v_e2 long"
    one = ewma_jvm_step(spark.createDataFrame(rows, schema), None).collect()
    s1 = ewma_jvm_step(spark.createDataFrame(rows[:2], schema), None)
    s2 = ewma_jvm_step(spark.createDataFrame(rows[2:], schema), s1).collect()
    assert [tuple(r) for r in one] == [tuple(r) for r in s2]


def test_ewma_jvm_sink_redelivery_and_carry(spark, tmp_path):
    """ewma_jvm_sink's supersede-state discipline: a redelivered batch
    recomputes from the SAME prior (idempotent — state unchanged), a
    user absent from a batch carries through untouched, and old state
    versions are pruned to {prior, current}."""
    import os

    from data_integration_system_spark.streaming.jobs import (
        ewma_jvm_sink,
        read_ewma_jvm_state,
    )

    root = str(tmp_path / "state")
    sink = ewma_jvm_sink(spark, root)
    schema = "user_id long, ts long, event_id long, value double"
    b0 = spark.createDataFrame(
        [(1, 0, 0, 1.0), (1, 1, 1, 2.5), (2, 0, 2, 9.9)], schema
    )
    b1 = spark.createDataFrame([(1, 2, 3, 0.3)], schema)  # user 2 absent
    sink(b0, 0)
    sink(b1, 1)
    after = {tuple(r) for r in read_ewma_jvm_state(spark, root).collect()}
    sink(b1, 1)  # redelivery
    again = {tuple(r) for r in read_ewma_jvm_state(spark, root).collect()}
    assert after == again
    # user 1: s = 100 -> (100+250) div 2 = 175 -> (175+30) div 2 = 102
    # user 2 carried: one event, s = 990
    assert after == {(1, 3, 102), (2, 1, 990)}
    dirs = sorted(d for d in os.listdir(root) if d.startswith("batch_id="))
    assert dirs == ["batch_id=0", "batch_id=1"]


def test_ewma_jvm_null_value_raises_not_resets(spark):
    """A NULL events.value must FAIL the JVM fold loudly, not silently
    restart the recurrence: the fold's NULL accumulator doubles as the
    base case, so without the guard a mid-sequence NULL makes the next
    value be taken verbatim — diverging from the applyInPandas twin
    (int(NaN) raises) and from the RECURSIVE-CTE oracle (propagates
    NULL forward).  A NaN value must raise for the same reason:
    floor(NaN*100).cast('long') silently yields 0 JVM-side while the
    pandas twin raises on int(NaN).  ewma_v_e2_col raises on both
    (ADVICE r12 for NULL, ADVICE r13 for NaN)."""
    import pytest
    from data_integration_system_spark.operators.groupops import ewma_v_e2_col
    from data_integration_system_spark.streaming.jobs import ewma_jvm_step

    schema = "user_id long, ts long, event_id long, value double"
    bad = spark.createDataFrame(
        [(1, 0, 0, 1.0), (1, 1, 1, None), (1, 2, 2, 3.0)], schema
    )
    rows = bad.select("user_id", "ts", "event_id", ewma_v_e2_col())
    with pytest.raises(Exception, match="NULL or NaN events.value"):
        ewma_jvm_step(rows, None).collect()
    nan_bad = spark.createDataFrame(
        [(1, 0, 0, 1.0), (1, 1, 1, float("nan")), (1, 2, 2, 3.0)], schema
    )
    rows = nan_bad.select("user_id", "ts", "event_id", ewma_v_e2_col())
    with pytest.raises(Exception, match="NULL or NaN events.value"):
        ewma_jvm_step(rows, None).collect()
    # the non-null path is untouched
    good = spark.createDataFrame([(1, 0, 0, 1.0), (1, 1, 1, 2.5)], schema)
    rows = good.select("user_id", "ts", "event_id", ewma_v_e2_col())
    assert [tuple(r) for r in ewma_jvm_step(rows, None).collect()] == [(1, 2, 175)]


def test_read_ewma_jvm_state_committed_resolution(spark, tmp_path):
    """With a checkpoint_dir, read_ewma_jvm_state returns the newest
    state version the stream has COMMITTED, not the newest directory:
    ewma_jvm_sink writes state N before the checkpoint commits batch N,
    so a crash in that window leaves an uncommitted newest dir (ADVICE
    r12).  Simulated: state 0 and 1 on disk, commits log holds only 0."""
    import pytest
    from data_integration_system_spark.streaming.jobs import (
        ewma_jvm_sink,
        read_ewma_jvm_state,
    )

    root = str(tmp_path / "state")
    ckpt = tmp_path / "ckpt" / "commits"
    ckpt.mkdir(parents=True)
    sink = ewma_jvm_sink(spark, root)
    schema = "user_id long, ts long, event_id long, value double"
    sink(spark.createDataFrame([(1, 0, 0, 1.0)], schema), 0)
    sink(spark.createDataFrame([(1, 1, 1, 2.5)], schema), 1)
    (ckpt / "0").write_text("v1\n{}")
    cdir = str(tmp_path / "ckpt")
    committed = read_ewma_jvm_state(spark, root, checkpoint_dir=cdir).collect()
    assert [tuple(r) for r in committed] == [(1, 1, 100)]  # state 0, not 1
    # uncommitted newest-dir read (no checkpoint) still sees state 1
    assert [tuple(r) for r in read_ewma_jvm_state(spark, root).collect()] == [
        (1, 2, 175)
    ]
    (ckpt / "1").write_text("v1\n{}")
    assert [
        tuple(r)
        for r in read_ewma_jvm_state(spark, root, checkpoint_dir=cdir).collect()
    ] == [(1, 2, 175)]
    # nothing committed at all -> loud failure, not a silent stale read
    for f in ckpt.iterdir():
        f.unlink()
    with pytest.raises(FileNotFoundError, match="committed"):
        read_ewma_jvm_state(spark, root, checkpoint_dir=cdir)


def test_streaming_user_ewma_jvm_snapshot_matches_batch(spark):
    """Registered JVM-EWMA snapshot == the batch operator (the Kappa
    parity that carries the RECURSIVE-CTE oracle to the stream)."""
    from data_integration_system_spark.operators.groupops import (
        user_value_ewma_jvm,
    )
    from data_integration_system_spark.streaming.jobs import (
        streaming_user_ewma_jvm_snapshot,
    )

    got = [
        tuple(r)
        for r in streaming_user_ewma_jvm_snapshot(spark, SF).collect()
    ]
    want = [tuple(r) for r in user_value_ewma_jvm(spark, SF).collect()]
    assert got == want and len(got) > 0


def test_fingerprint_overlap_sink_matches_batch(spark, tmp_path):
    """Streaming incremental fingerprint overlap (append + probe per
    micro-batch) must surface exactly the pairs the batch
    fingerprint_overlap_pairs query finds on the full corpus — the
    winnowing sibling of the near-dup sink's Kappa contract.  No
    fingerprint at this SF crosses the stop-hash threshold, so the
    append path's deferred pruning cannot diverge."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.textops import (
        fingerprint_overlap_pairs,
    )
    from data_integration_system_spark.streaming.jobs import (
        fingerprint_overlap_sink,
    )

    docs = table(spark, SF, "documents").select("doc_id", "text")
    d = str(tmp_path / "doc_stream")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(d)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    pairs_path = str(tmp_path / "pairs")
    sink = fingerprint_overlap_sink(
        spark, str(tmp_path / "fp_idx"), pairs_path, min_shared=5
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()

    got = {
        (r.doc_a, r.doc_b, r.shared_fps)
        for r in spark.read.parquet(pairs_path).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.shared_fps)
        for r in fingerprint_overlap_pairs(spark, SF).collect()
    }
    assert got == want and len(want) > 0


def test_fingerprint_overlap_sink_redelivery_counts_stable(spark, tmp_path):
    """At-least-once redelivery appends duplicate (doc, fp) rows to the
    index; shared_fps is a DISTINCT fp_hash count, so a replayed batch
    must re-emit pairs with IDENTICAL counts (downstream pair-key dedup
    keeps consistent rows) and must not push sub-threshold pairs over
    min_shared."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.streaming.jobs import fingerprint_overlap_sink

    batch = (
        table(spark, SF, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 60)
    )
    pairs_path = str(tmp_path / "pairs")
    sink = fingerprint_overlap_sink(
        spark, str(tmp_path / "fp_idx"), pairs_path, min_shared=5
    )
    sink(batch, 0)
    first = {
        (r.doc_a, r.doc_b): r.shared_fps
        for r in spark.read.parquet(pairs_path).collect()
    }
    sink(batch, 0)  # redelivered micro-batch: index now holds dup rows
    replay = [
        ((r.doc_a, r.doc_b), r.shared_fps)
        for r in spark.read.parquet(pairs_path).collect()
    ]
    assert len(first) > 0
    assert {k for k, _ in replay} == set(first)  # no new (inflated) pairs
    assert all(v == first[k] for k, v in replay)  # identical counts


def test_streaming_dup_rate_snapshot_query_matches_batch(spark):
    """The REGISTERED streaming query (driver-facing, r8): its final
    snapshot must equal the batch dup_rate_by_source on the same corpus
    — the Kappa parity that lets the exact SQL oracle check a real
    foreachBatch execution.  Also pins that the tempdir teardown left
    the returned DataFrame consumable (localCheckpoint barrier)."""
    from data_integration_system_spark.registry import get_queries

    qs = get_queries()
    got = [tuple(r) for r in qs["streaming_dup_rate_snapshot"](spark, SF).collect()]
    want = [tuple(r) for r in qs["dup_rate_by_source"](spark, SF).collect()]
    assert got == want and len(want) > 0


def test_ewma_fixture_mtimes_strictly_increase(tmp_path):
    """ADVICE r9 (medium): the mtime pin that orders the EWMA replay's
    micro-batches was inverted — fresh files (epoch mtimes ~1.7e9s)
    never satisfied `< b*1e6`, so the 'strictly increasing mtimes'
    guard was dead code.  Pin the fixed contract: after pinning batch
    b, that batch's files read mtime b*1e6 and EARLIER batches' pins
    are untouched (re-stamping batch 1 at b=2 would destroy the very
    ordering the pin exists to provide)."""
    import os

    from data_integration_system_spark.streaming.jobs import _pin_batch_mtimes

    src = tmp_path / "in"
    src.mkdir()
    seen: dict[str, float] = {}
    for b in (1, 2, 3):
        f = src / f"part-{b}.parquet"
        f.write_bytes(b"x")  # fresh file: real epoch mtime
        assert os.stat(f).st_mtime > 4e6
        _pin_batch_mtimes(str(src), b)
        for name, want in seen.items():
            assert os.stat(src / name).st_mtime == want, "earlier pin re-stamped"
        assert os.stat(f).st_mtime == b * 1e6
        seen[f.name] = b * 1e6
    pinned = sorted(os.stat(src / n).st_mtime for n in seen)
    assert pinned == [1e6, 2e6, 3e6]  # strictly increasing across batches


def test_streaming_quality_monitor_snapshot_matches_batch_checks(spark):
    """The REGISTERED streaming DQ query (driver-facing, r10): its
    final snapshot must equal the batch one-pass checks over the same
    orders slice — the summable-grain Kappa parity that lets the exact
    SQL oracle check a real dq_sink execution — and every rate must be
    the integer n_violations*1e6 div n_rows of its own row."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.pipeline.checks import (
        in_range,
        in_set,
        matches,
        not_null,
        run_checks,
    )
    from data_integration_system_spark.registry import get_queries

    got = get_queries()["streaming_quality_monitor_snapshot"](spark, SF).collect()
    assert len(got) == 4
    for r in got:
        assert r.violation_rate_e6 == r.n_violations * 1_000_000 // r.n_rows

    batch = {
        r.check_name: (r.n_rows, r.n_violations)
        for r in run_checks(
            table(spark, SF, "orders"),
            [
                not_null("o_custkey"),
                in_range("o_totalprice", 0, 1000000),
                in_set("o_orderstatus", ("O", "F", "P")),
                matches("o_orderpriority", "^[1-5]-"),
            ],
        ).collect()
    }
    assert {r.check_name: (r.n_rows, r.n_violations) for r in got} == batch


def test_streaming_length_profile_snapshot_matches_batch(spark):
    """The REGISTERED streaming length-profile query (driver-facing,
    r10): its final snapshot must equal the batch doc_length_histogram
    on the same corpus — the summable-grain Kappa parity."""
    from data_integration_system_spark.registry import get_queries

    qs = get_queries()
    got = [tuple(r) for r in qs["streaming_length_profile_snapshot"](spark, SF).collect()]
    want = [tuple(r) for r in qs["doc_length_histogram"](spark, SF).collect()]
    assert got == want and len(want) > 0


def test_streaming_retention_snapshot_matches_batch(spark):
    """The REGISTERED streaming retention query (driver-facing, r10):
    its final snapshot must equal the batch weekly_retention — the
    DISTINCT-keyed-grain Kappa parity (the same user active in several
    micro-batches of one week collapses, never double-counts)."""
    from data_integration_system_spark.registry import get_queries

    qs = get_queries()
    got = [tuple(r) for r in qs["streaming_retention_snapshot"](spark, SF).collect()]
    want = [tuple(r) for r in qs["weekly_retention"](spark, SF).collect()]
    assert got == want and len(want) > 0


def test_streaming_tumbling_counts_snapshot_matches_batch(spark):
    """The REGISTERED watermarked-aggregation query (driver-facing,
    r10): the assembled final-update-per-window snapshot must equal the
    batch tumbling_window_counts — including windows straddling a
    micro-batch boundary, whose partial batch-b emission must be
    superseded by the batch-b+1 cumulative update."""
    from data_integration_system_spark.registry import get_queries

    qs = get_queries()
    got = [tuple(r) for r in qs["streaming_tumbling_counts_snapshot"](spark, SF).collect()]
    want = sorted(
        tuple(r) for r in qs["tumbling_window_counts"](spark, SF).collect()
    )
    assert got == want and len(want) > 1


def test_streaming_session_windows_snapshot_matches_batch(spark):
    """The REGISTERED merging-session-window query (driver-facing,
    r10): the complete-mode final emission must equal the batch
    session_windows — including sessions whose events straddle
    micro-batch boundaries (state-store merge across triggers)."""
    from data_integration_system_spark.registry import get_queries

    qs = get_queries()
    got = sorted(
        tuple(r) for r in qs["streaming_session_windows_snapshot"](spark, SF).collect()
    )
    want = sorted(tuple(r) for r in qs["session_windows"](spark, SF).collect())
    assert got == want and len(want) > 0


def test_streaming_funnel_pairs_snapshot_matches_batch_join(spark):
    """The REGISTERED stream-stream join query (driver-facing, r10):
    the accumulated append emissions must equal the batch interval
    join — every (signup, purchase-within-1h) pair exactly once,
    including pairs whose two rows arrive in different micro-batches
    (the join-state buffering the machinery exists for)."""
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.registry import get_queries

    got = sorted(
        tuple(r)
        for r in get_queries()["streaming_funnel_pairs_snapshot"](spark, SF).collect()
    )
    ev = table(spark, SF, "events").select("ts", "user_id", "event_type")
    s = ev.filter("event_type = 'signup'").select(
        F.col("user_id"), F.col("ts").alias("signup_ts")
    )
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id"), F.col("ts").alias("purchase_ts")
    )
    want = sorted(
        tuple(r)
        for r in s.join(p, "user_id")
        .filter(
            "purchase_ts >= signup_ts AND purchase_ts < signup_ts + INTERVAL 1 HOUR"
        )
        .select(
            "user_id", "signup_ts", "purchase_ts",
            (F.unix_micros("purchase_ts") - F.unix_micros("signup_ts")).alias("lag_us"),
        )
        .collect()
    )
    assert got == want and len(want) > 0


def test_tumbling_state_survives_query_restart(spark, tmp_path):
    """Built-in state-store RECOVERY: a watermarked tumbling aggregation
    stopped after draining two files and RESTARTED from the same
    checkpoint after a third lands must produce the same final
    per-window totals as the batch aggregate — windows straddling the
    restart get their partial counts from recovered state, not from
    reprocessing (the ledger must show the straddling window's count
    GROWING across the restart, never resetting)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.streaming.jobs import _pin_batch_mtimes

    ev = table(spark, SF, "events").select("event_id", "ts", "value")
    tercile = F.ntile(3).over(Window.orderBy("ts", "event_id"))
    staged = ev.withColumn("b", tercile).localCheckpoint()
    src = str(tmp_path / "in")
    ledger = str(tmp_path / "led")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(b: int) -> None:
        staged.filter(F.col("b") == b).drop("b", "event_id").coalesce(
            1
        ).write.mode("append").parquet(src)
        _pin_batch_mtimes(src, b)

    def run_available() -> None:
        stream = (
            spark.readStream.schema(staged.drop("b", "event_id").schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("bucket_start"), "n_events")
        )

        def land(batch, batch_id):
            batch.coalesce(1).write.mode("overwrite").parquet(
                f"{ledger}/batch_id={batch_id}"
            )

        q = (
            agg.writeStream.foreachBatch(land)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        assert q.awaitTermination(300)
        q.stop()

    write_batch(1)
    write_batch(2)
    run_available()  # first run drains files 1-2, then terminates
    write_batch(3)
    run_available()  # RESTART from checkpoint: only file 3 is new

    led = spark.read.option("basePath", ledger).parquet(ledger)
    final = (
        led.groupBy("bucket_start")
        .agg(F.max_by("n_events", "batch_id").alias("n_events"))
    )
    want = (
        table(spark, SF, "events")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("bucket_start"), "n_events")
    )
    got_rows = {(r.bucket_start, r.n_events) for r in final.collect()}
    want_rows = {(r.bucket_start, r.n_events) for r in want.collect()}
    assert got_rows == want_rows
    # the restart reprocessed NOTHING: the pre-restart batch dirs (ids
    # 0-1) predate it, and the restart trigger emitted only the windows
    # file 3 touched — update mode over recovered state, not a rebuild
    # (a from-scratch reprocess would re-emit every window)
    ids = sorted(r.batch_id for r in led.select("batch_id").distinct().collect())
    assert ids[0] == 0 and len(ids) >= 3
    n_windows = final.count()
    restart_emitted = led.filter(F.col("batch_id") == ids[-1]).count()
    assert 0 < restart_emitted < n_windows


def test_sessionized_eviction_fires_mid_replay_with_bounded_state(spark, tmp_path):
    """The production watermarked session path (sessionized: APPEND mode
    + 1h watermark), driven the way streaming_sessionized_eviction_
    snapshot drives it, must (a) EVICT mid-replay — finalized sessions
    emitted from intermediate triggers, not one terminal flush, (b) hold
    state bounded by OPEN sessions (strictly fewer rows than total
    sessions — the bound COMPLETE mode can't give), and (c) emit each
    finalized session exactly once, matching the batch session set
    filtered at the snapshot's 65-minute cutoff."""
    import datetime

    from pyspark.sql import Window

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.streaming.jobs import (
        _pin_batch_mtimes,
        sessionized,
    )

    ev = table(spark, SF, "events").select("event_id", "ts", "user_id")
    tercile = F.ntile(3).over(Window.orderBy("ts", "event_id"))
    staged = ev.withColumn("b", tercile).localCheckpoint()
    src = str(tmp_path / "in")
    for b in (1, 2, 3):
        staged.filter(F.col("b") == b).drop("b", "event_id").coalesce(
            1
        ).write.mode("append").parquet(src)
        _pin_batch_mtimes(src, b)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    ledger = str(tmp_path / "ledger")

    def land(batch, batch_id):
        batch.coalesce(1).write.mode("overwrite").parquet(
            f"{ledger}/batch_id={batch_id}"
        )

    q = (
        sessionized(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.foreachBatch(land)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        assert q.awaitTermination(300)
        progresses = list(q.recentProgress)
    finally:
        q.stop()

    batch_sess = (
        spark.read.parquet(src)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .localCheckpoint()
    )
    n_total = batch_sess.count()

    # (b) state never holds all sessions: watermark eviction keeps only
    # sessions still open within the horizon
    state_rows = [
        op["numRowsTotal"]
        for p in progresses
        for op in (p.get("stateOperators") or [])
        if "numRowsTotal" in op
    ]
    assert state_rows, "no stateOperators progress recorded"
    assert max(state_rows) < n_total

    # (a) eviction fired MID-replay: emissions in >= 2 distinct triggers
    led = spark.read.option("basePath", ledger).parquet(ledger)
    emitting = [r.batch_id for r in led.select("batch_id").distinct().collect()]
    assert len(emitting) >= 2

    # (c) exactly-once, and equal to the batch set under the cutoff
    maxts = spark.read.parquet(src).agg(F.max("ts")).head()[0]
    cutoff = maxts - datetime.timedelta(minutes=65)
    key = lambda r: (r.user_id, r.session_start, r.session_end, r.n_events)  # noqa: E731
    emitted = [key(r) for r in led.filter(F.col("session_end") <= F.lit(cutoff)).collect()]
    want = {key(r) for r in batch_sess.filter(F.col("session_end") <= F.lit(cutoff)).collect()}
    assert len(emitted) == len(set(emitted))  # no double emission
    assert set(emitted) == want and len(want) > 0


def test_streaming_near_dup_snapshot_query_matches_batch(spark):
    """The REGISTERED online near-dup query (driver-facing, r11): its
    final canonical pair set must equal batch dedup_minhash_near on the
    full corpus — the Kappa contract, now through the registry path
    (trisected replay + index-append + pruned probes)."""
    from data_integration_system_spark.registry import get_queries

    qs = get_queries()
    got = sorted(
        tuple(r) for r in qs["streaming_near_dup_snapshot"](spark, SF).collect()
    )
    want = sorted(tuple(r) for r in qs["dedup_minhash_near"](spark, SF).collect())
    assert got == want and len(want) > 0


def test_streaming_fingerprint_overlap_snapshot_query_matches_batch(spark):
    """The REGISTERED online fingerprint-overlap query (driver-facing,
    r11) vs batch fingerprint_overlap_pairs — same min_shared=5, same
    canonical pair grain."""
    from data_integration_system_spark.registry import get_queries

    qs = get_queries()
    got = sorted(
        tuple(r)
        for r in qs["streaming_fingerprint_overlap_snapshot"](spark, SF).collect()
    )
    want = sorted(
        tuple(r) for r in qs["fingerprint_overlap_pairs"](spark, SF).collect()
    )
    assert got == want and len(want) > 0


def test_streaming_ann_ingest_snapshot_query_matches_batch_index(spark, tmp_path):
    """The REGISTERED online ANN-ingest query (driver-facing, r11): the
    incrementally-grown index's top-k lists must equal the one-shot
    batch build's for the standard query set (same fit_ivf_centroids
    both sides — the fixed-centroids invariant)."""
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        build_ivf_index,
        query_ivf_index,
    )
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.registry import get_queries

    got = sorted(
        tuple(r)
        for r in get_queries()["streaming_ann_ingest_snapshot"](spark, SF).collect()
    )
    full = str(tmp_path / "full")
    build_ivf_index(spark, SF, full)
    emb = table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    want = sorted(
        tuple(r)
        for r in query_ivf_index(spark, full, queries)
        .orderBy("q_id", "rnk")
        .collect()
    )
    assert got == want and len(want) > 0


def test_streaming_sessionized_eviction_snapshot_matches_cutoff_sessions(spark):
    """The REGISTERED production-session query (driver-facing, r11):
    append-mode emissions filtered at the 65-minute cutoff must equal
    the batch session_window set under the same cutoff, exactly once
    each."""
    import datetime

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.registry import get_queries

    got = [
        tuple(r)
        for r in get_queries()["streaming_sessionized_eviction_snapshot"](
            spark, SF
        ).collect()
    ]
    ev = table(spark, SF, "events").select("ts", "user_id")
    maxts = ev.agg(F.max("ts")).head()[0]
    cutoff = maxts - datetime.timedelta(minutes=65)
    want = sorted(
        tuple(r)
        for r in ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .filter(F.col("session_end") <= F.lit(cutoff))
        .collect()
    )
    assert len(got) == len(set(got))  # exactly-once
    assert sorted(got) == want and len(want) > 0


def test_jobs_fold_snapshot_log_bound_and_state(spark, tmp_path):
    """The jobs-fold snapshot's no-re-claim contract, pinned on the log
    itself: 8 staged submissions drained by the 3-micro-batch worker
    replay leave EXACTLY 8 PENDING + 8 RUNNING + 8 DONE rows — a
    re-claimed job would append extra transition rows (same final fold,
    which is why the driver row alone can't see it)."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.pipeline.jobs import fold_job_log
    from data_integration_system_spark.streaming.jobs import (
        _JOBS_FOLD_CONFIG,
        _demo_site_fetch,
        _pin_batch_mtimes,
        job_worker_stream,
    )

    jobs_path = str(tmp_path / "jobs_log")
    o = table(spark, SF, "orders").orderBy("o_orderkey").limit(8)
    subs = o.select(
        F.col("o_orderkey").cast("string").alias("job_id"),
        F.concat(
            F.lit("https://ex.com/p"), (F.col("o_orderkey") % 4).cast("string")
        ).alias("start_url"),
        F.lit("ex.com").alias("root_domain"),
        F.lit(_JOBS_FOLD_CONFIG).alias("config"),
        F.lit("PENDING").alias("status"),
        F.lit("").alias("error"),
        F.col("o_orderdate").alias("created_at"),
    ).localCheckpoint()
    for b in range(3):
        subs.filter(F.pmod(F.col("job_id").cast("long"), F.lit(3)) == b).coalesce(
            1
        ).write.mode("append").parquet(jobs_path)
        _pin_batch_mtimes(jobs_path, b + 1)
    q = job_worker_stream(
        spark, jobs_path, str(tmp_path / "out"),
        fetch_fn=_demo_site_fetch(),
        trigger={"availableNow": True},
        stream_options={"maxFilesPerTrigger": "1"},
    )
    try:
        assert q.awaitTermination(300)
    finally:
        q.stop()

    log = spark.read.parquet(jobs_path)
    by_status = {
        r.status: r.n
        for r in log.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    assert by_status == {"PENDING": 8, "RUNNING": 8, "DONE": 8}
    folded = fold_job_log(log).collect()
    assert len(folded) == 8
    assert all(r.status == "DONE" and r.error == "" for r in folded)
    # submission fields survive the fold (min_by over the PENDING row)
    assert all(r.start_url.startswith("https://ex.com/p") for r in folded)


def test_pq_ingest_sink_grows_index_to_match_batch(spark, tmp_path):
    """Streaming PQ ingest (per-batch encode against FROZEN codebooks +
    code appends) must leave an index that answers every query exactly
    like the one-shot batch build — the compressed-tier twin of the IVF
    ingest sink's write-side Kappa contract."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        build_pq_index,
        query_pq_index,
    )
    from data_integration_system_spark.streaming.jobs import pq_ingest_sink

    full = str(tmp_path / "full")
    build_pq_index(spark, SF, full)
    inc = str(tmp_path / "incremental")
    for side in ("codebooks", "meta"):
        spark.read.parquet(f"{full}/{side}").write.parquet(f"{inc}/{side}")

    emb = table(spark, SF, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= _N_QUERIES).select("vec_id", "embedding")
    d = str(tmp_path / "vec_stream")
    corpus.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(d)
    corpus.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode("append").parquet(d)

    q = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .writeStream.foreachBatch(pq_ingest_sink(spark, inc))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()

    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    vecs = corpus
    got = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in query_pq_index(spark, inc, queries, vectors=vecs).collect()
    }
    want = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in query_pq_index(spark, full, queries, vectors=vecs).collect()
    }
    assert got == want and len(want) > 0


def test_ivfpq_ingest_sink_grows_index_to_match_batch(spark, tmp_path):
    """Streaming IVF-PQ ingest (per-batch assignment + encode + cent_id
    partition appends) must leave a composed index that answers every
    query exactly like the one-shot batch build."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        build_ivfpq_index,
        query_ivfpq_index,
    )
    from data_integration_system_spark.streaming.jobs import ivfpq_ingest_sink

    full = str(tmp_path / "full")
    build_ivfpq_index(spark, SF, full)
    inc = str(tmp_path / "incremental")
    for side in ("centroids", "codebooks", "meta"):
        spark.read.parquet(f"{full}/{side}").write.parquet(f"{inc}/{side}")

    emb = table(spark, SF, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= _N_QUERIES).select("vec_id", "embedding")
    d = str(tmp_path / "vec_stream")
    corpus.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(d)
    corpus.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode("append").parquet(d)

    q = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .writeStream.foreachBatch(ivfpq_ingest_sink(spark, inc))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()

    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    got = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in query_ivfpq_index(spark, inc, queries, vectors=corpus).collect()
    }
    want = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in query_ivfpq_index(spark, full, queries, vectors=corpus).collect()
    }
    assert got == want and len(want) > 0


def test_dedup_minhash_near_topk_cap(spark):
    """Batch minhash near-dup kNN-graph cap (the family-completing
    bounded-output mode): cap >= max true degree reproduces the
    uncapped pair set EXACTLY; cap=1 stays a subset AND keeps at least
    one edge for every matched doc (each doc retains its own best
    neighbor under the OR semantics)."""
    import collections

    from data_integration_system_spark.operators.dedup import dedup_minhash_near

    want = [tuple(r) for r in dedup_minhash_near(spark, SF).collect()]
    assert want
    deg: collections.Counter = collections.Counter()
    for a, b, _ in want:
        deg[a] += 1
        deg[b] += 1
    generous = max(deg.values())
    got = [
        tuple(r)
        for r in dedup_minhash_near(
            spark, SF, top_k_neighbors=generous
        ).collect()
    ]
    assert got == want

    k1 = [
        tuple(r)
        for r in dedup_minhash_near(spark, SF, top_k_neighbors=1).collect()
    ]
    assert set(k1) <= set(want)
    covered = {a for a, _, _ in k1} | {b for _, b, _ in k1}
    assert covered == set(deg), "a matched doc lost all its edges"


def test_ann_delete_sink_hides_ids_and_dedups_redelivery(spark, tmp_path):
    """Streaming takedown (r16): delete requests flowing through
    ann_delete_sink land as tombstones — every listed id is hidden from
    the composed index's queries after the stream drains, the relation
    holds DISTINCT ids even when batches overlap (at-least-once
    redelivery simulated by listing the same id in two files), and
    unrelated ids keep serving."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        build_ivfpq_index,
        query_ivfpq_index,
    )
    from data_integration_system_spark.streaming.jobs import ann_delete_sink

    idx = str(tmp_path / "idx")
    build_ivfpq_index(spark, SF, idx)
    emb = table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    before = query_ivfpq_index(spark, idx, queries).collect()
    victims = sorted({r.c_id for r in before if r.rnk == 1})[:3]
    assert victims

    d = str(tmp_path / "delete_stream")
    from data_integration_system_spark.operators._common import local_rows_df

    local_rows_df(
        spark, [(int(v),) for v in victims], "vec_id long"
    ).coalesce(1).write.parquet(d)
    # redelivery: the same ids again, plus one fresh
    local_rows_df(
        spark, [(int(v),) for v in victims + [victims[0]]], "vec_id long"
    ).coalesce(1).write.mode("append").parquet(d)

    q = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .writeStream.foreachBatch(ann_delete_sink(spark, idx))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()

    tomb = spark.read.parquet(f"{idx}/tombstones")
    assert tomb.count() == len(victims)  # distinct, despite redelivery
    after = query_ivfpq_index(spark, idx, queries).collect()
    assert not any(r.c_id in set(victims) for r in after)
    assert len(after) > 0


def test_stage_batches_writes_empty_batch_file(spark, tmp_path):
    """ADVICE r17: a __b class with zero rows must replay as an EMPTY
    micro-batch file (the pre-r17 per-batch coalesce(1) contract), not
    fail the fixture.  Batch 1 here is deliberately vacant."""
    from data_integration_system_spark.streaming.jobs import _stage_batches

    df = spark.range(10).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.lit(2))
        .cast("int")
        .alias("__b"),
    )
    src = str(tmp_path / "in")
    _stage_batches(df, src)
    import os

    files = sorted(os.listdir(src))
    assert files == ["batch-0.parquet", "batch-1.parquet", "batch-2.parquet"]
    assert spark.read.parquet(f"{src}/batch-1.parquet").count() == 0
    got = spark.read.parquet(src)
    assert got.count() == 10
    assert [f.name for f in got.schema.fields] == ["id"]
    # mtimes still strictly increasing (oldest-first pacing pin)
    mtimes = [os.path.getmtime(f"{src}/{f}") for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3

"""The benchmark's workloads.

Each workload is a closed loop with one client: it runs whole passes
over a fixed, seeded op list until ``seconds`` are used (at least one
pass, and no pass is started that would not fit).  Every workload goes
through the same phases:

1. set-up: start the engine's session (which launches the JVM),
   generate the inputs, run one warm-up job;
2. preparation (index builds) and an untimed check pass that also
   warms code paths (first-use Python worker spawn, codegen), with
   outputs checked;
3. timed passes;
4. post-run output checks.

``setup_s`` is one figure per run: process start to the first timed
op, so phases 1 and 2 together.  Work moved out of the timed passes
into either shows there.  A benchmark session (dozens of runs per
workload) must fit in about an hour, so each op list is as short as
its metrics allow: ``setup_s`` already costs more than one timed pass.

Ops are timed from the call until the result is fully consumed.  The
op list of every pass is the same, so passes are comparable.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.host import cpu_jiffies, process_age, steal_share, unstolen
from perfbench.layers import StreamingRecorder, tree_files
from perfbench.spans import Op, Tracer

# -- analytics ------------------------------------------------------------

ANALYTICS_SCALE = 0.02

#: light queries: bound by the fixed overhead of Spark jobs, so a
#: fixed-overhead change shows in op_geomean_s (over every query)
ANALYTICS_LIGHT = (
    "join_sortmerge_fact",
    "session_windows",
    "dedup_exact",
    "project_content_hash",
    "pii_redact",
)
#: heavy tail: executor CPU and shuffle (the mapInPandas decode
#: stage, and for the streaming harness the micro-batch trigger and
#: foreachBatch machinery); a kernel change shows in run_s and
#: secondary_geomean_s
ANALYTICS_HEAVY = (
    "dedup_minhash_near",
    "event_type_pagerank",
    "similarity_topk",
    "multimodal_decode_meta",
    "streaming_length_profile_snapshot",
)

# -- ingest ---------------------------------------------------------------

INGEST_SITES = 2
#: pages per site, in a tree of fan-out 6 (``gen.site_pages``): three
#: BFS generations per crawl
INGEST_PAGES = 20
INGEST_CHANGED = 0.1

# -- index_serve ----------------------------------------------------------

INDEX_SCALE = 0.02
PROBE_QUERIES = 16
PROBE_TOP_K = 10
APPEND_ROWS = 16
DELETE_ROWS = 8
MINHASH_PROBES = 12
#: MinHash index buckets sized to the 1k-document corpus (the engine's
#: default, 256, would leave most bucket partitions holding a few rows)
MINHASH_BUCKETS = 32
#: enough seeded sets for any pass count a run can reach
MAX_PASSES = 16


class Context:
    """Run-wide state shared by the phases of one workload."""

    def __init__(self, seed: int, seconds: float, work: str, tracer: Tracer,
                 start_jiffies: list[int]):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.start_jiffies = start_jiffies
        #: process start to the first timed op: raw, and steal-adjusted
        self.setup_wall = self.setup_s = 0.0
        self.pass_times: list[float] = []
        #: host steal share during each pass
        self.pass_steal: list[float] = []
        #: the op kinds op_geomean_s is taken over
        self.primary = ("op",)
        #: JVM memory in use after the last pass: heap, non-heap
        self.jvm_live_bytes = (0, 0)
        self.checks = 0
        self.check_failures: list[str] = []
        #: workload-specific per-layer figures
        self.extra: dict[str, float] = {}
        #: micro-batch progress records (traced runs)
        self.streaming = None
        #: wall seconds per phase, reported beside the metrics
        self.phases: dict[str, float] = {}
        self._t_phase = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Close the current phase under ``phase``."""
        now = time.perf_counter()
        self.phases[phase] = self.phases.get(phase, 0.0) + now - self._t_phase
        self._t_phase = now

    # -- phases -------------------------------------------------------

    def quiesce(self) -> None:
        """Full garbage collection in Python and in the JVM before each
        timed pass, so a collection of earlier garbage does not land in
        whichever op happens to run next."""
        import gc

        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def sample_memory(self) -> None:
        """JVM memory still in use after the last pass.  Spark's context
        cleaner frees broadcast and shuffle blocks only once a collection
        has found their handles unreachable, so a second collection,
        after the cleaner had time to run, leaves just what is kept."""
        self.quiesce()
        time.sleep(0.5)
        jvm = self.spark.sparkContext._jvm
        jvm.System.gc()
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.jvm_live_bytes = (
            mem.getHeapMemoryUsage().getUsed(), mem.getNonHeapMemoryUsage().getUsed()
        )

    def setup(self, make_inputs) -> object:
        """Start the session and generate the inputs; returns them."""
        from data_integration_system_spark.session import get_spark

        spark = self.spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        if self.tracer.enabled:
            self.tracer.sc = spark.sparkContext
        out = os.path.join(self.work, "inputs")
        os.makedirs(out)
        inputs = make_inputs(out)
        with self.tracer.group("setup"):
            spark.range(1).count()
        if self.tracer.enabled:
            self.streaming = StreamingRecorder(self.spark)
        self.mark("setup")
        return inputs

    def timed(self, run_pass) -> None:
        """Closed loop over whole passes for ``seconds``."""
        self.mark("prepare")
        self.setup_wall = process_age()
        self.setup_s = unstolen(self.setup_wall, steal_share(self.start_jiffies, cpu_jiffies()))
        t_start = time.perf_counter()
        i = 0
        while True:
            self.quiesce()
            j0 = cpu_jiffies()
            t0 = time.perf_counter()
            run_pass(i)
            self.pass_times.append(time.perf_counter() - t0)
            self.pass_steal.append(steal_share(j0, cpu_jiffies()))
            i += 1
            elapsed = time.perf_counter() - t_start
            if i >= MAX_PASSES or elapsed + self.pass_times[-1] > self.seconds:
                break
        self.mark("timed")
        self.sample_memory()

    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.check_failures.append(what)
            print(f"check failed: {what}", file=sys.stderr)

    def record(self, kind: str, name: str, start: float, end: float, ok: bool,
               steal: float = 0.0) -> None:
        """An op measured outside an op() block (drained jobs)."""
        self.tracer.ops.append(Op(kind, name, start, end, ok, steal=steal))

    # -- results ------------------------------------------------------

    def ops_of(self, *kinds: str) -> list[Op]:
        return [o for o in self.tracer.ops if o.kind in kinds and o.ok]

    def passes_unstolen(self) -> list[float]:
        return list(map(unstolen, self.pass_times, self.pass_steal))

    def end_to_end(self) -> dict[str, float]:
        """The end-to-end metrics.  Times are steal-adjusted
        (``host.unstolen``): on a shared host the share of CPU time the
        hypervisor gives to other guests swings from run to run and
        would otherwise dominate every figure.  ``setup_s`` is one
        sample, ``run_s`` the median pass.  Per-op latency is the
        geometric mean over the ops of a kind: a run has 2-5 ops of a
        kind, of costs up to tenfold apart, and their median jumps from
        one query to the next as run-to-run jitter reorders them, while
        the geometric mean moves by the same share whichever op changes
        (on one set of ten runs, the quartile spread of the light
        queries' median was 0.29 and of their geometric mean 0.18)."""
        return {
            "setup_s": self.setup_s,
            "run_s": _median(self.passes_unstolen()),
            "op_geomean_s": _geomean(o.unstolen_s for o in self.ops_of(*self.primary)),
            "secondary_geomean_s": _geomean(o.unstolen_s for o in self.ops_of("secondary")),
            "live_mem_mb": sum(self.memory_mb().values()),
        }

    def memory_mb(self) -> dict[str, float]:
        """The parts of ``live_mem_mb``."""
        return {
            "jvm_heap": self.jvm_live_bytes[0] / 2**20,
            "jvm_non_heap": self.jvm_live_bytes[1] / 2**20,
            "python_peak_rss": _peak_rss_self() / 2**20,
        }

    def wall(self) -> dict[str, float]:
        """The time metrics of ``end_to_end`` over raw wall times."""
        return {
            "setup_s": self.setup_wall,
            "run_s": _median(self.pass_times),
            "op_geomean_s": _geomean(o.duration for o in self.ops_of(*self.primary)),
            "secondary_geomean_s": _geomean(o.duration for o in self.ops_of("secondary")),
        }


def _peak_rss_self() -> int:
    """Peak resident memory of this (the Python driver) process.  The
    JVM and the Python workers are child processes and not counted."""
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024


def _median(xs) -> float:
    return statistics.median(list(xs))


def _geomean(xs) -> float:
    xs = list(xs)
    # empty only when every op of a kind failed, and then the run
    # already reports failures
    return statistics.geometric_mean(xs) if xs else 0.0


def _catalog_setup(ctx: Context, scale: float) -> str:
    def make_inputs(out: str) -> str:
        gen.write_catalog(out, ctx.seed, scale)
        return out

    return ctx.setup(make_inputs)


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------


def analytics(ctx: Context) -> None:
    from data_integration_system_spark import registry

    queries = registry.get_queries()
    oracles = registry.get_oracle_sql()
    names = ANALYTICS_LIGHT + ANALYTICS_HEAVY
    cat = _catalog_setup(ctx, ANALYTICS_SCALE)
    spark = ctx.spark

    # check + warm pass: every query collected once; exact-oracle
    # queries are compared with their DuckDB oracle over the same
    # parquet by the repository's oracle harness, rows-only queries
    # (no SQL oracle) must return rows
    from tests.oracle_harness import compare

    for name in names:
        with ctx.tracer.group("check"):
            try:
                if name in oracles:
                    errors = compare(spark, cat, name, queries[name], oracles[name])
                elif not queries[name](spark, cat).collect():
                    errors = [f"{name}: rows-only query returned no rows"]
                else:
                    errors = []
            except Exception:  # noqa: BLE001 — a failing query is a failed check
                traceback.print_exc()
                errors = [f"{name}: raised"]
        ctx.check(not errors, "; ".join(errors)[:500])

    # timed passes: results consumed through the noop sink, because
    # count() would let Catalyst prune the columns a query computes.
    # The primary op is one query, any of the ten: the light queries
    # alone (0.15-0.7 s each) jitter by a quarter or more from run to
    # run, and over ten runs their geometric mean spread 0.32 against
    # 0.20 for all ten queries'.
    ctx.primary = ("op", "secondary")

    def run_pass(_i: int) -> None:
        for name in names:
            kind = "op" if name in ANALYTICS_LIGHT else "secondary"
            with ctx.tracer.op(kind, name):
                queries[name](spark, cat).write.format("noop").mode("overwrite").save()

    ctx.timed(run_pass)
    # per-pass time by each query's defining module: operators.joins.s
    # for a query in operators/joins.py
    for o in ctx.tracer.ops:
        key = ".".join(queries[o.name].__module__.split(".")[-2:]) + ".s"
        ctx.extra[key] = ctx.extra.get(key, 0.0) + o.duration / len(ctx.pass_times)


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


def _job_latencies(jobs_path: str) -> dict[str, float]:
    """Claim-to-terminal latency per job from the job log: the RUNNING
    row's timestamp to the DONE/FAILED row's."""
    import pyarrow.parquet as pq

    log = pq.read_table(jobs_path, columns=["job_id", "status", "created_at"])
    log = log.to_pandas()
    out = {}
    for job_id, rows in log.groupby("job_id"):
        t = dict(zip(rows["status"], rows["created_at"]))
        end = t.get("DONE", t.get("FAILED"))
        if "RUNNING" in t and end is not None:
            out[job_id] = (end - t["RUNNING"]).total_seconds()
    return out


def ingest(ctx: Context) -> None:
    from data_integration_system_spark.pipeline import snapshots
    from data_integration_system_spark.pipeline import jobs as PJ

    def make_inputs(out: str):
        sites = [
            gen.site_pages(ctx.seed, s, INGEST_PAGES)
            for s in range(INGEST_SITES)
        ]
        changed, planted = gen.changed_pages(ctx.seed, sites[0], INGEST_CHANGED)
        all_pages: dict = {}
        for s in sites:
            all_pages.update(s)
        return sites, changed, planted, gen.site_fetch(all_pages)

    sites, changed, planted, fetch_all = ctx.setup(make_inputs)
    spark = ctx.spark
    versions = [gen.site_fetch(sites[0]), gen.site_fetch(changed)]
    recrawl_job = {
        "start_urls": [next(iter(sites[0]))],
        "download_files": False,
        "max_pages_total": 10 * INGEST_PAGES,
    }
    changed_bytes = sum(len(changed[u]["text"].encode()) for u in planted)

    drained: list[list[dict]] = []
    drain_wall = [0.0]
    pages_done = [0]

    def drain(tag: str, n_sites: int = INGEST_SITES) -> None:
        """Submit one job per site, drain the queue, check every job."""
        jobs_path = os.path.join(ctx.work, f"jobs-{tag}")
        out_root = os.path.join(ctx.work, f"out-{tag}")
        reports: list[dict] = []
        with ctx.tracer.op("drain", "drain") as rec:
            for s in range(n_sites):
                PJ.submit_job(spark, jobs_path, {
                    "url": next(iter(sites[s])),
                    "download_files": False,
                    "max_pages_total": 10 * INGEST_PAGES,
                })
            while True:
                batch = PJ.run_pending_jobs(spark, jobs_path, out_root, fetch_all)
                if not batch:
                    break
                reports += batch
        drain_wall[0] += rec.duration
        drained.append(reports)
        lat = _job_latencies(jobs_path)
        for r in reports:
            ok = r["status"] == "DONE" and r["pages"] == INGEST_PAGES
            ctx.check(ok, f"job {r['job_id']}: {r['status']} {r['pages']} {r['error'][:200]}")
            if ok:
                pages_done[0] += r["pages"]
            if r["job_id"] in lat:
                ctx.record("op", "job", 0.0, lat[r["job_id"]], ok, rec.steal)
            else:
                ctx.check(False, f"job {r['job_id']}: no terminal log row")

    # warm-up drain of site 0 (its ops are not timed); its output
    # becomes the stable path every pass re-crawls
    with ctx.tracer.group("check"):
        drain("warm", 1)
    ctx.tracer.ops.clear()
    drain_wall[0] = pages_done[0] = 0
    stable = [
        r["output"] for r in drained[0] if r["domains"].get(f"site0.{gen.SITE_DOMAIN}")
    ]
    ctx.check(len(stable) == 1, "no drained output for site 0")

    def run_pass(i: int) -> None:
        drain(str(i))

        # incremental re-crawl against the stable path: alternating
        # versions, so every re-crawl upserts exactly the planted pages
        fetch = versions[(i + 1) % 2]
        with ctx.tracer.op("secondary", "recrawl"):
            report = PJ.run_job(spark, recrawl_job, stable[0], fetch)
        up = report["upserts"]
        ctx.check(
            report["status"] == "DONE"
            and up.get("UPSERTED") == len(planted)
            and up.get("INSERTED") == 0
            and up.get("SKIPPED") == INGEST_PAGES - len(planted),
            f"re-crawl {report['status']} {up} (planted {len(planted)})",
        )

    ctx.timed(run_pass)

    # committed pages of the last drain equal the reachable count
    with ctx.tracer.group("check"):
        for r in drained[-1]:
            if r["status"] == "DONE":
                n = snapshots.read_current(spark, r["output"]).count()
                ctx.check(n == INGEST_PAGES, f"committed pages {n} != {INGEST_PAGES}")
    ctx.extra["ingest.pages_per_s"] = pages_done[0] / drain_wall[0]
    ctx.extra["_changed_bytes"] = changed_bytes


# ---------------------------------------------------------------------------
# index_serve
# ---------------------------------------------------------------------------


def _exact_top(live_ids: np.ndarray, live: np.ndarray, q: np.ndarray, k: int):
    sims = q @ live.T
    order = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    return live_ids[order]


def index_serve(ctx: Context) -> None:
    import pyarrow.parquet as pq

    from data_integration_system_spark.operators import dedup as D
    from data_integration_system_spark.operators import similarity as S

    cat = _catalog_setup(ctx, INDEX_SCALE)
    spark = ctx.spark
    emb = pq.read_table(f"{cat}/embeddings.parquet").to_pandas()
    live = {int(i): np.asarray(v, dtype=np.float64) for i, v in zip(emb.vec_id, emb.embedding)}
    n_vectors = len(live)
    docs = pq.read_table(f"{cat}/documents.parquet").to_pandas()
    queries = gen.query_vectors(ctx.seed, PROBE_QUERIES, MAX_PASSES * 2 + 2)
    appends = gen.append_sets(ctx.seed, 10 * n_vectors, APPEND_ROWS, MAX_PASSES)
    deletes = gen.delete_sets(ctx.seed, n_vectors, DELETE_ROWS, MAX_PASSES)
    rng = np.random.default_rng([ctx.seed, 23])

    ivf, mh = os.path.join(ctx.work, "ivfpq"), os.path.join(ctx.work, "minhash")
    t0 = time.perf_counter()
    with ctx.tracer.group("build"):
        S.build_ivfpq_index(spark, cat, ivf)
        D.build_minhash_index(spark, cat, mh, n_buckets=MINHASH_BUCKETS)
        handle = S.open_ivfpq_index(spark, ivf)
    ctx.extra["index.build_s"] = time.perf_counter() - t0

    deleted: set[int] = set()
    recent: list[int] = []  # appended ids the next probe must find first
    recalls: list[float] = []
    added: list[int] = []  # data files each append added

    def probe(kind_name: str, batch: np.ndarray) -> None:
        ids = list(range(len(batch)))
        vecs = [batch[j] for j in ids]
        own = {}
        for vid in recent:
            own[len(ids)] = vid
            ids.append(len(ids))
            vecs.append(live[vid])
        # literal rows go in as pandas: with Arrow on (the engine's
        # session) that is a LocalRelation, not a pickled-RDD scan
        qdf = spark.createDataFrame(pd.DataFrame({
            "q_id": np.asarray(ids, dtype=np.int64),
            "qe": [np.asarray(v, dtype=np.float32) for v in vecs],
        }), "q_id long, qe array<float>")
        with ctx.tracer.op("op", kind_name):
            if kind_name == "ivfpq_oneshot":
                rows = S.query_ivfpq_index(spark, ivf, qdf, top_k=PROBE_TOP_K).collect()
            else:
                rows = handle.query(qdf, top_k=PROBE_TOP_K).collect()
        hits: dict[int, list[tuple[int, int]]] = {}
        for r in rows:
            hits.setdefault(int(r["q_id"]), []).append((int(r["rnk"]), int(r["c_id"])))
        got = {q: [c for _, c in sorted(v)] for q, v in hits.items()}
        back = deleted & {c for v in got.values() for c in v}
        ctx.check(not back, f"{kind_name}: deleted ids returned {sorted(back)[:5]}")
        for q, vid in own.items():
            ctx.check(got.get(q, [None])[0] == vid, f"{kind_name}: appended {vid} not its own NN")
        live_ids = np.asarray(sorted(live), dtype=np.int64)
        mat = np.stack([live[i] for i in live_ids])
        qm = np.stack([np.asarray(v, dtype=np.float64) for v in batch])
        qm /= np.linalg.norm(qm, axis=1, keepdims=True)
        exact = _exact_top(live_ids, mat, qm, PROBE_TOP_K)
        for j in range(len(batch)):
            recalls.append(len(set(got.get(j, [])) & set(exact[j].tolist())) / PROBE_TOP_K)
        recent.clear()

    def minhash_probe() -> None:
        picks = rng.choice(len(docs), MINHASH_PROBES, replace=False)
        src = {1_000_000 + j: int(docs.doc_id.iloc[p]) for j, p in enumerate(picks)}
        qdf = spark.createDataFrame(pd.DataFrame({
            "doc_id": np.asarray(list(src), dtype=np.int64),
            "text": [docs.text.iloc[p] for p in picks],
        }), "doc_id long, text string")
        with ctx.tracer.op("op", "minhash_probe"):
            rows = D.query_minhash_index(spark, mh, qdf).collect()
        found = {(int(r["q_id"]), int(r["c_id"])) for r in rows}
        missing = [q for q, c in src.items() if (q, c) not in found]
        ctx.check(not missing, f"minhash probe: {len(missing)} sources not found")

    def append(b: int) -> None:
        ids, vecs = appends[b]
        ndf = spark.createDataFrame(pd.DataFrame({
            "vec_id": ids, "embedding": [v for v in vecs],
        }), "vec_id long, embedding array<float>")
        before = tree_files(ivf)[0]
        with ctx.tracer.op("secondary", "ivfpq_append"):
            S.append_ivfpq_index(spark, ivf, ndf)
            handle.reopen()
        added.append(tree_files(ivf)[0] - before)
        for i, v in zip(ids, vecs):
            live[int(i)] = np.asarray(v, dtype=np.float64)
        recent[:] = [int(i) for i in ids[:4]]

    def delete(b: int) -> None:
        ids = deletes[b]
        with ctx.tracer.op("secondary", "ivfpq_delete"):
            n = S.delete_from_ivfpq_index(spark, ivf, ids)
            handle.reopen()
        ctx.check(n == len(ids), f"delete wrote {n} tombstones for {len(ids)} ids")
        for i in ids:
            deleted.add(i)
            live.pop(i, None)

    # warm-up (untimed; its checks count): the first call of a path
    # pays plan compilation and Python worker start-up
    with ctx.tracer.group("check"):
        probe("ivfpq_oneshot", queries[-1])
        append(len(appends) - 1)
    ctx.tracer.ops.clear()
    recalls.clear()
    added.clear()

    def run_pass(i: int) -> None:
        probe("ivfpq_oneshot", queries[2 * i])
        append(i)
        probe("ivfpq_handle", queries[2 * i + 1])
        minhash_probe()
        delete(i)

    ctx.timed(run_pass)
    ctx.extra["index.recall_at_10"] = float(np.mean(recalls))
    ctx.extra["index.files_per_append"] = float(np.mean(added))
    ctx.extra["index.files_after_writes"] = tree_files(ivf)[0]
    tomb = os.path.join(ivf, "tombstones")
    ctx.extra["index.tombstone_rows"] = (
        pq.read_table(tomb).num_rows if os.path.isdir(tomb) else 0
    )


WORKLOADS = {
    "analytics": analytics,
    "ingest": ingest,
    "index_serve": index_serve,
}

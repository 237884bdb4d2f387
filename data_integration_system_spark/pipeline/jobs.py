"""Job orchestration: the reference's submit→claim→run surface.

A user of the reference drives it with a job dict POSTed to the API
(api/main.py:44-78), serialized to `config jsonb`, then deserialized by
the worker with dataclass-field filtering (worker_daemon.py:10-12,35-40
— the schema-on-read pattern) and handed to `Crawler(job).run()`.

`run_job` is that entrypoint: same field-filtered config unpack, same
derived root_domain (P10 unified onto P1's lowercase semantics,
SURVEY §2A), then the BFS pipeline + store write.  The job-status
lifecycle (PENDING→RUNNING→DONE/FAILED, schema.sql:56-61) becomes a
returned report instead of Postgres row updates — errors are data here
too.
"""

from __future__ import annotations

import dataclasses
import datetime as _dt
import gc
import json
import uuid
from collections import Counter
from typing import Any
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_system_spark.catalog import table
from data_integration_system_spark.registry import query
from data_integration_system_spark.pipeline.crawl import (
    CrawlConfig,
    crawl,
    file_links_of,
)
from data_integration_system_spark.pipeline.extract import FILE_COLUMNS, file_parser
from data_integration_system_spark.pipeline.fetch import (
    FetchFn,
    default_http_fetch,
    fetch_frontier,
)
from data_integration_system_spark.pipeline.snapshots import (
    current_version,
    read_current,
    snapshot_exists,
    write_snapshot,
)
from data_integration_system_spark.pipeline.writer import (
    STATUS_COL,
    classify_upsert,
)

_CFG_FIELDS = {f.name for f in dataclasses.fields(CrawlConfig)}

#: reference job-option name -> our CrawlConfig field
#: (CrawlJob fields, models.py:5-34).  `download_only_same_domain` gates
#: only FILE downloads (crawler_core.py:107-109) — page crawl scope is
#: unconditionally same-domain in the reference (_in_scope, :81-87), so
#: it must NOT map to the page-scope flag.  `exclusive_depth` is handled
#: explicitly below (precedence, not dict order).
_ALIASES = {
    "max_depth_root": "max_depth",
    "download_only_same_domain": "file_same_domain_only",
    "allowed_file_extensions": "allowed_file_exts",
}


def config_from_job(job: dict[str, Any]) -> CrawlConfig:
    """Schema-on-read unpack (worker_daemon.py:10-12,35-40): keep only
    keys that are CrawlConfig fields (after alias mapping), ignore the
    rest — unknown options never crash a job."""
    cfg: dict[str, Any] = {}
    for k, v in job.items():
        k = _ALIASES.get(k, k)
        if k in _CFG_FIELDS and v is not None:
            cfg[k] = tuple(v) if k == "allowed_file_exts" else v
    # exclusive_depth overrides max_depth_root when set (crawler_core.py:
    # 89-90: _depth_cap prefers it) — explicit precedence, never key order
    if job.get("exclusive_depth") is not None:
        cfg["max_depth"] = job["exclusive_depth"]
    if "root_domain" not in cfg:
        start = (job.get("start_urls") or [""])[0]
        # P1 semantics (utils.py:6-8), unifying api/main.py:40-41's
        # non-lowercased variant (SURVEY §2A P10)
        host = urlparse(start).netloc.lower()
        cfg["root_domain"] = host.removeprefix("www.")
    return CrawlConfig(**cfg)


def ingest_files(
    pages: DataFrame, cfg: CrawlConfig, fetch_fn: FetchFn
) -> DataFrame:
    """The file-document stream (crawler_core.py:96-135 _handle_file_url,
    batched): allowlisted file links discovered by the crawl, fetched
    politely and extracted in the same pass by the S4-S9 dispatch, whose
    size cap turns an oversize body into a skipped_too_large row
    (crawler_core.py:116).  Errors stay data (error column), exactly like
    download_extract_delete's contract; a failed download gives no row."""
    return fetch_frontier(
        file_links_of(pages, cfg),
        fetch_fn,
        file_parser(cfg.max_file_bytes),
        FILE_COLUMNS,
        per_domain=cfg.per_domain,
    ).drop("depth")


# ---------------------------------------------------------------------------
# Job front door + queue (api/main.py:44-78, db/schema.sql:56-61,
# worker_daemon.py:20-58) — the jobs table as an append-only status log.
# ---------------------------------------------------------------------------

#: the CreateJobRequest option surface (api/main.py:52-67) — everything
#: else in a request is dropped, mirroring the API model's strictness
_SUBMIT_OPTION_KEYS = (
    "single_page", "path_mode", "exclusive_depth", "max_depth_root",
    "max_pages_total", "concurrency", "download_files", "documents_only",
    "download_only_same_domain", "incremental", "allowed_file_extensions",
    "max_file_bytes", "agent_id", "project_id",
)

_JOBS_SCHEMA = (
    "job_id string, start_url string, root_domain string, config string, "
    "status string, error string, created_at timestamp"
)

#: serializes ALL jobs-log appends within this driver: concurrent Spark
#: write jobs against one parquet path stage under the same
#: {path}/_temporary/0 dir, and the first committer's cleanup deletes
#: the other job's staged files (a lost submit or status row).  Every
#: writer — HTTP submits, the worker's status transitions — appends one
#: tiny row, so the lock costs nothing; cross-PROCESS coordination is a
#: commit-protocol concern (use a log store with an atomic append
#: protocol when multiple drivers share one queue).
import threading as _threading

_LOG_LOCK = _threading.Lock()


def _append_job_row(
    spark: SparkSession,
    jobs_path: str,
    job_id: str,
    start_url: str | None,
    root_domain: str | None,
    config: str | None,
    status: str,
    error: str = "",
) -> None:
    from data_integration_system_spark.operators._common import local_rows_df

    df = local_rows_df(
        spark,
        [(job_id, start_url, root_domain, config, status, error,
          _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None))],
        _JOBS_SCHEMA,
    )
    with _LOG_LOCK:
        df.coalesce(1).write.mode("append").parquet(jobs_path)


def submit_job(spark: SparkSession, jobs_path: str, request: dict[str, Any]) -> str:
    """S15/the POST /jobs front door (api/main.py:44-78): validate the
    request, derive root_domain, pack the non-None options as the config
    JSON, append a PENDING row; returns the job_id.

    Postgres INSERT becomes an append to the jobs parquet log — status
    transitions are additional rows, not UPDATEs (the lake-native shape;
    `current_jobs` folds the log to present state).  root_domain uses P1
    semantics — lowercased netloc, leading www. stripped — unifying
    api/main.py:40-41's non-lowercased variant (SURVEY §2A P10)."""
    url = str(request.get("url", "") or "").strip()
    parts = urlparse(url)
    if parts.scheme not in ("http", "https") or not parts.netloc:
        raise ValueError(f"invalid start url: {url!r}")
    for k in ("exclusive_depth", "max_depth_root", "max_pages_total", "max_file_bytes"):
        v = request.get(k)
        # bool is an int subclass — reject it explicitly, or True would
        # validate and silently crawl with a budget/depth of 1
        if v is not None and (
            isinstance(v, bool) or not isinstance(v, int) or v < 0
        ):
            raise ValueError(f"{k} must be a non-negative integer, got {v!r}")
    job_id = str(uuid.uuid4())
    config = {
        k: request[k] for k in _SUBMIT_OPTION_KEYS if request.get(k) is not None
    }
    _append_job_row(
        spark, jobs_path, job_id, url,
        parts.netloc.lower().removeprefix("www."),
        json.dumps(config, sort_keys=True), "PENDING",
    )
    return job_id


def job_status_update(
    spark: SparkSession, jobs_path: str, job_id: str, status: str, error: str = ""
) -> None:
    """The worker's status write (worker_daemon.py:54-58) as an appended
    transition row."""
    _append_job_row(spark, jobs_path, job_id, None, None, None, status, error)


def _status_rank():
    """Lifecycle rank: status transitions are monotonic, so the present
    state is the highest-ranked row (created_at breaks rank ties).
    Built lazily — Column construction needs an active SparkContext and
    this module is imported by the registry before any session exists."""
    return (
        F.when(F.col("status") == "PENDING", 0)
        .when(F.col("status") == "RUNNING", 1)
        .otherwise(2)
    )


def fold_job_log(log: DataFrame) -> DataFrame:
    """Fold the append-only status log into present job state:
    submission fields from the earliest row, status/error from the
    lifecycle-latest row (rank, then created_at).  One aggregation —
    at scale a single map-side-combined shuffle on job_id; no per-key
    sort, no window."""
    order = F.struct(_status_rank().alias("r"), F.col("created_at").alias("t"))
    return log.groupBy("job_id").agg(
        F.min_by("start_url", "created_at").alias("start_url"),
        F.min_by("root_domain", "created_at").alias("root_domain"),
        F.min_by("config", "created_at").alias("config"),
        F.max_by("status", order).alias("status"),
        F.max_by("error", order).alias("error"),
        F.min("created_at").alias("created_at"),
    )


def current_jobs(spark: SparkSession, jobs_path: str) -> DataFrame:
    """Present state of every job in the parquet log — the GET /jobs
    read path (api/main.py:81-93) over the append-only log, read with its
    schema (no inference job; a missing log raises AnalysisException)."""
    return fold_job_log(spark.read.schema(_JOBS_SCHEMA).parquet(jobs_path))


@query(
    "current_jobs_fold",
    oracle="""
    WITH log AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS job_id,
             'https://example.com/' || o_orderkey AS start_url,
             'example.com' AS root_domain,
             '{"max_pages_total": ' || (o_orderkey % 10) || '}' AS config,
             'PENDING' AS status, '' AS error,
             o_orderdate AS created_at
      FROM orders
      UNION ALL
      SELECT CAST(o_orderkey AS VARCHAR), NULL, NULL, NULL,
             'RUNNING', '', o_orderdate + INTERVAL 1 HOUR
      FROM orders WHERE o_orderkey % 3 <> 0
      UNION ALL
      SELECT CAST(o_orderkey AS VARCHAR), NULL, NULL, NULL,
             CASE WHEN o_orderkey % 6 = 1 THEN 'DONE' ELSE 'FAILED' END,
             CASE WHEN o_orderkey % 6 = 1 THEN '' ELSE 'fetch failed' END,
             o_orderdate + INTERVAL 2 HOUR
      FROM orders WHERE o_orderkey % 6 IN (1, 4)
    ), ranked AS (
      SELECT *,
             CASE status WHEN 'PENDING' THEN 0 WHEN 'RUNNING' THEN 1
                  ELSE 2 END AS r,
             row_number() OVER (
               PARTITION BY job_id
               ORDER BY CASE status WHEN 'PENDING' THEN 0
                             WHEN 'RUNNING' THEN 1 ELSE 2 END DESC,
                        created_at DESC) AS rn_latest,
             row_number() OVER (PARTITION BY job_id ORDER BY created_at)
               AS rn_first
      FROM log
    )
    SELECT f.job_id, f.start_url, f.root_domain, f.config,
           l.status, l.error, f.created_at
    FROM ranked f JOIN ranked l
      ON f.job_id = l.job_id AND f.rn_first = 1 AND l.rn_latest = 1
    """,
)
def current_jobs_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The jobs-table present-state fold (S14/S15/T1's read side —
    api/main.py:81-93, worker_daemon.py:20-58) exercised by the driver
    gate on a deterministic fixture: every order becomes a submitted
    job (PENDING at o_orderdate), 2/3 start RUNNING an hour later, and
    1/3 reach a terminal DONE/FAILED state — then `fold_job_log` (the
    exact production aggregation behind GET /jobs) folds the replayed
    log into current state.

    Scale: the log is union-all of three pruned projections of one
    scan, and the fold is one map-side-combined shuffle on job_id —
    min_by/max_by, no per-key sort, no window (the oracle's
    row_number formulation is the slow shape this fold avoids)."""
    o = table(spark, sf_dir, "orders")
    jid = F.col("o_orderkey").cast("string").alias("job_id")
    ns = F.lit(None).cast("string")
    pending = o.select(
        jid,
        F.concat(F.lit("https://example.com/"), F.col("o_orderkey")).alias(
            "start_url"
        ),
        F.lit("example.com").alias("root_domain"),
        F.concat(
            F.lit('{"max_pages_total": '),
            (F.col("o_orderkey") % 10).cast("string"),
            F.lit("}"),
        ).alias("config"),
        F.lit("PENDING").alias("status"),
        F.lit("").alias("error"),
        F.col("o_orderdate").alias("created_at"),
    )
    running = o.filter(F.col("o_orderkey") % 3 != 0).select(
        jid,
        ns.alias("start_url"), ns.alias("root_domain"), ns.alias("config"),
        F.lit("RUNNING").alias("status"),
        F.lit("").alias("error"),
        (F.col("o_orderdate") + F.expr("INTERVAL 1 HOUR")).alias("created_at"),
    )
    done = F.col("o_orderkey") % 6 == 1
    terminal = o.filter((F.col("o_orderkey") % 6).isin(1, 4)).select(
        jid,
        ns.alias("start_url"), ns.alias("root_domain"), ns.alias("config"),
        F.when(done, "DONE").otherwise("FAILED").alias("status"),
        F.when(done, "").otherwise("fetch failed").alias("error"),
        (F.col("o_orderdate") + F.expr("INTERVAL 2 HOUR")).alias("created_at"),
    )
    return fold_job_log(pending.unionByName(running).unionByName(terminal))


def job_request_of(row) -> dict[str, Any]:
    """A jobs-table row -> the run_job request dict (the worker's
    config unpack, worker_daemon.py:35-40)."""
    req: dict[str, Any] = json.loads(row["config"]) if row["config"] else {}
    req["start_urls"] = [row["start_url"]]
    req.setdefault("root_domain", row["root_domain"])
    return req


def run_pending_jobs(
    spark: SparkSession,
    jobs_path: str,
    output_root: str,
    fetch_fn: FetchFn = default_http_fetch,
    limit: int = 10,
    max_workers: int = 4,
) -> list[dict[str, Any]]:
    """The worker-daemon poll loop body (worker_daemon.py:20-58), batch
    form: claim up to `limit` oldest PENDING jobs, run each
    (PENDING→RUNNING→DONE/FAILED transitions appended to the log), write
    outputs under ``{output_root}/{job_id}``; returns the reports in
    claim order.

    Claimed jobs run CONCURRENTLY (``max_workers`` driver threads,
    guide §2.6): each job is fixed-count orchestration — BFS rounds,
    snapshot writes, report collects — whose per-round Spark jobs leave
    most of the cluster idle, so overlapping jobs back-fills the tails
    (measured: the 8-job sf0.1 drain 35 s serial → see SCALE.md r18).
    Every job writes only its own ``{output_root}/{job_id}`` paths, so
    bodies are independent; LOG appends stay SERIALIZED (every append
    holds ``_LOG_LOCK``) because concurrent parquet appends into the ONE
    jobs-log dir would race on the shared ``_temporary`` staging dir.
    Crash semantics: each job's RUNNING row is appended just before its
    body starts, so a worker death leaves the started jobs RUNNING and
    the unstarted tail PENDING for the next claim — the reference's
    pick-one daemon shape (worker_daemon.py:31-38); stale RUNNING
    recovery remains the resubmission path.
    ``max_workers=1`` restores the strictly serial walk."""
    pending = (
        current_jobs(spark, jobs_path)
        .filter(F.col("status") == "PENDING")
        .orderBy("created_at", "job_id")
        .limit(limit)
        .collect()
    )
    if not pending:
        return []
    from concurrent.futures import ThreadPoolExecutor

    def run_one(row) -> dict[str, Any]:
        job_status_update(spark, jobs_path, row["job_id"], "RUNNING")
        report = run_job(
            spark, job_request_of(row),
            f"{output_root.rstrip('/')}/{row['job_id']}", fetch_fn,
        )
        job_status_update(
            spark, jobs_path, row["job_id"], report["status"], report["error"]
        )
        return {"job_id": row["job_id"]} | report

    if max_workers <= 1 or len(pending) == 1:
        return [run_one(row) for row in pending]
    with ThreadPoolExecutor(
        max_workers=min(max_workers, len(pending))
    ) as pool:
        return list(pool.map(run_one, pending))


def report_counts(rows: DataFrame) -> tuple[int, dict[str, int], dict[str, int]]:
    """Page total, top-5 domains by (count desc, domain asc) and, when
    ``rows`` carries ``STATUS_COL``, upsert outcomes, from ONE aggregation;
    ``count`` combines map-side, so a crawl's skewed domains need no salt."""
    keys = ["domain", STATUS_COL] if STATUS_COL in rows.columns else ["domain"]
    per_domain: Counter[str] = Counter()
    upserts = {"INSERTED": 0, "SKIPPED": 0, "UPSERTED": 0}
    for r in rows.groupBy(*keys).count().collect():
        per_domain[r["domain"]] += r["count"]
        if len(keys) == 2:
            upserts[r[STATUS_COL]] += r["count"]
    top = sorted(per_domain.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    return sum(per_domain.values()), dict(top), upserts


def run_job(
    spark: SparkSession,
    job: dict[str, Any],
    output_path: str,
    fetch_fn: FetchFn = default_http_fetch,
) -> dict[str, Any]:
    """Execute one crawl job end-to-end: unpack config, run the BFS,
    ingest discovered file documents (download_files), write the pages
    table (unless documents_only — pages are still crawled for link
    discovery, crawler_core.py:217), return the DONE/FAILED report (the
    worker's status write, worker_daemon.py:54-58, as a value).

    The report's counts are one aggregation (`report_counts`) that runs
    AFTER the snapshot commit, so a failure there reports FAILED over a
    committed version; a retry converges, because the re-crawl is
    incremental."""
    try:
        cfg = config_from_job(job)
        pages = crawl(spark, list(job.get("start_urls", [])), cfg, fetch_fn)
        # The BFS rounds' plans (and earlier jobs') pin their broadcast
        # relations (a whole memory page each: 64 MB under the default
        # local heap) until the context cleaner sees the plan go, and
        # py4j handles sit in reference cycles (JavaObject <-> its cached
        # JavaMembers), so only Python's cycle collector lets them go.
        # Collecting here frees them while the write below runs, not
        # whenever the collector next gets to them.
        gc.collect()
        n_files = 0
        if cfg.download_files:
            docs = ingest_files(pages, cfg, fetch_fn).localCheckpoint()
            n_files = docs.count()
            # written even when empty: the _files table is a snapshot of
            # THIS crawl's discoveries — leaving a previous run's files
            # behind would present stale documents as current
            docs.write.mode("overwrite").parquet(
                output_path.rstrip("/") + "_files"
            )
        # what the report aggregates, once the commit (if any) is done
        counted = pages
        if not cfg.documents_only:
            new_pages = pages.drop("links")
            if cfg.incremental and snapshot_exists(spark, output_path):
                # re-crawl against an existing store: classify by content
                # hash (the reference's load_indexes_if_any + hash-skip,
                # crawler_core.py:258 / filesystem_store.py:112-114), keep
                # the new version of changed pages, keep untouched pages
                base = current_version(spark, output_path)
                current = read_current(spark, output_path)
                # copy-on-write merge: reads the CURRENT snapshot, writes
                # the NEXT one — no localCheckpoint pinning, no window
                # where the only copy is gone (snapshots.write_snapshot
                # swaps the pointer only after the write commits)
                merged = current.join(
                    new_pages.select("page_id"), "page_id", "left_anti"
                ).unionByName(new_pages)
                # expect_current: lost-update guard — this merge is only
                # valid against the exact snapshot it read
                write_snapshot(
                    merged,
                    output_path,
                    partition_by="domain",
                    expect_current=base,
                )
                # classified against the base version the merge read: its
                # files stay in place after the pointer swap
                counted = classify_upsert(
                    new_pages, current, key="page_id", hash_col="content_hash"
                )
            else:
                write_snapshot(new_pages, output_path, partition_by="domain")
                counted = pages.withColumn(STATUS_COL, F.lit("INSERTED"))
        n, domains, upserts = report_counts(counted)
        return {
            "status": "DONE",
            "pages": n,
            "files": n_files,
            "domains": domains,
            "upserts": upserts,
            "output": output_path,
            "error": "",
        }
    except Exception as e:  # noqa: BLE001 — job errors are data (T-family)
        return {
            "status": "FAILED",
            "pages": 0,
            "files": 0,
            "domains": {},
            "upserts": {"INSERTED": 0, "SKIPPED": 0, "UPSERTED": 0},
            "output": output_path,
            "error": str(e),
        }

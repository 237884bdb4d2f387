"""The BFS crawl loop: the reference's dataflow engine, generation-batched.

`Crawler.run()` (/root/reference/crawler/crawler_core.py:253-294) is an
asyncio queue drained by 8 worker tasks; here it becomes a driver-side
iteration over frontier *generations* (SURVEY §3.4):

    frontier₀   = seeds (depth 0)
    genᵢ        = scope-filter(frontierᵢ) − visited
    fetchedᵢ    = fetch-and-parse(genᵢ)          one row per url
    pagesᵢ      = fetchedᵢ where the body was HTML
    retryᵢ      = fetchedᵢ where the fetch failed and retry < max_retries
    visitedᵢ₊₁  = visitedᵢ ∪ (fetchedᵢ − retryᵢ)
    frontierᵢ₊₁ = links(pagesᵢ) at depth i+1, deduped, ∪ retryᵢ (retry+1)
    stop when frontier empty, depth cap hit, or page budget spent

Each arrow is a DataFrame transformation.  Per generation, `gen` is
localCheckpoint()-ed and counted, and `fetched` is localCheckpoint()-ed
once; pages, retries and the visited increment are filters of that one
materialization.  `gen` is disjoint from `visited` and has one row per
url, so `visited` grows by a plain union; its lineage, like the pages
union's, is cut every `_CHECKPOINT_EVERY` generations (SURVEY §7 'BFS
loop at scale').  `max_pages_total` is ENFORCED — the reference declared
it but never read it (models.py:23, SURVEY §6).

Gate order preserves the reference's manual pushdown (crawler_core.py:
157-167: cheap predicates before the expensive fetch — which Catalyst
can't reorder across the Python fetch boundary, so the order here is
load-bearing exactly like it was in the reference).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_system_spark.functions.hashing import content_hash, url_hash
from data_integration_system_spark.functions.urls import (
    domain_of,
    ext_of,
    is_blocked_ext,
    path_of,
)
from data_integration_system_spark.pipeline.extract import PAGE_COLUMNS, parse_page
from data_integration_system_spark.pipeline.fetch import FetchFn, fetch_frontier


@dataclass
class CrawlConfig:
    """Mirror of CrawlJob (/root/reference/models.py:5-34), minus the
    identity fields the engine doesn't need."""

    root_domain: str
    max_depth: int = 10            # max_depth_root, models.py:22
    max_pages_total: int = 20_000  # models.py:23 — enforced here (dead in ref)
    single_page: bool = False      # models.py:15
    path_mode: bool = False        # models.py:16
    base_path: str = ""            # crawler_core.py:74-79
    same_domain_only: bool = True  # F2 page scope, crawler_core.py:81-83
    #: F8 FILE-download domain gate (crawler_core.py:107-109) — the
    #: reference's `download_only_same_domain` relaxes ONLY this; page
    #: crawl scope (_in_scope) is unconditionally same-domain there.
    file_same_domain_only: bool = True  # models.py:17
    allowed_file_exts: tuple[str, ...] = (
        ".pdf", ".doc", ".docx", ".xls", ".xlsx", ".txt",
    )  # models.py:26-32
    download_files: bool = True    # models.py:16 / crawler_core.py:96
    documents_only: bool = False   # models.py:10 / crawler_core.py:217:
    #   pages are still CRAWLED for link discovery, just not stored
    max_file_bytes: int = 25_000_000  # models.py:34 / crawler_core.py:116
    #: failed fetches re-enqueue with retry+1 up to this cap, then count
    #: as visited — url_frontier's retry_count/state machine
    #: (db/schema.sql:38-39) in dataflow form
    max_retries: int = 2
    incremental: bool = True       # models.py:18 / crawler_core.py:258
    per_domain: int = 2            # http_fetcher.py:23


#: generations between lineage cuts of the in-memory pages and visited
_CHECKPOINT_EVERY = 4


def scope_filter(frontier: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """F1-F5 gates (crawler_core.py:15-24,81-93,157-167) as one composed
    predicate over the frontier.  All column math — runs before fetch."""
    df = frontier.filter(~is_blocked_ext(F.col("url")))  # F1
    if cfg.same_domain_only:
        df = df.filter(domain_of(F.col("url")) == F.lit(cfg.root_domain))  # F2
    if cfg.path_mode and cfg.base_path:
        base = cfg.base_path.rstrip("/") + "/"  # crawler_core.py:74-79
        df = df.filter(
            path_of(F.col("url")).startswith(base)
            | (path_of(F.col("url")) == cfg.base_path.rstrip("/"))
        )  # F3
    cap = 0 if cfg.single_page else cfg.max_depth  # F5 / F4
    return df.filter(F.col("depth") <= cap)


PAGES_SCHEMA = (
    "page_id string, url string, domain string, depth long, "
    "text string, links array<string>, content_hash string, text_len long"
)

#: the only entries a crawl checkpoint dir may contain — the guard list
#: for the fresh-run recursive delete (anything else means the path is
#: not ours to wipe)
_CHECKPOINT_LAYOUT = {"pages", "frontier", "visited", "state"}


def _committed_generations(spark: SparkSession, checkpoint_dir: str) -> list[int]:
    """Generations with a committed state marker, ascending.  Hadoop FS
    API (fsutil) so local/HDFS/s3a all work; the driver-side listing is
    O(#gens), never O(#urls)."""
    from data_integration_system_spark.pipeline import fsutil

    gens = []
    for name in fsutil.child_names(spark, f"{checkpoint_dir}/state"):
        if name.startswith("gen=") and fsutil.exists(
            spark, f"{checkpoint_dir}/state/{name}/_SUCCESS"
        ):
            gens.append(int(name.removeprefix("gen=")))
    return sorted(gens)


def crawl(
    spark: SparkSession,
    seeds: list[str],
    cfg: CrawlConfig,
    fetch_fn: FetchFn,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """Run the BFS to completion; returns the pages table:
    (page_id, url, domain, depth, text, links, content_hash, text_len).

    Column semantics match PageRecord (models.py:43-57): page_id =
    sha1(url) (utils.py:11-12), content_hash = whitespace-normalized
    sha256 (utils.py:15-20).

    Durable frontier (url_frontier, db/schema.sql:30-44, re-expressed
    as generation-versioned parquet): with `checkpoint_dir`, each
    generation g commits pages/gen=g, then frontier/gen=g+1,
    visited/gen=g+1, and finally state/gen=g+1 — the state write is the
    commit point (its _SUCCESS marker is the reference's
    'queued'→'done' transition for the whole generation).  A killed job
    rerun with `resume=True` restarts from the latest committed
    generation; a partially-written generation is overwritten
    idempotently (same semantics as the reference's retry of 'processing'
    rows whose lock expired).  Pages accumulate ON DISK, not as driver
    lineage — at 100 TB the result is a parquet union, never a
    1000-generation in-memory plan."""
    from data_integration_system_spark.operators._common import local_rows_df

    frontier = (
        local_rows_df(
            spark, [(u, 0, 0) for u in seeds], "url string, depth long, retry long"
        )
        .dropDuplicates(["url"])  # D1 enqueue-dedup, crawler_core.py:263-267
    )
    # a local relation, not spark.createDataFrame([]): that is a Python
    # RDD whose empty partitions each start a Python task in every plan
    # that reads visited until its next lineage cut
    visited = local_rows_df(spark, [], "url string")
    pages: DataFrame | None = None
    budget = cfg.max_pages_total
    generation = 0

    if checkpoint_dir and resume:
        done = _committed_generations(spark, checkpoint_dir)
        if done:
            generation = done[-1]
            frontier = spark.read.parquet(f"{checkpoint_dir}/frontier/gen={generation}")
            visited = spark.read.parquet(f"{checkpoint_dir}/visited/gen={generation}")
            budget = spark.read.parquet(
                f"{checkpoint_dir}/state/gen={generation}"
            ).head()["budget"]
    elif checkpoint_dir:
        # FRESH run into a reused checkpoint_dir: clear previous commits,
        # or the final union would return the dead crawl's generations
        # beyond the ones this run rewrites.  Recursive delete of a
        # user-supplied path is the one destructive call in this module,
        # so refuse anything that is not recognizably OUR layout — a
        # mistyped data/output dir must fail loudly, not be wiped.
        from data_integration_system_spark.pipeline import fsutil

        children = set(fsutil.child_names(spark, checkpoint_dir))
        if children - _CHECKPOINT_LAYOUT:
            raise ValueError(
                f"refusing to clear {checkpoint_dir!r}: it does not look "
                f"like a crawl checkpoint (unexpected entries "
                f"{sorted(children - _CHECKPOINT_LAYOUT)}); pass an empty "
                "or crawl-checkpoint directory"
            )
        fsutil.delete_tree(spark, checkpoint_dir)

    while budget > 0:
        gen = (
            scope_filter(frontier, cfg)
            .join(visited, "url", "left_anti")  # D2/F6 visited subtraction
            # one row per url: shallowest depth wins; max(retry) so a
            # link rediscovery can't reset a URL's retry budget
            .groupBy("url")
            .agg(F.min("depth").alias("depth"), F.max("retry").alias("retry"))
            .limit(budget)  # max_pages_total, enforced (ref never did)
            .localCheckpoint()  # cut lineage + freeze the generation
        )
        n = gen.count()
        if n == 0:
            break
        budget -= n  # attempts consume budget: a crash-looping site
        # cannot extend the crawl past max_pages_total

        # fetch and parse ONCE, then split the one materialization into
        # outcomes (url_frontier's queued->done/failed state machine,
        # db/schema.sql:37-39)
        fetched = (
            fetch_frontier(
                gen, fetch_fn, parse_page, PAGE_COLUMNS, per_domain=cfg.per_domain
            )
            .select(
                url_hash("url").alias("page_id"),
                "url",
                domain_of(F.col("url")).alias("domain"),
                "depth",
                "text",
                "links",
                content_hash(F.col("text")).alias("content_hash"),
                F.length("text").cast("long").alias("text_len"),
                "retry",
                "fetched",
            )
            .localCheckpoint()
        )
        retrying = ~F.col("fetched") & (F.col("retry") < cfg.max_retries)
        retryable = fetched.filter(retrying).select(
            "url", "depth", (F.col("retry") + 1).alias("retry")
        )
        # visited = everything attempted EXCEPT urls that will retry
        visited = visited.unionByName(fetched.filter(~retrying).select("url"))
        # pages: HTML answers only (F10 dispatch in parse_page)
        gen_pages = fetched.filter(F.col("text").isNotNull()).drop("retry", "fetched")

        # EXPAND (crawler_core.py:237-241): next generation = discovered
        # links at depth+1 (retry 0) + failed urls re-enqueued with
        # retry+1; file links are split out by extension (A3).
        frontier = (
            gen_pages.select(
                F.explode("links").alias("url"),
                (F.col("depth") + 1).alias("depth"),
                F.lit(0).alias("retry"),
            )
            .filter(~ext_of(F.col("url")).isin(list(cfg.allowed_file_exts)))
            .dropDuplicates(["url"])
            .unionByName(retryable)
        )

        if checkpoint_dir:
            # generation commit protocol: pages, next frontier, visited,
            # then state LAST — its _SUCCESS marker is the commit point
            gen_pages.write.mode("overwrite").parquet(
                f"{checkpoint_dir}/pages/gen={generation}"
            )
            frontier.write.mode("overwrite").parquet(
                f"{checkpoint_dir}/frontier/gen={generation + 1}"
            )
            visited.write.mode("overwrite").parquet(
                f"{checkpoint_dir}/visited/gen={generation + 1}"
            )
            local_rows_df(
                spark, [(generation + 1, budget)], "generation long, budget long"
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{checkpoint_dir}/state/gen={generation + 1}"
            )
            # re-read from the committed files: frontier/visited lineage
            # restarts from disk, exactly as a resumed job would see them
            frontier = spark.read.parquet(f"{checkpoint_dir}/frontier/gen={generation + 1}")
            visited = spark.read.parquet(f"{checkpoint_dir}/visited/gen={generation + 1}")
        else:
            pages = gen_pages if pages is None else pages.unionByName(gen_pages)
            if generation % _CHECKPOINT_EVERY == _CHECKPOINT_EVERY - 1:
                pages = pages.localCheckpoint()
                visited = visited.localCheckpoint()
        generation += 1

    if checkpoint_dir:
        done = _committed_generations(spark, checkpoint_dir)
        if not done:
            return spark.createDataFrame([], PAGES_SCHEMA)
        # pages/gen=g is committed by state/gen=g+1
        return spark.read.parquet(
            *[f"{checkpoint_dir}/pages/gen={g - 1}" for g in done]
        )
    if pages is None:
        return spark.createDataFrame([], PAGES_SCHEMA)
    return pages


def file_links_of(pages: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """The A3 file-stream split (crawler_core.py:182-193): discovered
    links whose extension is on the allowlist (F7), same-domain filtered
    when configured (F8)."""
    links = pages.select(F.explode("links").alias("url"), "depth")
    df = links.filter(ext_of(F.col("url")).isin(list(cfg.allowed_file_exts)))
    if cfg.file_same_domain_only:
        df = df.filter(domain_of(F.col("url")) == F.lit(cfg.root_domain))
    return df.dropDuplicates(["url"])  # D3

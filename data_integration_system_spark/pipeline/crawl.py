"""The BFS crawl loop: the reference's dataflow engine, generation-batched.

`Crawler.run()` (/root/reference/crawler/crawler_core.py:253-294) is an
asyncio queue drained by 8 worker tasks; here it becomes a driver-side
iteration over frontier *generations* (SURVEY §3.4):

    frontier₀   = seeds (depth 0)
    genᵢ        = scope-filter(frontierᵢ) − visited, one row per url
                  (min depth, max retry), the first `budget` by (depth, url)
    fetchedᵢ    = fetch-and-parse(genᵢ)          one row per url
    pagesᵢ      = fetchedᵢ where the body was HTML
    retryᵢ      = fetchedᵢ where the fetch failed and retry < max_retries
    visitedᵢ₊₁  = visitedᵢ ∪ (fetchedᵢ − retryᵢ)
    frontierᵢ₊₁ = links(pagesᵢ) at depth i+1 ∪ retryᵢ (retry+1)
    stop when frontier empty, depth cap hit, or page budget spent

`max_pages_total` is ENFORCED — the reference declared it but never read
it (models.py:23, SURVEY §6) — and every attempt spends it.  `crawl`
runs these generations on two paths, chosen by what the crawl has
done so far, not by its declared budget:

* Driver path: every crawl without a `checkpoint_dir` starts here.  The
  frontier is a Python list and `visited` a set.  Each generation is
  filtered by `scope_predicate`, built once per crawl, over a local
  relation (no Spark job), de-duplicated and cut in Python, and fetched
  and parsed by `fetch.fetch_batch` on the driver; the pages become one
  local relation.  A crawl that ends within `_LOCAL_CRAWL_PAGES` fetch
  attempts costs the Spark jobs of its consumers, not ~10 per
  generation, whatever its budget.
* Distributed path: a crawl whose next generation would take the
  driver past `_LOCAL_CRAWL_PAGES` attempts hands its frontier and
  visited set over as local relations and continues here, so the
  driver never holds more than that many pages and urls.  Each arrow is
  a DataFrame transformation.  Per generation, `gen` is
  localCheckpoint()-ed and counted, and `fetched` is
  localCheckpoint()-ed once; pages, retries and the visited increment
  are filters of that one materialization.  `gen` is disjoint from
  `visited` and has one row per url, so `visited` grows by a plain
  union; its lineage, like the pages union's, is cut every
  `_CHECKPOINT_EVERY` generations (SURVEY §7 'BFS loop at scale').
  `checkpoint_dir` crawls run here from the start: their generations
  are committed to parquet as they finish, which is what lets
  `resume=True` continue a killed crawl, and a driver generation keeps
  nothing a restarted process could resume from.

Both paths share `scope_predicate`, `fetch_batch`, `parse_page` and the
page projection, so they return the same pages table (a test runs every
crawl scenario on the driver, across the handoff and on the distributed
loop alone, and compares them).

Gate order preserves the reference's manual pushdown (crawler_core.py:
157-167: cheap predicates before the expensive fetch — which Catalyst
can't reorder across the Python fetch boundary, so the order here is
load-bearing exactly like it was in the reference).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_integration_system_spark.functions.hashing import content_hash, url_hash
from data_integration_system_spark.functions.urls import (
    domain_of,
    ext_of,
    is_blocked_ext,
    path_of,
)
from data_integration_system_spark.operators._common import local_rows_df
from data_integration_system_spark.pipeline.extract import (
    PAGE_COLUMNS,
    _url_ext,
    parse_page,
)
from data_integration_system_spark.pipeline.fetch import (
    FetchFn,
    fetch_batch,
    fetch_frontier,
)


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

#: fetch attempts a crawl makes on the driver before it continues on the
#: distributed loop (see the module docstring); it bounds the pages and
#: urls the driver holds: 1,000 attempts raised its peak RSS by ~32 MB
_LOCAL_CRAWL_PAGES = 1_000

FRONTIER_SCHEMA = "url string, depth long, retry long"


def scope_predicate(cfg: CrawlConfig) -> Column:
    """F1-F5 gates (crawler_core.py:15-24,81-93,157-167) as one Column
    over a frontier's url and depth.  All column math — runs before
    fetch.  Each Column is a py4j round trip: build it once per crawl."""
    pred = ~is_blocked_ext(F.col("url"))  # F1
    if cfg.same_domain_only:
        pred &= domain_of(F.col("url")) == F.lit(cfg.root_domain)  # F2
    if cfg.path_mode and cfg.base_path:
        base = cfg.base_path.rstrip("/") + "/"  # crawler_core.py:74-79
        pred &= path_of(F.col("url")).startswith(base) | (
            path_of(F.col("url")) == cfg.base_path.rstrip("/")
        )  # F3
    cap = 0 if cfg.single_page else cfg.max_depth  # F5 / F4
    return pred & (F.col("depth") <= cap)


def scope_filter(frontier: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """The frontier rows inside the crawl's scope (`scope_predicate`)."""
    return frontier.filter(scope_predicate(cfg))


PAGES_SCHEMA = (
    "page_id string, url string, domain string, depth long, "
    "text string, links array<string>, content_hash string, text_len long"
)


def _page_columns(df: DataFrame, *extra: str) -> DataFrame:
    """The pages table's columns (PAGES_SCHEMA) over rows holding url,
    depth, text and links, then `extra`."""
    return df.select(
        url_hash("url").alias("page_id"),
        "url",
        domain_of(F.col("url")).alias("domain"),
        "depth",
        "text",
        "links",
        content_hash(F.col("text")).alias("content_hash"),
        F.length("text").cast("long").alias("text_len"),
        *extra,
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
    if checkpoint_dir is None:
        # every crawl starts on the driver; one that outgrows it continues
        # on the distributed loop from the driver's state
        pages, handoff = _crawl_on_driver(spark, seeds, cfg, fetch_fn)
        if handoff is None:
            return pages
        frontier, visited, budget, generation = handoff
    else:
        frontier = (
            local_rows_df(spark, [(u, 0, 0) for u in seeds], FRONTIER_SCHEMA)
            .dropDuplicates(["url"])  # D1 enqueue-dedup, crawler_core.py:263-267
        )
        # a local relation, not an empty createDataFrame: that is a Python
        # RDD whose empty partitions each start a Python task in every
        # plan that reads visited until its next lineage cut
        visited = local_rows_df(spark, [], "url string")
        budget = cfg.max_pages_total
        generation = 0
        if resume:
            done = _committed_generations(spark, checkpoint_dir)
            if done:
                generation = done[-1]
                frontier = spark.read.parquet(
                    f"{checkpoint_dir}/frontier/gen={generation}"
                )
                visited = spark.read.parquet(
                    f"{checkpoint_dir}/visited/gen={generation}"
                )
                budget = spark.read.parquet(
                    f"{checkpoint_dir}/state/gen={generation}"
                ).head()["budget"]
        else:
            # FRESH run into a reused checkpoint_dir: clear previous
            # commits, or the final union would return the dead crawl's
            # generations beyond the ones this run rewrites.  Recursive
            # delete of a user-supplied path is the one destructive call
            # in this module, so refuse anything that is not recognizably
            # OUR layout — a mistyped data/output dir must fail loudly,
            # not be wiped.
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
            # max_pages_total, enforced (ref never did); shallowest
            # first, so both paths keep the same urls
            .orderBy("depth", "url")
            .limit(budget)
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
        fetched = _page_columns(
            fetch_frontier(
                gen, fetch_fn, parse_page, PAGE_COLUMNS, per_domain=cfg.per_domain
            ),
            "retry",
            "fetched",
        ).localCheckpoint()
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
        # retry+1; file links are split out by extension (A3).  One row
        # per url, as every frontier has: the shallowest depth wins
        # (dropping duplicates would keep any one, and the depth cap
        # could then drop the url), and max(retry) so a link
        # rediscovery can't reset a url's retry budget.
        frontier = (
            gen_pages.select(
                F.explode("links").alias("url"),
                (F.col("depth") + 1).alias("depth"),
                F.lit(0).alias("retry"),
            )
            .filter(~ext_of(F.col("url")).isin(list(cfg.allowed_file_exts)))
            .unionByName(retryable)
            .groupBy("url")
            .agg(F.min("depth").alias("depth"), F.max("retry").alias("retry"))
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
            pages = pages.unionByName(gen_pages)
            if generation % _CHECKPOINT_EVERY == _CHECKPOINT_EVERY - 1:
                pages = pages.localCheckpoint()
                visited = visited.localCheckpoint()
        generation += 1

    if checkpoint_dir:
        done = _committed_generations(spark, checkpoint_dir)
        if not done:
            return local_rows_df(spark, [], PAGES_SCHEMA)
        # pages/gen=g is committed by state/gen=g+1
        return spark.read.parquet(
            *[f"{checkpoint_dir}/pages/gen={g - 1}" for g in done]
        )
    return pages


def _crawl_on_driver(
    spark: SparkSession, seeds: list[str], cfg: CrawlConfig, fetch_fn: FetchFn
) -> tuple[DataFrame, tuple | None]:
    """`crawl`'s driver path: the same generations as the distributed
    loop, held in Python (the reference's queue and visited set,
    crawler_core.py:253-294), fetched and parsed by `fetch_batch`.

    Returns the pages crawled and, when the next generation would take
    the driver past `_LOCAL_CRAWL_PAGES` attempts, the distributed
    loop's starting state instead of fetching it: (frontier, visited,
    budget, generation), the frontier and visited set as local
    relations.  Otherwise the handoff is None and the pages are the
    crawl's result."""
    frontier = [(u, 0, 0) for u in seeds]
    visited: set[str] = set()
    pages: list[tuple] = []
    names = StructType.fromDDL(f"{FRONTIER_SCHEMA}, {PAGE_COLUMNS}").fieldNames()
    file_exts = set(cfg.allowed_file_exts)
    budget = cfg.max_pages_total
    generation = 0
    handoff = None
    # F1-F5 by the same predicate; a filter over a local relation is
    # folded into it by the optimizer, so collect() runs no job
    in_scope = scope_predicate(cfg)
    while budget > 0 and frontier:
        fresh = [r for r in frontier if r[0] not in visited]
        scoped = local_rows_df(spark, fresh, FRONTIER_SCHEMA).filter(in_scope).collect()
        # one row per url: shallowest depth wins; max(retry) so a link
        # rediscovery can't reset a url's retry budget
        best: dict[str, tuple[int, int]] = {}
        for url, depth, retry in scoped:
            d, r = best.get(url, (depth, retry))
            best[url] = (min(d, depth), max(r, retry))
        gen = sorted((d, u, r) for u, (d, r) in best.items())[:budget]
        if not gen:
            break
        if cfg.max_pages_total - budget + len(gen) > _LOCAL_CRAWL_PAGES:
            handoff = (
                local_rows_df(
                    spark, [(u, d, r) for u, (d, r) in best.items()], FRONTIER_SCHEMA
                ),
                local_rows_df(spark, [(u,) for u in visited], "url string"),
                budget,
                generation,
            )
            break
        budget -= len(gen)
        fetched = fetch_batch(
            pd.DataFrame([(u, d, r) for d, u, r in gen], columns=names[:3]),
            fetch_fn,
            parse_page,
            names,
            cfg.per_domain,
        )
        frontier = []
        for url, depth, retry, ok, text, links in fetched.itertuples(index=False):
            if not ok and retry < cfg.max_retries:
                frontier.append((url, depth, retry + 1))
                continue
            visited.add(url)
            if text is not None:
                pages.append((url, depth, text, links))
                frontier += [
                    (link, depth + 1, 0) for link in links
                    if _url_ext(link) not in file_exts
                ]
        generation += 1
    pages_df = _page_columns(
        local_rows_df(
            spark, pages, "url string, depth long, text string, links array<string>"
        )
    )
    return pages_df, handoff


def file_links_of(pages: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """The A3 file-stream split (crawler_core.py:182-193): discovered
    links whose extension is on the allowlist (F7), same-domain filtered
    when configured (F8)."""
    links = pages.select(F.explode("links").alias("url"), "depth")
    df = links.filter(ext_of(F.col("url")).isin(list(cfg.allowed_file_exts)))
    if cfg.file_same_domain_only:
        df = df.filter(domain_of(F.col("url")) == F.lit(cfg.root_domain))
    return df.dropDuplicates(["url"])  # D3

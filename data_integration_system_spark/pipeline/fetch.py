"""Fetch-and-parse stage: frontier rows → the same rows plus parsed columns.

Re-expresses S1 (HTTP GET, crawler/http_fetcher.py:40-56) + S2 (per-domain
politeness, http_fetcher.py:7-15,48) as a `mapInPandas` stage, and runs
the caller's per-URL parse in the same pass, as the reference parses each
URL inside the task that fetched it (crawler_core.py:178-193):

* The frontier is `repartition("domain")`-ed so each domain's URLs land
  together; `fetch_batch` fetches each batch on a bounded thread pool
  whose per-domain semaphores reproduce the reference's
  ≤2-in-flight-per-domain rule.  The crawl's driver path calls the same
  function on a whole generation.
  Catalyst cannot see a politeness constraint (SURVEY §4.2) — it lives
  here, isolated from all query paths.  The parse runs after the
  semaphore is released, so parsing never holds a politeness slot.
* Bodies never leave this Python pass: the parse turns each
  `(url, body, content_type)` into the caller's columns, so only
  text, links and error markers cross back into the JVM.
* Errors are data: a failed fetch reaches the parse as `body=None`, the
  analog of http_fetcher.py:55-56's `(None, "")` return; the parse
  decides whether it becomes a row.
* The fetch callable is injectable so tests run a synthetic in-memory
  site; the default uses stdlib urllib with the reference's 20 s timeout.

At scale: fan-out = partitions × pool size, bounded per domain; a skewed
domain (one giant site) throttles only its own partition.
"""

from __future__ import annotations

import re
import threading
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_integration_system_spark.functions.urls import _HOST_RE, domain_of

#: fetch(url) -> (body bytes | None, content_type)
FetchFn = Callable[[str], "tuple[bytes | None, str]"]

#: parse(url, body | None, content_type) -> the values of the caller's
#: columns, or None for no output row
ParseFn = Callable[[str, "bytes | None", str], "tuple | None"]

#: fetch threads per batch
_POOL_SIZE = 8

_HOST = re.compile(_HOST_RE)


def default_http_fetch(url: str, timeout_s: int = 20) -> tuple[bytes | None, str]:
    """Stdlib GET with the reference's timeout (http_fetcher.py:22,25);
    redirects followed, errors → (None, "")."""
    import urllib.request

    try:
        req = urllib.request.Request(url, headers={"User-Agent": "dis-spark/1.0"})
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:  # noqa: S310
            return resp.read(), resp.headers.get("Content-Type", "") or ""
    except Exception:
        return None, ""


def _politeness_key(url: str) -> str:
    """Python twin of functions.urls.domain_of, the key of a URL's
    politeness slot: lowercased host, port kept, leading www. stripped.
    Keying on anything else (the raw host, or a split on "/" that keeps
    a path-less URL's ?query) would give one site several semaphores and
    multiply its in-flight budget."""
    m = _HOST.match(url.lower())
    return m.group(1).removeprefix("www.") if m else ""


def fetch_batch(
    pdf: pd.DataFrame,
    fetch_fn: FetchFn,
    parse: ParseFn,
    names: list[str],
    per_domain: int,
) -> pd.DataFrame:
    """Fetch and parse one batch of frontier rows on a bounded thread
    pool, at most `per_domain` fetches in flight per domain (the
    reference's HttpFetcher(per_domain=2), http_fetcher.py:7-15,23).
    Returns each row followed by what `parse` returned for it, under
    `names`; rows it returns None for are dropped.  The parse runs after
    the politeness slot is released, so parsing never holds one.

    The one fetch implementation: `fetch_frontier`'s pass runs it per
    Arrow batch, and the crawl's driver path runs it per generation."""
    from concurrent.futures import ThreadPoolExecutor

    urls = list(pdf["url"])
    keys = pd.Series([_politeness_key(u) for u in urls])
    # every semaphore exists before the first fetch: threads creating
    # them on demand could race and give one domain two
    sems = {k: threading.Semaphore(per_domain) for k in keys}
    # submit round-robin over domains (each domain's first url, then each
    # one's second, ...): in batch order, a run of one domain's urls
    # would fill the pool with threads waiting on its semaphore while
    # the other domains' urls sit idle behind them
    order = keys.groupby(keys).cumcount().sort_values(kind="stable").index

    def one(i: int) -> tuple | None:
        with sems[keys[i]]:
            body, content_type = fetch_fn(urls[i])
        return parse(urls[i], body, content_type)

    parsed: list[tuple | None] = [None] * len(urls)
    with ThreadPoolExecutor(max_workers=_POOL_SIZE) as pool:
        for i, out in zip(order, pool.map(one, order)):
            parsed[i] = out
    rows = [
        (*row, *out)
        for row, out in zip(pdf.itertuples(index=False), parsed)
        if out is not None
    ]
    return pd.DataFrame(rows, columns=names)


def fetch_frontier(
    frontier: DataFrame,
    fetch_fn: FetchFn,
    parse: ParseFn,
    columns: str,
    per_domain: int = 2,
) -> DataFrame:
    """Frontier rows (a `url` column among them) → each row followed by
    `columns` (a DDL string), the values `parse(url, body, content_type)`
    returns for it; rows it returns None for are dropped.  Partitioned
    by domain, each Arrow batch fetched and parsed by `fetch_batch`."""
    schema = StructType(frontier.schema.fields + StructType.fromDDL(columns).fields)
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = fetch_batch(pdf, fetch_fn, parse, names, per_domain)
            if len(out):
                yield out

    return frontier.repartition(domain_of(F.col("url"))).mapInPandas(run, schema)

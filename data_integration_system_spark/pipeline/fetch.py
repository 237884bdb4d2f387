"""Fetch-and-parse stage: frontier rows → the same rows plus parsed columns.

Re-expresses S1 (HTTP GET, crawler/http_fetcher.py:40-56) + S2 (per-domain
politeness, http_fetcher.py:7-15,48) as a `mapInPandas` stage, and runs
the caller's per-URL parse in the same pass, as the reference parses each
URL inside the task that fetched it (crawler_core.py:178-193):

* The frontier is `repartition("domain")`-ed so each domain's URLs land
  together; inside a partition a bounded thread pool + per-domain
  semaphores reproduce the reference's ≤2-in-flight-per-domain rule.
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

import threading
from collections import defaultdict
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_integration_system_spark.functions.urls import domain_of

#: fetch(url) -> (body bytes | None, content_type)
FetchFn = Callable[[str], "tuple[bytes | None, str]"]

#: parse(url, body | None, content_type) -> the values of the caller's
#: columns, or None for no output row
ParseFn = Callable[[str, "bytes | None", str], "tuple | None"]

#: fetch threads per partition
_POOL_SIZE = 8


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
    by domain; per-domain Semaphore(per_domain) inside each partition
    mirrors HttpFetcher(per_domain=2) (http_fetcher.py:7-15,23)."""
    schema = StructType(frontier.schema.fields + StructType.fromDDL(columns).fields)
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from concurrent.futures import ThreadPoolExecutor

        sems: dict[str, threading.Semaphore] = defaultdict(
            lambda: threading.Semaphore(per_domain)
        )

        def one(url: str) -> tuple | None:
            # normalize like domain_of (lowercase, strip www.) — keying
            # on the raw host would give WWW.Ex.com and ex.com separate
            # semaphores, doubling the per-site budget
            dom = url.split("/")[2].lower() if "://" in url else url.lower()
            dom = dom.removeprefix("www.")
            with sems[dom]:
                body, content_type = fetch_fn(url)
            return parse(url, body, content_type)

        for pdf in batches:
            with ThreadPoolExecutor(max_workers=_POOL_SIZE) as pool:
                parsed = list(pool.map(one, pdf["url"]))
            rows = [
                (*row, *out)
                for row, out in zip(pdf.itertuples(index=False), parsed)
                if out is not None
            ]
            if rows:
                yield pd.DataFrame(rows, columns=names)

    return frontier.repartition(domain_of(F.col("url"))).mapInPandas(run, schema)

"""JS-rendered page enrichment: the reference's Playwright page pool
(crawler/js_renderer.py:11-36 — pool of 2 pages, ``wait_until=
"networkidle"``, 20 s timeout) re-expressed as an optional `mapInPandas`
enrichment stage over fetched rows.

The reference class is DEAD CODE (never imported by crawler_core.py),
so this stage is not on any default path either — it exists so a user
who crawls JS-heavy sites can splice it between fetch and parse, by
fetching with a parse that keeps the raw body (FETCHED_SCHEMA's columns)
and parsing the rendered content afterwards (`charset_of` and
`parse_page` are in extract.py):

    keep = lambda url, body, ctype: (body, ctype, charset_of(ctype))
    fetched = fetch_frontier(frontier, fetch_fn, keep,
                             "content binary, content_type string, charset string")
    rendered = render_pages(fetched)          # needs playwright
    # then per row: parse_page(url, content, content_type)

Design mirrors pipeline/fetch.py exactly:

* **Import-gated dependency** (same pattern as PIL/PyMuPDF in
  extract.py): `playwright_renderer` imports playwright lazily INSIDE
  the worker; environments without a browser get a clear ImportError
  at stage construction, not a mid-job executor crash.
* **Injectable renderer**: `render_fn_factory` builds the render
  callable per PARTITION (browser handles are not picklable), so tests
  drive the full Spark plumbing with a fake renderer and the contract
  is pinned without a browser in the container.
* **Errors as data**: a render failure (timeout, navigation error)
  keeps the fetched bytes and sets ``rendered = false`` — one hostile
  page must not fail the stage (js_renderer.py's bare ``except`` on
  page close is the same instinct).
* **Politeness preserved**: rendering re-hits the site, so the stage
  repartitions by domain like fetch and bounds in-flight renders with
  the pool size — a 1000-executor cluster renders ``partitions ×
  pool_size`` pages concurrently, never more.

At 100 TB scale rendering is the most expensive per-row enrichment in
the pipeline (a full browser navigation per page); the stage therefore
renders ONLY rows that need it (HTML content-type) and passes every
other row through untouched in the same batch — no second scan, no
shuffle beyond the domain repartition it shares with fetch.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from data_integration_system_spark.functions.urls import domain_of

#: render(url) -> rendered DOM html, or None on failure
RenderFn = Callable[[str], "str | None"]

#: fetched rows with their raw body: the input of `render_pages`
FETCHED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("depth", LongType()),
        StructField("content", BinaryType()),
        StructField("content_type", StringType()),
        StructField("charset", StringType()),
    ]
)

RENDERED_SCHEMA = StructType(
    list(FETCHED_SCHEMA.fields) + [StructField("rendered", BooleanType())]
)

#: the reference pool size (js_renderer.py:5) and navigation timeout
#: (js_renderer.py:33 — 20000 ms)
DEFAULT_POOL_SIZE = 2
DEFAULT_TIMEOUT_S = 20


def playwright_renderer(
    pool_size: int = DEFAULT_POOL_SIZE, timeout_s: int = DEFAULT_TIMEOUT_S
) -> RenderFn:
    """Build the real Playwright-backed RenderFn — js_renderer.py:11-36
    semantics (headless chromium, ``networkidle`` wait, 20 s timeout).
    Import-gated: raises ImportError where playwright isn't installed
    (same contract as the PIL/PyMuPDF gates in extract.py), which
    `render_pages` surfaces at stage construction.

    Threading model (ADVICE r9): Playwright's sync API is
    greenlet-bound to the thread that created each object — calling
    ``browser.new_page()`` (or ``page.goto``) from another thread
    raises ``greenlet.error: cannot switch to a different thread``.
    State is therefore THREAD-AFFINE: each render worker thread lazily
    starts its own playwright + chromium + single-page pool, so every
    pool operation — including the crash-recovery replacement page in
    `_render_with_pool` — runs on the thread that owns the browser.
    Concurrency is bounded by the caller's thread pool (render_pages
    runs ``pool_size`` workers), so total live browsers per executor =
    ``pool_size``; the argument is kept so the stage's bound is visible
    at the factory too.  Browsers live as long as their worker thread
    (render_pages reuses one pool across all batches of a partition) —
    the same long-lived-pool lifecycle as the reference."""
    from playwright.sync_api import sync_playwright  # import gate

    tls = threading.local()

    def _state() -> dict:
        if not hasattr(tls, "state"):
            pw = sync_playwright().start()
            browser = pw.chromium.launch(headless=True)
            import queue

            pages: queue.Queue = queue.Queue()
            pages.put(browser.new_page())
            tls.state = dict(pw=pw, browser=browser, pages=pages)
        return tls.state

    def render(url: str) -> str | None:
        return _render_with_pool(_state(), url, timeout_s * 1000)

    def close_thread_state() -> None:
        """Tear down the CALLING thread's browser + playwright driver
        (ADVICE r10: thread-local death doesn't close the chromium
        subprocesses — without this, a long-lived executor leaks
        pool_size browser processes per mapInPandas task).  Must run on
        the thread that owns the state (sync API is greenlet-bound);
        render_pages arranges that via barrier tasks on its own pool."""
        state = getattr(tls, "state", None)
        if state is None:
            return
        del tls.state
        for op in (state["browser"].close, state["pw"].stop):
            try:
                op()
            except Exception:
                pass

    render.close_thread_state = close_thread_state
    return render


def _render_with_pool(state: dict, url: str, timeout_ms: int) -> str | None:
    """One render against the page pool in ``state`` (duck-typed:
    ``state['pages']`` is a Queue of page objects, ``state['browser']``
    makes new ones) — factored out of the playwright closure so the
    crash-recovery contract is testable without a browser."""
    pages = state["pages"]
    page = pages.get()
    try:
        page.goto(url, wait_until="networkidle", timeout=timeout_ms)
        content = page.content()
    except Exception:
        # a crashed page would poison all future renders on this
        # long-lived worker thread: retire it, pool a fresh one (the
        # caller guarantees state is thread-affine, so new_page() runs
        # on the thread that created the browser — ADVICE r9)
        try:
            page.close()
        except Exception:
            pass
        try:
            pages.put(state["browser"].new_page())
        except Exception:
            pages.put(page)  # replacement failed; keep pool size stable
        return None  # errors-as-data: caller keeps the fetched bytes
    pages.put(page)
    return content


def _default_factory(pool_size: int) -> Callable[[], RenderFn]:
    """The default render_fn_factory: playwright with the STAGE's
    pool_size forwarded — a bare ``playwright_renderer`` would cap the
    browser pool at 2 while ``pool_size`` threads contend for it."""
    return lambda: playwright_renderer(pool_size=pool_size)


def _is_html(content_type: str | None) -> bool:
    return bool(content_type) and "html" in content_type.lower()


def _close_worker_states(pool, pool_size: int, render) -> None:
    """Run ``render.close_thread_state()`` once on EVERY worker thread
    of ``pool`` before it shuts down.

    A thread-affine renderer (playwright_renderer) keeps one browser
    per worker thread, and Playwright's sync API is greenlet-bound —
    closing from another thread raises without killing the chromium
    subprocess.  The only thread that can tear a state down is the one
    that owns it, so we submit ``pool_size`` tasks that each close
    their OWN thread's state and then rendezvous on a barrier: no
    worker can take a second close task until all have taken one, so
    every live worker runs exactly one.  (ThreadPoolExecutor spawns up
    to max_workers threads for queued tasks, so barrier parties are
    always reachable.)  The timeouts bound THIS call — they unblock the
    other workers and the caller, not a worker wedged inside
    browser.close(); the caller must not join the pool afterwards
    (render_pages shuts it down with wait=False), accepting a leaked
    wedged thread + browser as the documented residual rather than a
    hung Spark task.  Renderers without the attribute — all the test
    fakes — are untouched."""
    close = getattr(render, "close_thread_state", None)
    if close is None:
        return
    from concurrent.futures import wait as _fut_wait

    barrier = threading.Barrier(pool_size)

    def _close_own() -> None:
        try:
            close()
        finally:
            try:
                barrier.wait(timeout=30)
            except threading.BrokenBarrierError:
                pass

    _fut_wait([pool.submit(_close_own) for _ in range(pool_size)], timeout=60)


def render_pages(
    fetched: DataFrame,
    render_fn_factory: Callable[[], RenderFn] | None = None,
    pool_size: int = DEFAULT_POOL_SIZE,
) -> DataFrame:
    """Enrich fetched rows with browser-rendered DOM content.

    HTML rows (by content_type) are rendered through the factory's
    RenderFn with at most ``pool_size`` in flight per partition; a
    successful render replaces ``content`` with the DOM bytes (UTF-8)
    and sets ``rendered = true``; failures and non-HTML rows pass
    through byte-identical with ``rendered = false``.  Output schema =
    input schema + ``rendered boolean`` (RENDERED_SCHEMA)."""
    if render_fn_factory is None:
        # fail at CONSTRUCTION when the default needs a missing
        # dependency — not per-task on 1000 executors
        import importlib.util

        if importlib.util.find_spec("playwright") is None:
            raise ImportError(
                "render_pages needs playwright for its default renderer; "
                "install it or inject render_fn_factory"
            )
        render_fn_factory = _default_factory(pool_size)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from concurrent.futures import ThreadPoolExecutor

        render = render_fn_factory()

        def one(url: str, content_type: str | None) -> str | None:
            if not _is_html(content_type):
                return None
            try:
                return render(url)
            except Exception:
                return None  # a throwing fake/renderer is still data

        # ONE pool for every batch of the partition: worker threads
        # persist, so a thread-affine renderer (playwright_renderer)
        # amortizes its per-thread browser across batches instead of
        # relaunching chromium each batch; when the partition ends the
        # per-thread renderer state is torn down ON its owning threads
        # (ADVICE r10 — otherwise every task leaks pool_size browsers)
        pool = ThreadPoolExecutor(max_workers=pool_size)
        try:
            yield from _run_batches(batches, pool, one)
        finally:
            _close_worker_states(pool, pool_size, render)
            # wait=False: _close_worker_states already bounded the close
            # rendezvous at 60 s; a `with` exit would shutdown(wait=True)
            # and JOIN a worker wedged inside browser.close(), hanging
            # the Spark task indefinitely (ADVICE r11).  A wedged worker
            # thread (and its chromium) is leaked instead — documented
            # residual; the task always returns.
            pool.shutdown(wait=False)

    def _run_batches(batches, pool, one):
        for pdf in batches:
            if pdf.empty:
                continue
            doms = list(pool.map(one, pdf["url"], pdf["content_type"]))
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "depth": pdf["depth"].astype("int64"),
                    "content": [
                        d.encode("utf-8") if d is not None else c
                        for d, c in zip(doms, pdf["content"])
                    ],
                    "content_type": pdf["content_type"],
                    "charset": pdf["charset"],
                    "rendered": [d is not None for d in doms],
                }
            )

    partitioned = fetched.repartition(domain_of(F.col("url")))
    return partitioned.select(
        "url", "depth", "content", "content_type", "charset"
    ).mapInPandas(run, RENDERED_SCHEMA)

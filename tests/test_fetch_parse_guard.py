"""Fetched bytes are parsed in fetch.fetch_frontier's pass, by the
per-URL parse its caller hands it, so a body never crosses into the JVM
and back for a second Python stage.  The crawl loop, the extraction
module and the job runner therefore open no Python stage of their own:
any ``mapInPandas`` in them fails here."""

from __future__ import annotations

from pathlib import Path

import data_integration_system_spark

_PKG = Path(data_integration_system_spark.__file__).parent
_GUARDED = ("pipeline/crawl.py", "pipeline/extract.py", "pipeline/jobs.py")


def test_no_python_stage_beside_the_fetch_pass():
    offenders = [
        f"{rel}:{i}: {line.strip()}"
        for rel in _GUARDED
        for i, line in enumerate((_PKG / rel).read_text().splitlines(), 1)
        if "mapInPandas" in line
    ]
    assert not offenders, offenders


def test_crawl_fetches_only_through_fetch_batch():
    """The crawl's driver path fetches through ``fetch.fetch_batch``, the
    one implementation of the per-domain politeness rule: a thread pool
    or semaphore in ``crawl.py`` would be a second one."""
    offenders = [
        f"pipeline/crawl.py:{i}: {line.strip()}"
        for i, line in enumerate(
            (_PKG / "pipeline/crawl.py").read_text().splitlines(), 1
        )
        if "ThreadPoolExecutor" in line or "Semaphore" in line
    ]
    assert not offenders, offenders

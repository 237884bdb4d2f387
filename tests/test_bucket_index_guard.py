"""The bucketed document indexes (MinHash bands, winnowing fingerprints)
share one lifecycle in pipeline/bucket_index.py: the bucket layout, the
meta relation, the clustered partitioned write and the probe.  A family
module that hard-codes any of them again fails here."""

from __future__ import annotations

import re
from pathlib import Path

import data_integration_system_spark

_PKG = Path(data_integration_system_spark.__file__).parent
_FAMILIES = ("operators/dedup.py", "operators/textops.py")
_PATTERNS = {
    "bucket layout": re.compile(r"pmod\([^\n]*n_buckets"),
    "meta read/write": re.compile(r"/meta\b"),
    "bucket-partitioned write": re.compile(r"partitionBy\(\s*[\"']bucket"),
    "probe-list collect": re.compile(r"[\"']bucket[\"'][^\n]*\.collect\("),
}


def test_bucket_index_decisions_live_in_bucket_index():
    offenders = []
    for rel in _FAMILIES:
        for i, line in enumerate((_PKG / rel).read_text().splitlines(), 1):
            for what, pat in _PATTERNS.items():
                if pat.search(line):
                    offenders.append(f"{rel}:{i}: {what}: {line.strip()}")
    assert not offenders, offenders


def test_guard_patterns_match_the_shared_module():
    """The patterns are live: each one matches bucket_index.py itself."""
    src = (_PKG / "pipeline/bucket_index.py").read_text()
    dead = [what for what, pat in _PATTERNS.items() if not pat.search(src)]
    assert not dead, dead

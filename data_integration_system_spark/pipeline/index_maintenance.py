"""Index maintenance: the scheduled-REBUILD half of every index tier's
grow-online / refit-offline serving cadence, as one entry point.

Every materialized index here (MinHash bands, winnowing fingerprints,
IVF, PQ, IVF-PQ) grows online through its append path / streaming sink
against FROZEN fit artifacts (centroids, codebooks, bucket geometry);
distribution drift is repaid by a scheduled full rebuild that refits
and rewrites.  The reference rebuilt its JSON side indexes implicitly
on every crawl run (filesystem_store.py:201-211); at 100 TB a rebuild
is an explicit, scheduled, expensive operation on SHARED serving state
— so it gets a maintenance entry point next to the snapshot-store
compactor (pipeline/maintenance.py), not an implicit side effect.

Swap discipline: rebuild into a FRESH directory (``--into``), verify,
then repoint the serving config — the builders' mode("overwrite") is
not atomic under concurrent probes, exactly like a compaction without
the snapshot store's OCC pointer swap.  The CLI defaults to requiring
``--into`` for that reason; ``--in-place`` is the explicit opt-out for
offline windows.
"""

from __future__ import annotations

import argparse
import sys
from collections.abc import Callable

from pyspark.sql import SparkSession


def _builders() -> dict[str, Callable[[SparkSession, str, str], None]]:
    """Lazy dispatch map (operator imports register queries; keep them
    out of module import time so this module stays importable without a
    session, per the registry's module-scope-Column rule)."""
    from data_integration_system_spark.operators.dedup import build_minhash_index
    from data_integration_system_spark.operators.similarity import (
        build_ivf_index,
        build_ivfpq_index,
        build_pq_index,
    )
    from data_integration_system_spark.operators.textops import (
        build_fingerprint_index,
    )

    return {
        "minhash": build_minhash_index,
        "fingerprint": build_fingerprint_index,
        "ivf": build_ivf_index,
        "pq": build_pq_index,
        "ivfpq": build_ivfpq_index,
    }


def rebuild_index(
    spark: SparkSession, kind: str, sf_dir: str, index_path: str, **knobs
) -> str:
    """Full refit-and-rewrite of one index tier into ``index_path``;
    returns the path.  All builders share the (spark, sf_dir,
    index_path) contract and their own determinism guarantees, so a
    rebuild on an unchanged corpus is bit-identical to the original
    build (the append tests' invariant).  ``knobs`` pass through to the
    builder — the ivfpq tier's ``mode`` (flat, residual, opq, or auto,
    which measures the fit sample and logs the choice into meta), so a
    scheduled rebuild can apply the measured operating rules instead of
    silently resetting a mode-built index to the default."""
    builders = _builders()
    if kind not in builders:
        raise ValueError(f"unknown index kind {kind!r}; have {sorted(builders)}")
    builders[kind](spark, sf_dir, index_path, **knobs)
    return index_path


def _main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(
        prog="index-maintenance",
        description="scheduled index rebuild (refit-offline half of the serving cadence)",
    )
    ap.add_argument("kind", choices=sorted(_builders()))
    ap.add_argument("sf_dir", help="corpus table root")
    group = ap.add_mutually_exclusive_group(required=True)
    group.add_argument(
        "--into", help="FRESH directory to rebuild into (then repoint serving)"
    )
    group.add_argument(
        "--in-place",
        metavar="INDEX_PATH",
        help="overwrite an existing index (offline windows only — not atomic under probes)",
    )
    ap.add_argument(
        "--mode",
        choices=["auto", "flat", "residual", "opq"],
        help="ivfpq only: PQ code mode ('auto' measures the fit sample "
        "and applies the ladder tight→residual, structured→opq, "
        "isotropic/noise→flat, logged into meta)",
    )
    ap.add_argument(
        "--vectors",
        choices=["float", "sq8", "none"],
        help="ivfpq only: the index-resident re-rank relation — raw "
        "floats (default), SQ8 scalar-quantized (~3x less storage "
        "and re-rank I/O at measured-zero recall cost), or omitted",
    )
    args = ap.parse_args(argv)
    knobs: dict = {}
    if args.mode is not None:
        knobs["mode"] = args.mode
    if args.vectors is not None:
        knobs["store_vectors"] = {
            "float": True, "sq8": "sq8", "none": False,
        }[args.vectors]
    if knobs and args.kind != "ivfpq":
        ap.error("--mode/--vectors apply to the ivfpq tier only")
    from data_integration_system_spark.session import get_spark

    spark = get_spark("index-maintenance")
    target = args.into or args.in_place
    rebuild_index(spark, args.kind, args.sf_dir, target, **knobs)
    print(f"rebuilt {args.kind} index at {target}")
    return 0


if __name__ == "__main__":
    raise SystemExit(_main(sys.argv[1:]))

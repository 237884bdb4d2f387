"""Versioned snapshot store for mutable tables on an immutable lake.

The reference mutates its page store in place (Postgres upserts /
filesystem overwrite, db/postgres_store.py:126-184,
filesystem_store.py:201-211).  A data lake can't do that safely: a
read-then-overwrite of the same path destroys the only copy if the write
fails partway.  The lake-native shape — the same one Delta/Iceberg
formalize — is copy-on-write snapshots:

* each write lands in a fresh ``{root}/v{NNNNNN}`` directory (write-once,
  ``errorifexists``);
* a tiny ``{root}/_CURRENT`` manifest names the active version, swapped
  via tmp-file + rename only AFTER the data write committed;
* readers resolve the manifest, so a crash anywhere before the swap
  leaves them on the previous, fully-intact snapshot.

At 100 TB this is also the performance answer: the merged table is
written exactly once with no executor-memory pinning (the old
localCheckpoint-then-overwrite approach held the whole merge in block
storage), and old snapshots double as time-travel until pruned.

File-manifest discipline (r15): the store's partition count TRACKS the
corpus — a site-partitioned page store at 100 TB has metastore-scale
partition counts (sites × dates), so a cold ``spark.read.parquet``
over a version dir pays the same distributed file-LISTING job the
IVF-PQ index tier measured at ~4 s / 1,414 dirs (SCALE.md r13) — the
repo's own r14 rule says such a tier routes through
``pipeline/index_manifest.py`` from day one.  Every snapshot commit
therefore writes ``{root}/{vNNNNNN}/_manifest.json`` (explicit file
list + per-partition row counts + stored schema) INSIDE the version
dir, BEFORE the ``_CURRENT`` swap: the version dir is write-once and
invisible until the pointer swap, so the one existing atomic commit
publishes data and file manifest together — no second OCC protocol.
Readers (``read_current`` / ``read_version``) build the scan from the
manifest's explicit file list: zero discovery jobs on a cold read, and
a ``partitions=`` restriction never touches unprobed dirs at all.
Pre-manifest versions (legacy stores, externally-written dirs) fall
back to the plain directory read unchanged.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from data_integration_system_spark.pipeline import index_manifest as im
from data_integration_system_spark.pipeline.fsutil import (
    child_names,
    delete_tree,
    hadoop_path,
)

_CURRENT = "_CURRENT"
_VERSION_RE = re.compile(r"^v(\d{6})$")


def _versions(spark: SparkSession, root: str) -> list[int]:
    out = []
    for name in child_names(spark, root):
        m = _VERSION_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _write_manifest(spark: SparkSession, root: str, name: str) -> None:
    """Swap the pointer: write ``_CURRENT.tmp`` then rename over
    ``_CURRENT``.  The rename is the commit; a crash before it leaves the
    old manifest (and therefore the old snapshot) authoritative."""
    tmp, fs = hadoop_path(spark, f"{root}/{_CURRENT}.tmp")
    stream = fs.create(tmp, True)
    try:
        stream.write(name.encode("utf-8"))
    finally:
        stream.close()
    dst, _ = hadoop_path(spark, f"{root}/{_CURRENT}")
    if fs.exists(dst):
        fs.delete(dst, False)
    fs.rename(tmp, dst)


def _read_small(fs, path) -> str:
    stream = fs.open(path)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8", "replace").strip()
    finally:
        stream.close()


def _latest_committed(spark: SparkSession, root: str) -> str | None:
    """Highest version dir whose parquet job committed (has _SUCCESS)."""
    from data_integration_system_spark.pipeline.fsutil import exists

    for v in reversed(_versions(spark, root)):
        name = f"v{v:06d}"
        if exists(spark, f"{root}/{name}/_SUCCESS"):
            return name
    return None


def current_version(spark: SparkSession, root: str) -> str | None:
    """Active snapshot name, crash-safe.  Resolution order:

    1. the ``_CURRENT`` manifest;
    2. if a swap was in flight (``_CURRENT.tmp`` present): the tmp's
       version when valid — covers a crash between the old manifest's
       delete and the rename (the tmp is only ever written AFTER its
       data committed, so trusting it is safe) — else the highest
       version dir with a ``_SUCCESS`` marker (corrupt/partial tmp);
    3. None (empty root, legacy layout, or a first write that crashed
       before any swap attempt — nothing was ever committed).

    Without 2, a crash inside the pointer swap would make the store look
    empty and the next merge would silently drop all prior data."""
    p, fs = hadoop_path(spark, f"{root}/{_CURRENT}")
    if fs.exists(p):
        name = _read_small(fs, p)
        if name:
            return name
    tmp, _ = hadoop_path(spark, f"{root}/{_CURRENT}.tmp")
    if fs.exists(tmp):
        name = _read_small(fs, tmp)
        if _VERSION_RE.match(name):
            dirp, _ = hadoop_path(spark, f"{root}/{name}")
            if fs.exists(dirp):
                return name
        return _latest_committed(spark, root)
    return None


class ConcurrentWriteError(RuntimeError):
    """Another writer committed a snapshot after this writer read its
    base version — committing would silently discard that writer's data
    (the lost-update anomaly of last-wins manifest swaps)."""


def _check_expected(spark: SparkSession, root: str, expect_current: str | None) -> None:
    if expect_current is None:
        return
    actual = current_version(spark, root)
    if actual != expect_current:
        raise ConcurrentWriteError(
            f"snapshot at {root} moved {expect_current!r} -> {actual!r} "
            "since this writer read its base; re-read and retry "
            "(the prepared version dir is left uncommitted)"
        )


def write_snapshot(
    df: DataFrame,
    root: str,
    partition_by: str | None = None,
    expect_current: str | None = None,
) -> str:
    """Commit ``df`` as the next snapshot of ``root`` and return its
    version name.  The version directory is write-once; the manifest swap
    happens only after the parquet job committed.

    ``expect_current`` enables optimistic concurrency for read-modify-
    write jobs (incremental merges, compaction): pass the version the
    job READ as its base, and the commit refuses with
    ``ConcurrentWriteError`` when another writer has swapped the
    manifest in the meantime — without it the swap is last-wins and the
    competing writer's rows are silently dropped from the lineage.  The
    check is driver-side check-then-rename (best effort, the window is
    the rename itself), which is the practical contract on object
    stores without atomic compare-and-swap."""
    spark = df.sparkSession
    _check_expected(spark, root, expect_current)
    vs = _versions(spark, root)
    name = f"v{(vs[-1] + 1 if vs else 1):06d}"
    writer = df.write.mode("errorifexists")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(f"{root}/{name}")
    # file manifest INSIDE the write-once version dir, before the
    # pointer swap — the swap atomically publishes data + manifest; the
    # schema just written spares it the inference job
    im.write_manifest(
        spark, f"{root}/{name}", {"": partition_by}, written={"": df.schema}
    )
    _check_expected(spark, root, expect_current)  # re-check after the slow write
    _write_manifest(spark, root, name)
    return name


def allocate_version(spark: SparkSession, root: str) -> str:
    """Next version name for an EXTERNALLY-built snapshot dir (selective
    compaction assembles its version from per-partition writes + file
    copies rather than one df.write).  The caller writes
    ``{root}/{name}`` however it likes, then calls ``commit_version`` —
    until then the dir is invisible to readers (no manifest entry, and
    ``_latest_committed`` ignores it without a top-level _SUCCESS)."""
    vs = _versions(spark, root)
    return f"v{(vs[-1] + 1 if vs else 1):06d}"


def commit_version(
    spark: SparkSession,
    root: str,
    name: str,
    expect_current: str | None = None,
) -> None:
    """Commit an externally-built version dir: stamp the top-level
    ``_SUCCESS`` marker (crash-recovery parity with df.write versions —
    ``current_version``'s fallback path trusts only marked dirs) and
    swap the manifest.  ``expect_current`` = the version this build was
    derived from, same optimistic-concurrency contract as
    ``write_snapshot``."""
    _check_expected(spark, root, expect_current)
    _commit_data_manifest(spark, root, name, _detect_partition(spark, root, name))
    p, fs = hadoop_path(spark, f"{root}/{name}/_SUCCESS")
    fs.create(p, True).close()
    _write_manifest(spark, root, name)


def _detect_partition(spark: SparkSession, root: str, name: str) -> str | None:
    """Partition column of an externally-built version dir (hive
    ``col=value`` child dirs), or None for a flat table — one driver-side
    listing of the version dir's immediate children."""
    from data_integration_system_spark.pipeline.fsutil import hadoop_path as hp

    p, fs = hp(spark, f"{root}/{name}")
    for st in fs.listStatus(p):
        child = st.getPath().getName()
        if st.isDirectory() and "=" in child:
            return child.split("=", 1)[0]
    return None


def _commit_data_manifest(
    spark: SparkSession, root: str, name: str, partition_by: str | None
) -> None:
    """Write the version dir's file manifest (explicit file list +
    per-partition row counts + stored schema — see
    pipeline/index_manifest.py).  Called BEFORE the pointer swap on a
    write-once dir, so it needs no OCC of its own and is immutable once
    the version is visible.  An externally-assembled version that
    already shipped its own manifest (selective compaction's SPLICED
    commit — index_manifest.splice_manifest_from) is left untouched:
    the dir is write-once and single-writer, so a present manifest is
    authoritative and re-walking it would undo the splice's whole
    point."""
    if im.read_manifest(spark, f"{root}/{name}") is not None:
        return
    im.write_manifest(spark, f"{root}/{name}", {"": partition_by})


def _version_df(
    spark: SparkSession, root: str, name: str, partitions=None
) -> DataFrame:
    """DataFrame over a committed version: manifest-backed (explicit
    file list, stored schema — zero discovery jobs, unprobed partition
    dirs never touched) when the version has one; plain directory read
    for pre-manifest versions (``partitions`` then degrades to a
    partition-column filter, pruned by Catalyst from the directory
    listing)."""
    path = f"{root}/{name}"
    man = im.read_manifest(spark, path)
    if man is not None and "" in man.get("relations", {}):
        return im.read_relation(
            spark, path, "", manifest=man, partitions=partitions
        )
    df = spark.read.parquet(path)
    if partitions is not None:
        from pyspark.sql import functions as F

        entry_col = _detect_partition(spark, root, name)
        if entry_col is None:
            raise ValueError(
                f"partitions= given but {path} is not hive-partitioned"
            )
        df = df.filter(
            F.col(entry_col).cast("string").isin([str(v) for v in partitions])
        )
    return df


def _legacy_data(spark: SparkSession, root: str) -> bool:
    """A pre-snapshot store: parquet written directly at ``root`` (any
    child that is neither a version dir nor the manifest)."""
    return any(
        not _VERSION_RE.match(c) and not c.startswith(_CURRENT)
        for c in child_names(spark, root)
    )


def snapshot_exists(spark: SparkSession, root: str) -> bool:
    """True if ``root`` has a committed snapshot or legacy parquet data.
    A crashed first write (version dir present, manifest never swapped)
    counts as NOT existing — nothing was ever committed."""
    return current_version(spark, root) is not None or _legacy_data(spark, root)


def read_current(spark: SparkSession, root: str, partitions=None) -> DataFrame:
    """Resolve the manifest and read the active snapshot — through the
    version's FILE manifest when it has one (zero discovery jobs on a
    cold read; with ``partitions`` given, a list of partition-dir value
    strings, unprobed dirs are never touched at all — the point-probe
    shape for a site-partitioned store).  A root with data but no
    manifest is a legacy plain-parquet table — read it directly, so
    pre-snapshot stores keep working unchanged."""
    name = current_version(spark, root)
    if name is not None:
        return _version_df(spark, root, name, partitions)
    if _legacy_data(spark, root):
        df = spark.read.parquet(root)
        if partitions is not None:
            raise ValueError(f"partitions= needs a versioned store: {root}")
        return df
    raise FileNotFoundError(f"no committed snapshot or data at {root}")


def prune_snapshots(spark: SparkSession, root: str, keep: int = 2) -> list[str]:
    """Drop all but the newest ``keep`` snapshots (never the active one);
    returns the names removed.  Old versions are time-travel until this
    runs — the storage-cost knob, not a correctness one."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    active = current_version(spark, root)
    removed = []
    for v in _versions(spark, root)[:-keep]:
        name = f"v{v:06d}"
        if name == active:
            continue
        delete_tree(spark, f"{root}/{name}")
        removed.append(name)
    return removed


def list_versions(spark: SparkSession, root: str) -> list[str]:
    """All retained snapshot names, oldest first — the time-travel
    surface: anything listed here is readable via `read_version` until
    `prune_snapshots` drops it."""
    return [f"v{v:06d}" for v in _versions(spark, root)]


def read_version(
    spark: SparkSession, root: str, version: str | int, partitions=None
) -> DataFrame:
    """Time-travel read: a specific retained snapshot, by name
    ("v000003") or ordinal (3).  Copy-on-write versions are immutable,
    so this is a manifest-backed explicit-file scan (plain pruned-path
    parquet for pre-manifest versions) — no log replay, no
    reconstruction (the same property that makes `prune_snapshots` a
    pure storage knob)."""
    name = f"v{version:06d}" if isinstance(version, int) else version
    if name not in list_versions(spark, root):
        raise FileNotFoundError(
            f"snapshot {name} not retained at {root} "
            f"(have: {list_versions(spark, root)})"
        )
    return _version_df(spark, root, name, partitions)


def snapshot_diff(
    spark: SparkSession,
    root: str,
    old: str | int,
    new: str | int,
    key: str,
    hash_col: str,
) -> DataFrame:
    """Audit diff between two retained versions: per key, ADDED /
    DELETED / CHANGED / UNCHANGED — the library form of the
    `snapshot_reconcile` query (reference D5 read-compare semantics,
    db/postgres_store.py:126-184), run between any two points in the
    store's history instead of two external tables.

    Scale shape: both sides are (key, hash) projections — a full outer
    join on the key, co-partitioned, carrying two columns; payloads are
    never moved to compute the diff."""
    from pyspark.sql import functions as F

    a = read_version(spark, root, old).select(
        F.col(key).alias("_k"), F.col(hash_col).alias("_old_hash")
    )
    b = read_version(spark, root, new).select(
        F.col(key).alias(key), F.col(hash_col).alias("_new_hash")
    )
    j = a.join(b, a["_k"] == b[key], "full_outer")
    status = (
        F.when(F.col("_k").isNull(), "ADDED")
        .when(F.col(key).isNull(), "DELETED")
        # null-safe: a key whose hash is NULL in BOTH versions is
        # unchanged, not CHANGED (plain == yields NULL there)
        .when(F.col("_old_hash").eqNullSafe(F.col("_new_hash")), "UNCHANGED")
        .otherwise("CHANGED")
    )
    return j.select(
        F.coalesce(F.col(key), F.col("_k")).alias(key),
        status.alias("status"),
    )

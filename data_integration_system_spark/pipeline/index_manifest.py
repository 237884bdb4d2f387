"""Build-time file manifest for materialized index relations.

A partitioned index (the IVF-PQ codes relation is the motivating case:
1,414 ``cent_id=`` dirs at d3c) pays a DISTRIBUTED file-listing job on
every cold ``spark.read.parquet(...)`` — Spark's
``parallelPartitionDiscovery.threshold`` (32) turns the directory walk
into a ~1,414-task job that measured ~4 s of the ~4.4 s d3c query wall
while the pruned ADC scan itself was milliseconds (SCALE.md r13).  At
100 TB a metastore or table-format manifest (Delta/Iceberg's exact
role) owns that listing; this module is the minimal in-repo form of the
same idea:

* ``write_manifest`` — after a build/append, walk the index root ONCE
  (driver-side Hadoop FS recursion, no Spark job), record every data
  file per relation — partition value, size, and per-file row count
  read from the parquet footer — into ``{index}/_manifest.json``,
  written atomically (temp file + rename) with a monotonically
  increasing version.
* ``read_manifest`` — one small JSON read on open.
* ``read_relation`` — build the DataFrame from the manifest's EXPLICIT
  file list (optionally restricted to a set of partition values), so a
  cold query schedules zero discovery jobs and never touches unprobed
  partition dirs.  ``basePath`` restores the partition column.

Row counts double as the optimizer statistic the ANN tier needs: the
IVF-PQ shortlist default is sized from the PROBED candidate count
(similarity.candidate_aware_shortlist), which is exactly the sum of the
probed partitions' manifest rows — no count job at query time.

Concurrency contract: single writer (the build/append/rebuild job),
many readers.  On local filesystems the commit is ``os.replace`` — an
atomic OVERWRITING rename, so a reader sees the old or the new
manifest, never a torn or missing one.  On non-local Hadoop
filesystems plain rename won't clobber, so the commit is
delete+rename: a reader (or a crash) can land in a brief NO-manifest
window — readers absorb it by design (``read_manifest`` → None →
directory-scan fallback / full reconcile), so only the fast path, not
correctness, degrades.  Appends bump ``version``; an opened handle
serves its open-time manifest until ``reopen()`` (the staleness cadence
IvfPqIndexHandle documents).

Reference parity: the reference has no index tier at all — this is the
scale machinery a 100 TB serving layer needs around the operators the
reference's hand-rolled SQL implies (crawler/db.py's content-hash
lookups are point probes; these indexes are their vector/near-dup
analogs).
"""

from __future__ import annotations

import json
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from data_integration_system_spark.operators._common import local_rows_df
from data_integration_system_spark.pipeline.fsutil import hadoop_path

MANIFEST_NAME = "_manifest.json"

#: Serializes the parallelPartitionDiscovery.threshold set/restore window
#: in _relation_df.  The session conf is process-global: without the lock,
#: two concurrent manifest-backed reads (the documented 16-thread handle
#: serving) can interleave so one thread's finally-restore strands the
#: session at the raised threshold, or restores it mid-relation-resolve of
#: the other thread (re-scheduling the discovery job).  The guarded window
#: is driver-side relation resolution only (microseconds per file) — query
#: EXECUTION is outside the lock.
_DISCOVERY_CONF_LOCK = threading.Lock()


def _local_path(uri: str) -> str | None:
    """Filesystem path for pyarrow footer reads, or None off local fs."""
    if uri.startswith("file:"):
        p = uri[len("file:") :]
        while p.startswith("//"):
            p = p[1:]
        return p
    if "://" not in uri and ":" not in uri.split("/", 1)[0]:
        return uri
    return None


def _list_data_files(spark: SparkSession, root: str) -> list[tuple[str, int]]:
    """Recursive (relative_path, size) listing of data files under
    ``root`` — driver-side, no Spark job.  Hidden files (``_SUCCESS``,
    ``.crc``, the manifest itself) are skipped, the same visibility rule
    Spark's own InMemoryFileIndex applies.

    On local filesystems the walk is pure Python ``os.scandir`` — the
    Hadoop-FS RemoteIterator costs 4+ py4j round-trips PER FILE
    (~13 s of the original 21 s wall at 1,414 partitions); the JVM walk
    is kept only for non-local schemes, where it is one RPC stream."""
    import os

    lroot = _local_root(spark, root)
    if lroot is not None:
        if not os.path.isdir(lroot):
            return []
        out: list[tuple[str, int]] = []
        stack = [""]
        while stack:
            sub = stack.pop()
            with os.scandir(f"{lroot}/{sub}" if sub else lroot) as it:
                for e in it:
                    if e.name.startswith(("_", ".")):
                        continue
                    rel = f"{sub}/{e.name}" if sub else e.name
                    if e.is_dir(follow_symlinks=False):
                        stack.append(rel)
                    elif e.is_file(follow_symlinks=False):
                        out.append((rel, e.stat().st_size))
        out.sort()
        return out

    jroot, fs = hadoop_path(spark, root)
    if not fs.exists(jroot):
        return []
    root_uri = fs.makeQualified(jroot).toString().rstrip("/")
    out = []
    it = fs.listFiles(jroot, True)
    while it.hasNext():
        st = it.next()
        uri = st.getPath().toString()
        rel = uri[len(root_uri) + 1 :] if uri.startswith(root_uri) else uri
        name = rel.rsplit("/", 1)[-1]
        if name.startswith("_") or name.startswith("."):
            continue
        if any(seg.startswith(("_", ".")) for seg in rel.split("/")[:-1]):
            continue
        out.append((rel, int(st.getLen())))
    out.sort()
    return out


def _local_root(spark: SparkSession, root: str) -> str | None:
    """The relation root as a plain filesystem path (None off local fs)
    — computed ONCE per relation so per-file footer reads are pure
    Python+pyarrow.  The first manifest walk spent ~25 s at 1,414
    partitions because every footer read created a fresh JVM Path +
    FileSystem through py4j; hoisting the qualification removes every
    per-file JVM round-trip."""
    jroot, fs = hadoop_path(spark, root)
    qualified = fs.makeQualified(jroot).toString()
    return _local_path(qualified)


def _footer_rows(spark: SparkSession, root: str, rel_file: str,
                 local_root: str | None = None) -> int | None:
    """Per-file row count from the parquet footer (driver-side pyarrow;
    ~0.1 ms/file on local fs).  None when the footer isn't reachable —
    consumers must treat missing rows as 'statistic unavailable'."""
    if local_root is None:
        local_root = _local_root(spark, root)
    if local_root is None:
        return None
    try:
        import pyarrow.parquet as pq

        return int(pq.read_metadata(f"{local_root}/{rel_file}").num_rows)
    except Exception:
        return None


def _rel_root(index_path: str, rel: str) -> str:
    """Filesystem root of relation ``rel`` under ``index_path``.  The
    empty relation name means the index root ITSELF is the relation —
    the shape the snapshot store uses, where a version dir is one
    self-contained table rather than a directory of named relations."""
    return f"{index_path}/{rel}" if rel else index_path


def _partition_value(rel_path: str, partition_col: str) -> str | None:
    for seg in rel_path.split("/")[:-1]:
        if seg.startswith(partition_col + "="):
            return seg[len(partition_col) + 1 :]
    return None


class ManifestConflict(RuntimeError):
    """Optimistic-concurrency failure: the committed manifest moved
    between a writer's read and its write (two maintenance jobs racing
    the same index).  The loser re-reads and retries — the same OCC
    contract as pipeline/snapshots.py's pointer swap."""


class ManifestLockstepError(RuntimeError):
    """Two relations declared lockstep (per-partition row counts must
    match — the IVF-PQ codes/vectors pair) diverged at commit time: a
    crashed or partial append left one side short.  The commit is
    refused so the divergence is repaired (re-append the missing side /
    full rebuild) instead of silently dropping re-rank candidates."""


def assert_lockstep(
    manifest: dict, pairs: list[tuple[str, str]], index_path: str = ""
) -> None:
    """Raise ManifestLockstepError if, for any declared ``(dependent,
    required)`` pair, a partition has MORE dependent rows than required
    rows — for the IVF-PQ ``("codes", "vectors")`` pair, a code row
    whose vector is missing would be silently dropped by the
    index-resident re-rank forever, so that commit is refused.  The
    check is deliberately DIRECTIONAL: surplus required rows (orphan
    vectors from a crash between the vectors-first and codes writes)
    are harmless — never shortlisted, reconciled away by the next
    rebuild — and must not block the recovery commit.  A pair is
    checked only when BOTH relations are in the manifest (pre-vectors
    indexes simply lack the second side); a partition whose footer
    count is unavailable (rows None) is skipped — the statistic, not
    the files, is what's missing there.

    Off local filesystems footer row counts are unavailable for EVERY
    file (``_footer_rows`` is driver-side pyarrow), so every partition
    of every pair is skipped and this guard is inert.  Silence there
    would read as "checked and consistent" (ADVICE r15), so when a
    present pair had partitions but not one of them could be compared,
    a RuntimeWarning says the codes/vectors divergence guard is
    inactive — remote deployments should front the commit with a
    bounded count job or a row-count-bearing metastore instead."""
    import warnings

    for a, b in pairs:
        rels = manifest["relations"]
        if a not in rels or b not in rels:
            continue
        pa = rels[a].get("partitions") or {}
        pb = rels[b].get("partitions") or {}
        diverged = {}
        compared = 0
        skipped = 0
        for key in set(pa) | set(pb):
            ra = pa[key]["rows"] if key in pa else 0
            rb = pb[key]["rows"] if key in pb else 0
            if ra is None or rb is None:
                skipped += 1
                continue
            compared += 1
            if ra > rb:
                diverged[key] = (ra, rb)
        if skipped and not compared:
            warnings.warn(
                f"{index_path or '<index>'}: lockstep pair ({a!r}, {b!r}) "
                f"has {skipped} partition(s) but ZERO comparable row "
                "counts (no parquet footer statistics — non-local "
                "filesystem?); the codes/vectors divergence guard is "
                "INACTIVE for this commit",
                RuntimeWarning,
                stacklevel=2,
            )
        if diverged:
            sample = dict(sorted(diverged.items())[:8])
            raise ManifestLockstepError(
                f"{index_path or '<index>'}: relation {a!r} has rows with "
                f"no {b!r} counterpart in {len(diverged)} partition(s) "
                f"(rows {a}/{b}): {sample} — a partial append left "
                f"{b!r} short; repair (re-append / rebuild) before "
                "committing"
            )


def write_manifest(
    spark: SparkSession,
    index_path: str,
    relations: dict[str, str | None],
    expected_version: int | None = None,
    lockstep: list[tuple[str, str]] | None = None,
    written: dict | None = None,
) -> dict:
    """Snapshot ``{index_path}/{rel}`` for each ``rel -> partition_col``
    (None = unpartitioned) into ``{index_path}/_manifest.json``,
    atomically (temp + rename).  Returns the manifest dict.

    ``written`` maps a relation to the schema of the DataFrame written into
    it: read by its non-partition columns, the stored schema is inference's
    (partition type quirks included) without inference's Spark job.

    ``expected_version`` turns the commit optimistic: raise
    ManifestConflict unless the on-disk manifest is still at exactly
    that version (None for "first manifest").  The builders' default is
    last-wins (single maintenance writer — the documented cadence);
    pass the version read before a concurrent append campaign to make
    races loud instead of silent.

    ``lockstep`` declares ``(dependent, required)`` relation pairs — no
    partition may hold more dependent rows than required rows (the
    IVF-PQ codes/vectors pair: a code row whose vector is missing would
    be silently dropped by the index-resident re-rank forever; surplus
    vectors are harmless crash orphans).  A violation raises
    ManifestLockstepError BEFORE the commit, so a torn append fails
    loudly instead of being committed into the manifest."""
    prev = read_manifest(spark, index_path)
    _check_version(index_path, prev["version"] if prev else None, expected_version)
    manifest: dict = {
        "version": (prev["version"] + 1) if prev else 1,
        "relations": {},
    }
    for rel, part_col in relations.items():
        root = _rel_root(index_path, rel)
        files = _list_data_files(spark, root)
        lroot = _local_root(spark, root) if files else None
        entry: dict = {"n_files": len(files)}
        if part_col is None:
            recs = _files_entry(spark, root, lroot, files)
            entry["files"] = recs["files"]
            total_rows = recs["rows"]
        else:
            entry["partition_col"] = part_col
            groups: dict[str, list] = {}
            for rel_path, size in files:
                # a stray unpartitioned file keeps visible under ""
                val = _partition_value(rel_path, part_col) or ""
                groups.setdefault(val, []).append((rel_path, size))
            parts = {
                v: _files_entry(spark, root, lroot, fs) for v, fs in groups.items()
            }
            total_rows = _sum_rows(p["rows"] for p in parts.values())
            entry["partitions"] = parts
        entry["total_rows"] = total_rows
        # capture the relation schema ONCE, here at build time — readers
        # pass it explicitly, so a cold read schedules zero jobs (without
        # it, parquet schema inference runs a 1-task Spark job per open)
        if files:
            data = [f for f in (written or {}).get(rel, []) if f.name != part_col]
            probe = entry | {"schema_json": StructType(data).json()} if data else entry
            entry["schema_json"] = _relation_df(spark, root, probe, None).schema.json()
        else:
            # a relation emptied since the last commit (compaction, full
            # retention expiry) keeps its schema, so readers still get an
            # empty RESULT with the right shape instead of an error
            prev_entry = (prev or {}).get("relations", {}).get(rel, {})
            if prev_entry.get("schema_json") is not None:
                entry["schema_json"] = prev_entry["schema_json"]
        manifest["relations"][rel] = entry

    _commit(spark, index_path, manifest, lockstep)
    return manifest


def _sum_rows(counts) -> int | None:
    """Sum of row counts; None once any count is unavailable."""
    total = 0
    for n in counts:
        if n is None:
            return None
        total += n
    return total


def _files_entry(spark: SparkSession, root: str, lroot: str | None,
                 files: list) -> dict:
    """``{"files": [{path, size, rows}], "rows": total}`` for
    ``(relative_path, size)`` data files under ``root``."""
    recs = [
        {"path": path, "size": size,
         "rows": _footer_rows(spark, root, path, lroot)}
        for path, size in files
    ]
    return {"files": recs, "rows": _sum_rows(r["rows"] for r in recs)}


def _relist_partitions(
    spark: SparkSession, index_path: str, rel: str, entry: dict, values
) -> None:
    """Re-walk partitions ``values`` of relation ``rel`` at ``index_path``
    into its manifest ``entry`` in place — a vacated partition is
    dropped — and recompute the entry's ``total_rows``/``n_files``."""
    parts = entry["partitions"]
    root = _rel_root(index_path, rel)
    lroot = _local_root(spark, root)
    for v in values:
        sub = f"{entry['partition_col']}={v}"
        files = [
            (f"{sub}/{path}", size)
            for path, size in _list_data_files(spark, f"{root}/{sub}")
        ]
        if files:
            parts[str(v)] = _files_entry(spark, root, lroot, files)
        else:
            parts.pop(str(v), None)
    entry["total_rows"] = _sum_rows(p["rows"] for p in parts.values())
    entry["n_files"] = sum(len(p["files"]) for p in parts.values())


def update_manifest_partitions(
    spark: SparkSession,
    index_path: str,
    updates: dict,
    expected_version: int | None = None,
    lockstep: list[tuple[str, str]] | None = None,
) -> dict:
    """Incremental manifest commit after an APPEND: for each
    ``rel -> touched partition values`` in ``updates``, re-list just
    those partition dirs and splice them into the committed manifest —
    ONE atomic version bump for the whole batch, so a reader never sees
    the codes relation updated but its lockstep vectors relation not.
    A micro-batch append touches a handful of partitions, so this costs
    a few dir walks instead of the full-index walk ``write_manifest``
    does at build time (measured 0.15 s vs ~21 s at 1,414 partitions).
    Unpartitioned relations and schema entries are carried forward
    untouched."""
    man = read_manifest(spark, index_path)
    if man is None:
        raise FileNotFoundError(
            f"no {MANIFEST_NAME} under {index_path} — incremental update "
            "needs a committed base; run write_manifest first"
        )
    _check_version(index_path, man["version"], expected_version)
    for rel, values in updates.items():
        _relist_partitions(spark, index_path, rel, man["relations"][rel], values)
    man["version"] += 1
    _commit(spark, index_path, man, lockstep)
    return man


def splice_manifest_from(
    spark: SparkSession,
    index_path: str,
    base: dict,
    relisted: dict,
    lockstep: list[tuple[str, str]] | None = None,
) -> dict:
    """Commit a manifest for a NEW root derived from another root's
    committed manifest: every entry is carried forward VERBATIM (the
    derivation copied those files byte-for-byte — selective compaction's
    clean partitions), and only ``relisted`` ``{rel: [partition
    values]}`` are re-walked at ``index_path``.  The new root gets a
    fresh version counter (it is a different, write-once directory —
    per-version manifests never mutate).

    This is the between-roots sibling of ``update_manifest_partitions``
    (r14's within-root splice): without it, selective compaction of a
    metastore-scale store pays a FULL directory walk per commit even
    when it rewrote one partition of ten thousand — the exact
    per-commit regression the r14 streaming-append audit caught for the
    index tier."""
    import copy

    manifest: dict = {"version": 1, "relations": {}}
    for rel, entry in base.get("relations", {}).items():
        manifest["relations"][rel] = copy.deepcopy(entry)
    for rel, values in relisted.items():
        _relist_partitions(
            spark, index_path, rel, manifest["relations"][rel], values
        )
    _commit(spark, index_path, manifest, lockstep)
    return manifest


def _check_version(index_path: str, on_disk: int | None,
                   expected: int | None) -> None:
    """Optimistic-concurrency check: raise ManifestConflict unless the
    committed version is ``expected`` (None = no expectation)."""
    if expected is not None and on_disk != expected:
        raise ManifestConflict(
            f"{index_path}: manifest at version {on_disk}, writer "
            f"expected {expected} — re-read and retry"
        )


def _commit(spark: SparkSession, index_path: str, manifest: dict,
            lockstep: list[tuple[str, str]] | None = None) -> None:
    """Publish the manifest, after the ``lockstep`` pairs pass
    assert_lockstep (a violation publishes nothing).  On local
    filesystems ``os.replace`` is an
    atomic OVERWRITING rename — a reader sees the old or the new
    manifest, never a torn one and never a missing one.  On non-local
    Hadoop filesystems, plain rename won't clobber, so the fallback is
    delete+rename: there is a (crash-durable) window with NO manifest.
    Readers degrade gracefully — ``read_manifest`` returns None and
    consumers fall back to a directory scan / full reconcile — so the
    weaker remote contract is availability-of-the-fast-path, not
    correctness."""
    if lockstep:
        assert_lockstep(manifest, lockstep, index_path)
    data = json.dumps(manifest, sort_keys=True).encode()
    lroot = _local_root(spark, index_path)
    if lroot is not None:
        import os

        os.makedirs(lroot, exist_ok=True)
        tmp_path = f"{lroot}/.{MANIFEST_NAME}.tmp"
        with open(tmp_path, "wb") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp_path, f"{lroot}/{MANIFEST_NAME}")
        return
    final, fs = hadoop_path(spark, f"{index_path}/{MANIFEST_NAME}")
    tmp, _ = hadoop_path(spark, f"{index_path}/.{MANIFEST_NAME}.tmp")
    stream = fs.create(tmp, True)
    try:
        stream.write(data)
    finally:
        stream.close()
    if fs.exists(final):  # Hadoop rename won't clobber; single-writer contract
        fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise IOError(f"manifest rename failed: {tmp} -> {final}")


def read_manifest(spark: SparkSession, index_path: str) -> dict | None:
    """The committed manifest, or None (pre-manifest index / first build)."""
    final, fs = hadoop_path(spark, f"{index_path}/{MANIFEST_NAME}")
    if not fs.exists(final):
        return None
    stream = fs.open(final)
    try:
        # py4j does NOT write Java-side mutations back into a passed
        # bytearray, so read(byte[]) is unusable from Python — drain the
        # stream JVM-side instead (commons-io ships with Spark)
        data = bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(data.decode())


def partition_rows(manifest: dict, rel: str, values) -> int | None:
    """Sum of manifest row counts over ``values`` of ``rel``'s partition
    column — the no-job candidate-count statistic.  None when any
    requested partition lacks a footer count (consumers fall back)."""
    parts = manifest["relations"][rel].get("partitions")
    if parts is None:
        return manifest["relations"][rel].get("total_rows")
    total = 0
    for v in values:
        p = parts.get(str(v))
        if p is None:  # probed an empty partition: contributes 0 rows
            continue
        if p["rows"] is None:
            return None
        total += p["rows"]
    return total


def read_relation(
    spark: SparkSession,
    index_path: str,
    rel: str,
    manifest: dict | None = None,
    partitions=None,
) -> DataFrame:
    """DataFrame over the manifest's explicit file list for ``rel`` —
    ZERO Spark jobs scheduled (the stored schema skips inference, the
    raised discovery threshold keeps the per-file stat driver-side), and
    with ``partitions`` given, unprobed partition dirs are never touched
    at all.  ``basePath`` restores the partition column for partitioned
    relations."""
    if manifest is None:
        manifest = read_manifest(spark, index_path)
    if manifest is None:
        raise FileNotFoundError(f"no {MANIFEST_NAME} under {index_path}")
    entry = manifest["relations"][rel]
    return _relation_df(spark, _rel_root(index_path, rel), entry, partitions)


def _stored_schema(entry: dict):
    sj = entry.get("schema_json")
    if sj is None:
        return None
    return StructType.fromJson(json.loads(sj))


def _relation_df(
    spark: SparkSession, root: str, entry: dict, partitions
) -> DataFrame:
    schema = _stored_schema(entry)
    if "partitions" in entry:
        parts = entry["partitions"]
        keys = (
            sorted(parts)
            if partitions is None
            else [str(v) for v in partitions if str(v) in parts]
        )
        files = [f"{root}/{f['path']}" for k in keys for f in parts[k]["files"]]
        reader = spark.read.option("basePath", root)
        if not files and parts and schema is None:
            # vacant requested partitions, pre-schema manifest: infer the
            # schema from any one listed file, filtered to nothing
            any_key = next(iter(sorted(parts)))
            any_file = f"{root}/{parts[any_key]['files'][0]['path']}"
            col = entry["partition_col"]
            vals = [str(v) for v in (partitions or [])]
            from pyspark.sql import functions as F

            return reader.parquet(any_file).filter(
                F.col(col).cast("string").isin(vals)
            )
    else:
        files = [f"{root}/{f['path']}" for f in entry["files"]]
        reader = spark.read
    if not files:
        # vacant partitions / a relation later emptied by compaction /
        # a zero-row build: the documented contract is an empty RESULT
        # with the relation's schema, not an error (write_manifest
        # carries schema_json forward across emptying commits)
        if schema is not None:
            return local_rows_df(spark, [], schema)
        raise ValueError(
            f"manifest lists no files for {root} and stores no schema "
            "(pre-schema manifest of an empty relation) — rebuild the "
            "manifest with write_manifest to capture one"
        )
    if schema is not None:
        reader = reader.schema(schema)
    conf = spark.conf
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    with _DISCOVERY_CONF_LOCK:
        prev = conf.get(key)
        try:
            conf.set(key, str(max(len(files) + 1, 10_000)))
            return reader.parquet(*files)
        finally:
            conf.set(key, prev)

"""File-manifest discipline for the LAKE relations (r15).

The snapshot store's partition count tracks the corpus (sites × dates
at 100 TB is metastore-scale), so — by the repo's own r14 rule — its
reads must not pay the distributed file-LISTING job a cold
``spark.read.parquet`` schedules over a many-partition dir.  Every
snapshot commit now writes ``{version}/_manifest.json`` inside the
write-once version dir BEFORE the ``_CURRENT`` pointer swap (one atomic
publish, no second OCC protocol), and ``read_current``/``read_version``
build scans from the explicit file list.  These tests reuse the index
tier's two pins: job-group attribution for zero-listing-job, and
chmod-locked unprobed dirs for never-touches.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from data_integration_system_spark.pipeline import index_manifest as im
from data_integration_system_spark.pipeline import snapshots as sn


def _site_df(spark, n_rows: int = 400, n_sites: int = 40):
    return (
        spark.range(n_rows)
        .select(
            F.col("id"),
            F.concat(F.lit("site"), (F.col("id") % n_sites)).alias("site"),
            (F.col("id") * 7).alias("val"),
        )
    )


def test_snapshot_commit_writes_version_manifest(spark, tmp_path):
    root = str(tmp_path / "store")
    df = _site_df(spark)
    name = sn.write_snapshot(df, root, partition_by="site")
    man = im.read_manifest(spark, f"{root}/{name}")
    assert man is not None and "" in man["relations"]
    entry = man["relations"][""]
    assert entry["partition_col"] == "site"
    assert entry["total_rows"] == 400
    assert len(entry["partitions"]) == 40
    assert entry["schema_json"] is not None

    via = sn.read_current(spark, root)
    assert via.count() == 400
    assert sorted(via.columns) == ["id", "site", "val"]
    direct = spark.read.parquet(f"{root}/{name}")
    assert via.exceptAll(direct).count() == 0
    assert direct.exceptAll(via).count() == 0

    probe = sn.read_current(spark, root, partitions=["site3"])
    assert probe.count() == 10
    assert {r.site for r in probe.select("site").distinct().collect()} == {"site3"}


def test_snapshot_cold_read_no_listing_job_and_unprobed_dirs_untouched(
    spark, tmp_path
):
    """The index tier's two pins, applied to the lake store: with the
    discovery threshold forced to 1, the manifest-backed read schedules
    ZERO jobs while the plain directory read schedules at least one;
    and a partitions= probe never touches unprobed site dirs (all
    chmod-000)."""
    root = str(tmp_path / "store")
    sn.write_snapshot(_site_df(spark), root, partition_by="site")
    name = sn.current_version(spark, root)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "1")
        sc.setJobGroup("lake-listing-ab-plain", "plain dir read")
        spark.read.parquet(f"{root}/{name}")
        assert len(tracker.getJobIdsForGroup("lake-listing-ab-plain")) >= 1

        sc.setJobGroup("lake-listing-ab-manifest", "manifest read")
        sn.read_current(spark, root)
        assert tracker.getJobIdsForGroup("lake-listing-ab-manifest") == []
    finally:
        spark.conf.set(key, prev)
        sc.setJobGroup("", "")

    locked = []
    try:
        for d in os.listdir(f"{root}/{name}"):
            if d.startswith("site=") and d != "site=site7":
                p = f"{root}/{name}/{d}"
                os.chmod(p, 0o000)
                locked.append(p)
        probe = sn.read_current(spark, root, partitions=["site7"])
        assert probe.count() == 10
    finally:
        for p in locked:
            os.chmod(p, 0o755)


def test_compaction_recommits_manifest_both_paths(spark, tmp_path):
    """Both compaction paths produce a NEW version with its own file
    manifest: full-rewrite compact_snapshot and selective
    compact_partitions (whose untouched partitions are file-copied) —
    content identical, manifest row counts matching, reads still
    manifest-backed."""
    from data_integration_system_spark.pipeline.layout import (
        compact_partitions,
        compact_snapshot,
    )

    root = str(tmp_path / "store")
    # fragment: 8 files per site dir
    df = _site_df(spark).repartition(8)
    sn.write_snapshot(df, root, partition_by="site")
    before = {(r.id, r.site, r.val) for r in sn.read_current(spark, root).collect()}

    rep = compact_partitions(spark, root, target_file_bytes=1 << 30)
    assert rep["compacted"]
    v2 = rep["version"]
    man2 = im.read_manifest(spark, f"{root}/{v2}")
    assert man2 is not None and man2["relations"][""]["total_rows"] == 400
    assert {
        (r.id, r.site, r.val) for r in sn.read_current(spark, root).collect()
    } == before

    root2 = str(tmp_path / "store2")
    sn.write_snapshot(_site_df(spark).repartition(8), root2, partition_by="site")
    rep2 = compact_snapshot(spark, root2, target_file_bytes=1 << 30)
    assert rep2["compacted"]
    man3 = im.read_manifest(spark, f"{root2}/{rep2['version']}")
    assert man3 is not None and man3["relations"][""]["total_rows"] == 400
    assert {
        (r.id, r.site, r.val) for r in sn.read_current(spark, root2).collect()
    } == before


def test_selective_compaction_splices_manifest_not_full_walk(spark, tmp_path):
    """Selective compaction commits the new version's manifest by
    SPLICE: copied clean partitions carry their base entries verbatim,
    only rewritten partitions are re-listed — and the result must be
    byte-equal (relations dict) to a full walk of the same version dir.
    Commit cost then tracks REWRITES, not store size."""
    from data_integration_system_spark.pipeline.layout import compact_partitions

    root = str(tmp_path / "store")
    sn.write_snapshot(_site_df(spark).repartition(8), root, partition_by="site")
    before = {(r.id, r.site, r.val) for r in sn.read_current(spark, root).collect()}

    rep = compact_partitions(spark, root, target_file_bytes=1 << 30,
                             max_rewrites=3)
    assert rep["compacted"] and len(rep["rewritten"]) == 3
    v2 = rep["version"]
    spliced = im.read_manifest(spark, f"{root}/{v2}")
    assert spliced is not None and spliced["version"] == 1
    # the spliced relations must equal a fresh full walk of the same dir
    full = im.write_manifest(spark, f"{root}/{v2}", {"": "site"})
    assert spliced["relations"] == full["relations"]
    assert {
        (r.id, r.site, r.val) for r in sn.read_current(spark, root).collect()
    } == before
    # rewritten partitions really were re-listed (1 file now, was 8)
    rewritten_val = rep["rewritten"][0].split("=", 1)[1]
    assert len(spliced["relations"][""]["partitions"][rewritten_val]["files"]) == 1


def test_pre_manifest_version_falls_back_to_directory_read(spark, tmp_path):
    """A version written before the manifest discipline (simulated by
    deleting its manifest) stays readable through the plain directory
    scan, including the partitions= restriction (degrades to a pruned
    filter instead of an explicit file list)."""
    root = str(tmp_path / "store")
    sn.write_snapshot(_site_df(spark), root, partition_by="site")
    name = sn.current_version(spark, root)
    os.remove(f"{root}/{name}/{im.MANIFEST_NAME}")

    assert sn.read_current(spark, root).count() == 400
    probe = sn.read_current(spark, root, partitions=["site5"])
    assert probe.count() == 10
    assert {r.site for r in probe.select("site").distinct().collect()} == {"site5"}


def test_externally_built_version_gets_manifest_on_commit(spark, tmp_path):
    """commit_version (the selective-compaction path for externally
    assembled version dirs) detects the hive layout and commits the
    file manifest before stamping _SUCCESS and swapping the pointer."""
    root = str(tmp_path / "store")
    sn.write_snapshot(_site_df(spark), root, partition_by="site")
    v1 = sn.current_version(spark, root)
    name = sn.allocate_version(spark, root)
    from data_integration_system_spark.pipeline.fsutil import copy_tree

    for d in os.listdir(f"{root}/{v1}"):
        if d.startswith("site="):
            copy_tree(spark, f"{root}/{v1}/{d}", f"{root}/{name}/{d}")
    sn.commit_version(spark, root, name, expect_current=v1)
    man = im.read_manifest(spark, f"{root}/{name}")
    assert man is not None
    assert man["relations"][""]["partition_col"] == "site"
    assert man["relations"][""]["total_rows"] == 400
    assert sn.read_current(spark, root).count() == 400


def test_maintenance_pass_end_to_end_zero_listing_after_splice(spark, tmp_path):
    """The full scheduled-maintenance pass behind the r16 driver row
    (snapshot_maintenance_compaction): a store with two fragmented and
    many clean site partitions goes through maintain_snapshot_store —
    selective rewrite, clean-partition byte-copy, manifest SPLICE,
    version prune — and the post-maintenance current read must still
    schedule ZERO listing jobs (the spliced manifest, not a walk, feeds
    the scan) while file counts prove the rewrite really compacted."""
    from data_integration_system_spark.pipeline.maintenance import (
        maintain_snapshot_store,
    )

    root = str(tmp_path / "store")
    # throwaway v1 for the prune budget
    sn.write_snapshot(_site_df(spark, 10, 1), root, partition_by="site")
    # v2: sites 0/1 fragmented 8 ways, sites 2..9 one file each
    df = _site_df(spark, 400, 10)
    frag = df.filter(F.col("site").isin("site0", "site1")).repartition(8, "id")
    clean = df.filter(~F.col("site").isin("site0", "site1")).repartition(8, "site")
    sn.write_snapshot(clean.unionByName(frag), root, partition_by="site")
    before = {(r.id, r.site, r.val) for r in sn.read_current(spark, root).collect()}

    rep = maintain_snapshot_store(
        spark, root, target_file_bytes=1 << 30, keep_versions=2
    )
    assert rep["compacted"]
    assert sorted(rep["rewritten"]) == ["site=site0", "site=site1"]
    assert rep["copied_partitions"] == 8
    assert rep["pruned_versions"] == ["v000001"]
    assert sn.list_versions(spark, root) == ["v000002", "v000003"]

    man = im.read_manifest(spark, f"{root}/v000003")
    for site in ("site0", "site1"):
        assert len(man["relations"][""]["partitions"][site]["files"]) == 1

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("maintained-read", "post-maintenance current read")
        after = {
            (r.id, r.site, r.val) for r in sn.read_current(spark, root).collect()
        }
        jobs = tracker.getJobIdsForGroup("maintained-read")
    finally:
        sc.setJobGroup("", "")
    assert after == before
    # one job = the collect scan itself; no extra listing/schema jobs
    assert len(jobs) == 1, jobs

    # time travel to the retained pre-compaction version still works
    assert {
        (r.id, r.site, r.val)
        for r in sn.read_version(spark, root, "v000002").collect()
    } == before


def test_flat_clustered_layout_schedules_no_listing_job(spark, tmp_path):
    """The r16 layout-dir adjudication's measured pin: a flat
    (single-directory) clustered layout never schedules a distributed
    listing job, even with MORE FILES than the 32-path discovery
    threshold — the threshold counts directories, not files, so
    write_clustered/write_zordered outputs need no manifest (SCALE.md
    r16).  Cold-read budget: at most one job before the scan (parquet
    schema inference, a 1-task footer read), never an ~n_files-task
    listing."""
    from data_integration_system_spark.pipeline.layout import write_clustered

    path = str(tmp_path / "clustered40")
    write_clustered(
        spark.range(4000).select(
            F.col("id"), (F.col("id") % 97).alias("k")
        ),
        path,
        ["id"],
        n_files=40,
    )
    n_files = len([
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ])
    assert n_files == 40  # above the 32-PATH threshold on purpose

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("flat-layout-cold", "cold clustered-layout read")
        df = spark.read.parquet(path)
        pre_scan = tracker.getJobIdsForGroup("flat-layout-cold")
        # reader construction: schema inference only — 1 job, 1 task
        assert len(pre_scan) <= 1, pre_scan
        for j in pre_scan:
            stages = tracker.getJobInfo(j).stageIds
            n_tasks = sum(
                tracker.getStageInfo(s).numTasks for s in stages
            )
            assert n_tasks <= 1, (j, n_tasks)
        assert df.count() == 4000
    finally:
        sc.setJobGroup("", "")


def test_purge_snapshot_selective_rewrite_and_prune_completes_forget(
    spark, tmp_path
):
    """Lake purge (r16): keys drawn from two site partitions are
    hard-deleted — only those partitions rewritten, the rest
    byte-copied, spliced manifest feeds a ZERO-listing-job post-purge
    read; retained older versions still hold the rows (immutable time
    travel — the report names them) and prune_snapshots completes the
    forget; a flat store takes the full-rewrite path."""
    from data_integration_system_spark.pipeline.layout import purge_snapshot

    root = str(tmp_path / "store")
    df = _site_df(spark, 400, 10)
    sn.write_snapshot(df.repartition(4, "site"), root, partition_by="site")
    # half of each target site (site membership is id % 10, so a
    # parity filter would miss site1's all-odd ids)
    victims = [r.id for r in df.filter(
        F.col("site").isin("site0", "site1") & (F.col("id") < 200)
    ).select("id").collect()]

    rep = purge_snapshot(spark, root, victims, "id")
    assert rep["purged"]
    assert sorted(rep["rewritten"]) == ["site0", "site1"]
    assert rep["copied_partitions"] == 8
    assert rep["versions_retaining_purged_rows"] == ["v000001"]

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("purged-read", "post-purge current read")
        after = {(r.id, r.site) for r in sn.read_current(spark, root).collect()}
        jobs = tracker.getJobIdsForGroup("purged-read")
    finally:
        sc.setJobGroup("", "")
    assert len(jobs) == 1, jobs  # spliced manifest: no listing/schema jobs
    assert not any(i in set(victims) for i, _s in after)
    want = {(r.id, r.site) for r in df.collect() if r.id not in set(victims)}
    assert after == want

    # time travel still shows the purged rows until pruned
    old = {(r.id, r.site) for r in sn.read_version(spark, root, "v000001").collect()}
    assert set(victims) <= {i for i, _s in old}
    removed = sn.prune_snapshots(spark, root, keep=1)
    assert removed == ["v000001"]  # forget complete
    assert sn.list_versions(spark, root) == [rep["version"]]

    # idempotent: purging already-absent keys is a no-op report
    rep2 = purge_snapshot(spark, root, victims, "id")
    assert not rep2["purged"] and rep2["rewritten"] == []

    # flat store: full anti-join rewrite through write_snapshot
    flat = str(tmp_path / "flat")
    sn.write_snapshot(df, flat)
    rep3 = purge_snapshot(spark, flat, victims, "id")
    assert rep3["purged"] and rep3["rewritten"] == ["<flat>"]
    kept = {r.id for r in sn.read_current(spark, flat).collect()}
    assert not (kept & set(victims)) and len(kept) == 400 - len(victims)


def test_purge_snapshot_escaped_and_null_partition_values(spark, tmp_path):
    """ADVICE r16 high: purge matched RAW partition values against
    hive-ESCAPED dir names / manifest keys, so any value Spark escapes
    (space, colon, NULL sentinel) made the 'rewrite' read an empty
    frame, byte-copied the original un-purged dir, and still reported
    purged=True — the hard-delete primitive silently retaining rows.
    Pins: escaped-value and NULL partitions are actually rewritten, the
    untouched partition is copied, and the purged keys are GONE."""
    from data_integration_system_spark.pipeline.layout import purge_snapshot

    root = str(tmp_path / "store")
    site = (
        F.when(F.col("id") % 3 == 0, F.lit("a b:c"))
        .when(F.col("id") % 3 == 1, F.lit(None).cast("string"))
        .otherwise(F.lit("plain"))
    )
    df = spark.range(60).select("id", site.alias("site"), (F.col("id") * 7).alias("val"))
    sn.write_snapshot(df.repartition(3, "site"), root, partition_by="site")
    victims = [0, 3, 6, 1, 4]  # escaped-partition ids + NULL-partition ids

    rep = purge_snapshot(spark, root, victims, "id")
    assert rep["purged"]
    # rewritten is reported in dir-name space (hive-escaped values)
    assert sorted(rep["rewritten"]) == ["__HIVE_DEFAULT_PARTITION__", "a b%3Ac"]
    assert rep["copied_partitions"] == 1  # 'plain' byte-copied

    after = {r.id for r in sn.read_current(spark, root).collect()}
    assert not (after & set(victims))
    assert after == set(range(60)) - set(victims)
    # partition column still reconstructs correctly from the dir names
    sites = {
        r.site
        for r in sn.read_current(spark, root).select("site").distinct().collect()
    }
    assert sites == {"a b:c", None, "plain"}
    # rewritten partitions stay structurally identical to copied ones:
    # no partition column embedded in the data files (ADVICE r16 low)
    direct = spark.read.parquet(f"{root}/{rep['version']}/site=a b%3Ac")
    assert "site" not in direct.columns


def test_purge_snapshot_boolean_partition_values(spark, tmp_path):
    """ADVICE r17 low: the locate scan's partition value was formatted
    with Python str(), which writes booleans as 'True' where the dir
    (Spark's cast-to-string) says 'true' — a legitimate purge on a
    boolean-partitioned store raised the loud mismatch error.  Spark
    now does the formatting, so typed values round-trip to dir names."""
    from data_integration_system_spark.pipeline.layout import purge_snapshot

    root = str(tmp_path / "boolstore")
    df = spark.range(40).select(
        "id",
        (F.col("id") % 2 == 0).alias("flag"),
        (F.col("id") * 3).alias("val"),
    )
    sn.write_snapshot(df.repartition(2, "flag"), root, partition_by="flag")

    rep = purge_snapshot(spark, root, [0, 2, 4], "id")  # flag=true rows
    assert rep["purged"]
    assert rep["rewritten"] == ["true"]
    assert rep["copied_partitions"] == 1  # flag=false byte-copied
    after = {r.id for r in sn.read_current(spark, root).collect()}
    assert after == set(range(40)) - {0, 2, 4}
    # partition inference has no boolean rule, so the dirs read back as
    # strings — standard Spark partition-column behavior, and exactly
    # why the purge's value->dir match must use Spark's own formatting
    flags = {
        r.flag
        for r in sn.read_current(spark, root).select("flag").distinct().collect()
    }
    assert flags == {"true", "false"}


def test_purge_snapshot_inference_lossy_partition_values(spark, tmp_path):
    """ADVICE r17 low, second half: a STRING partition value that LOOKS
    numeric ('01') is type-inferred on read (-> 1 -> '1'), so the fast
    typed locate scan cannot match its dir.  The inference-off fallback
    re-scan must recover the true dir string instead of raising."""
    from data_integration_system_spark.pipeline.layout import purge_snapshot

    root = str(tmp_path / "zpstore")
    site = F.when(F.col("id") % 2 == 0, F.lit("01")).otherwise(F.lit("10"))
    df = spark.range(20).select("id", site.alias("site"))
    sn.write_snapshot(df.repartition(2, "site"), root, partition_by="site")

    rep = purge_snapshot(spark, root, [0, 2], "id")  # site='01' rows
    assert rep["purged"]
    assert rep["rewritten"] == ["01"]
    assert rep["copied_partitions"] == 1
    after = {r.id for r in sn.read_current(spark, root).collect()}
    assert after == set(range(20)) - {0, 2}


def test_purge_fallback_leaves_concurrent_reads_typed(spark, tmp_path):
    """The inference-lossy purge fallback reads with a per-read schema,
    not a session conf toggle: while one thread purges a '01'-partitioned
    store (three times, each through the fallback), eight threads run
    typed partitioned reads of a second store plus local_rows_df writes.
    Every read keeps its int partition column and equals the serial
    result; every written row lands."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from data_integration_system_spark.operators._common import local_rows_df
    from data_integration_system_spark.pipeline.layout import purge_snapshot

    lossy = str(tmp_path / "lossy")
    site = F.when(F.col("id") % 2 == 0, F.lit("01")).otherwise(F.lit("10"))
    sn.write_snapshot(
        spark.range(40).select("id", site.alias("site")).repartition(2, "site"),
        lossy,
        partition_by="site",
    )
    typed = str(tmp_path / "typed")
    spark.range(200).select(
        "id", (F.col("id") % 4).cast("int").alias("bucket")
    ).write.partitionBy("bucket").parquet(typed)

    def read_typed():
        df = spark.read.parquet(typed)
        counts = sorted(
            tuple(r) for r in df.groupBy("bucket").count().collect()
        )
        return dict(df.dtypes)["bucket"], counts

    serial = read_typed()
    assert serial == ("int", [(b, 50) for b in range(4)])

    done = threading.Event()

    def purge_loop():
        try:
            for victims in ([0, 2], [4, 6], [8, 10]):  # site='01' rows
                rep = purge_snapshot(spark, lossy, victims, "id")
                assert rep["rewritten"] == ["01"], rep
        finally:
            done.set()

    def reader(t: int) -> int:
        out = str(tmp_path / f"rows{t}")
        n = 0
        while not done.is_set() or n == 0:
            assert read_typed() == serial
            local_rows_df(spark, [(t, n)], "t int, n int").write.mode(
                "append"
            ).parquet(out)
            n += 1
        got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
        assert got == [(t, i) for i in range(n)]
        return n

    with ThreadPoolExecutor(max_workers=9) as pool:
        purge = pool.submit(purge_loop)
        readers = [pool.submit(reader, t) for t in range(8)]
        purge.result(timeout=120)
        assert all(f.result(timeout=120) >= 1 for f in readers)
    after = {r.id for r in sn.read_current(spark, lossy).collect()}
    assert after == set(range(40)) - {0, 2, 4, 6, 8, 10}


def test_copy_trees_non_local_destination_takes_hadoop_copy(
    spark, tmp_path, monkeypatch
):
    """_copy_trees' shutil fast path needs BOTH ends on file://: with a
    local source but a non-local destination scheme, every partition
    goes through the Hadoop copy_tree path."""
    from data_integration_system_spark.pipeline import layout

    src = tmp_path / "src"
    for n in ("site=a", "site=b"):
        (src / n).mkdir(parents=True)
        (src / n / "part-0.parquet").write_bytes(n.encode())
    dst = str(tmp_path / "dst")

    real_hadoop_path = layout.hadoop_path

    class _S3aFs:
        def getScheme(self):
            return "s3a"

    def fake_hadoop_path(spark_, path):
        p, fs = real_hadoop_path(spark_, path)
        return (p, _S3aFs()) if path == dst else (p, fs)

    copied = []
    real_copy_tree = layout.copy_tree

    def recording_copy_tree(spark_, s, d):
        copied.append((s, d))
        real_copy_tree(spark_, s, d)

    monkeypatch.setattr(layout, "hadoop_path", fake_hadoop_path)
    monkeypatch.setattr(layout, "copy_tree", recording_copy_tree)
    layout._copy_trees(spark, str(src), dst, ["site=a", "site=b"])
    assert sorted(copied) == [
        (f"{src}/site=a", f"{dst}/site=a"),
        (f"{src}/site=b", f"{dst}/site=b"),
    ]
    for n in ("site=a", "site=b"):
        assert (tmp_path / "dst" / n / "part-0.parquet").read_bytes() == n.encode()


@pytest.mark.parametrize(
    "partition_by, part_type, part_values, read_type",
    [
        (None, None, None, None),
        ("domain", "string", ["a.com", "b.com", "c.com"], "string"),
        ("flag", "boolean", [True, False], "string"),
        ("code", "string", ["007", "12"], "integer"),
    ],
)
def test_snapshot_manifest_schema_matches_inference(
    spark, tmp_path, partition_by, part_type, part_values, read_type
):
    """write_snapshot hands the manifest the data columns it just wrote,
    so the commit runs one Spark job (the write) and no schema-inference
    job; the stored schema still equals what inference stores for the
    same version dir, quirks included (a boolean partition reads back as
    string, "007" and "12" as int)."""
    from data_integration_system_spark.operators._common import local_rows_df

    ddl = "id long, text string, links array<string>, score double"
    rows = [(i, f"t{i}", [f"u{i}"], i / 2) for i in range(12)]
    if partition_by:
        rows = [r + (part_values[r[0] % len(part_values)],) for r in rows]
    if partition_by:
        ddl += f", {partition_by} {part_type}"
    df = local_rows_df(spark, rows, ddl)
    sc = spark.sparkContext
    roots = iter(str(tmp_path / f"store{i}") for i in range(2))
    sn.write_snapshot(df, next(roots), partition_by=partition_by)  # warm
    group = f"manifest-schema-{partition_by}"
    sc.setJobGroup(group, group)
    try:
        root = next(roots)
        name = sn.write_snapshot(df, root, partition_by=partition_by)
    finally:
        sc.setJobGroup("", "")
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

    vdir = f"{root}/{name}"
    written = im.read_manifest(spark, vdir)["relations"][""]
    os.remove(os.path.join(vdir, im.MANIFEST_NAME))
    inferred = im.write_manifest(spark, vdir, {"": partition_by})["relations"][""]
    assert written["schema_json"] == inferred["schema_json"]
    if partition_by:
        stored = json.loads(written["schema_json"])["fields"][-1]
        assert (stored["name"], stored["type"]) == (partition_by, read_type)
    assert written["total_rows"] == inferred["total_rows"] == 12
    if partition_by:
        assert {k: p["rows"] for k, p in written["partitions"].items()} == {
            k: p["rows"] for k, p in inferred["partitions"].items()
        }
    assert sn.read_current(spark, root).count() == 12

"""Build-time manifest for partitioned indexes (pipeline/index_manifest).

The r13 d3c campaign measured a ~4 s distributed file-LISTING job on
every cold read of the 1,414-partition IVF-PQ codes relation — ~90% of
the query wall.  The manifest kills it: build/append commit an atomic
file listing + per-partition row counts, and query paths read the
probed partitions' explicit files (zero discovery jobs) and size the
ADC shortlist from the probed candidate count.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _build(spark, tmp_path):
    from data_integration_system_spark.operators.similarity import (
        build_ivfpq_index,
    )

    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, SF, idx)
    return idx


def test_manifest_roundtrip_and_partition_rows(spark, tmp_path):
    """The committed manifest mirrors the filesystem exactly: every data
    file listed, per-partition row counts equal to the actual partition
    sizes, and read_relation reproduces the directory read — full and
    partition-restricted."""
    from data_integration_system_spark.pipeline import index_manifest as im

    idx = _build(spark, tmp_path)
    man = im.read_manifest(spark, idx)
    assert man is not None and man["version"] == 1
    assert set(man["relations"]) == {
        "codes", "vectors", "centroids", "codebooks", "meta",
    }

    direct = spark.read.parquet(f"{idx}/codes")
    truth = {
        (int(r.cent_id), int(r.cnt))
        for r in direct.groupBy("cent_id").agg(F.count("*").alias("cnt")).collect()
    }
    parts = man["relations"]["codes"]["partitions"]
    assert {(int(k), int(v["rows"])) for k, v in parts.items()} == truth
    assert man["relations"]["codes"]["total_rows"] == direct.count()

    via = im.read_relation(spark, idx, "codes")
    assert sorted(via.columns) == sorted(direct.columns)
    key = [c for c in direct.columns if c != "codes"]
    assert via.select(*key).exceptAll(direct.select(*key)).count() == 0
    assert direct.select(*key).exceptAll(via.select(*key)).count() == 0

    some = sorted(int(k) for k in parts)[:2]
    pruned = im.read_relation(spark, idx, "codes", partitions=some)
    assert pruned.count() == sum(r for c, r in truth if c in some)
    assert {int(r.cent_id) for r in pruned.select("cent_id").distinct().collect()} == set(some)
    assert im.partition_rows(man, "codes", some) == pruned.count()
    # probing a vacant partition contributes 0, not an error
    assert im.partition_rows(man, "codes", some + [10**9]) == pruned.count()


def test_manifest_append_bumps_version_and_counts(spark, tmp_path):
    """append_ivfpq_index recommits the manifest: version increments and
    the new rows are visible through a COLD manifest read."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        append_ivfpq_index,
    )
    from data_integration_system_spark.pipeline import index_manifest as im

    idx = _build(spark, tmp_path)
    v1 = im.read_manifest(spark, idx)
    emb = table(spark, SF, "embeddings")
    extra = (
        emb.filter(F.col("vec_id") >= _N_QUERIES)
        .select((F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding")
        .limit(7)
    )
    append_ivfpq_index(spark, idx, extra)
    v2 = im.read_manifest(spark, idx)
    assert v2["version"] == v1["version"] + 1
    assert (
        v2["relations"]["codes"]["total_rows"]
        == v1["relations"]["codes"]["total_rows"] + 7
    )
    assert im.read_relation(spark, idx, "codes").count() == (
        v2["relations"]["codes"]["total_rows"]
    )
    # the append path commits INCREMENTALLY (re-lists only touched
    # partitions); its result must equal a full build-time walk
    full = im.write_manifest(
        spark, idx,
        {"codes": "cent_id", "centroids": None, "codebooks": None,
         "meta": None},
    )
    assert full["relations"]["codes"]["partitions"] == (
        v2["relations"]["codes"]["partitions"]
    )
    assert full["relations"]["codes"]["n_files"] == (
        v2["relations"]["codes"]["n_files"]
    )


def test_index_resident_rerank_matches_explicit_corpus(spark, tmp_path):
    """r14 builds co-locate the raw vectors with their codes: a query
    with vectors=None must exact-re-rank against the INDEX-RESIDENT
    copy and return exactly the rows an explicit-corpus re-rank does —
    while reading only the probed partitions of the vectors relation
    (executed numFiles < total vectors files).  Appends keep the two
    relations in lockstep: an appended twin must appear in a
    vectors=None query's results."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        append_ivfpq_index,
        query_ivfpq_index,
    )
    from data_integration_system_spark.plans.metrics import executed_nodes

    idx = _build(spark, tmp_path)
    emb = table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    corpus = emb.filter(F.col("vec_id") >= _N_QUERIES).select(
        "vec_id", "embedding"
    )
    df = query_ivfpq_index(spark, idx, queries)  # vectors=None
    resident = {tuple(r) for r in df.collect()}
    explicit = {
        tuple(r)
        for r in query_ivfpq_index(spark, idx, queries, vectors=corpus).collect()
    }
    assert resident == explicit and len(resident) > 0
    assert "cos_sim" in df.columns  # exact re-rank, not ADC ranking

    total_vec_files = sum(
        1
        for root, _, names in os.walk(f"{idx}/vectors")
        for n in names
        if n.endswith(".parquet")
    )
    scanned = sum(
        n.metrics.get("numFiles", 0)
        for n in executed_nodes(df)
        if n.cls.startswith("FileSourceScan") and "/vectors" in n.detail
    )
    assert 0 < scanned < total_vec_files, (scanned, total_vec_files)

    # append a twin of query 0's vector: it must win rank 1 through the
    # lockstep-appended vectors relation
    twin = queries.filter(F.col("q_id") == 0).select(
        F.lit(99_000_000).cast("long").alias("vec_id"),
        F.col("qe").alias("embedding"),
    )
    append_ivfpq_index(spark, idx, twin)
    got = {
        (r.q_id, r.c_id, r.rnk)
        for r in query_ivfpq_index(spark, idx, queries).collect()
    }
    assert (0, 99_000_000, 1) in got


def test_manifest_occ_conflict_raises(spark, tmp_path):
    """expected_version turns the commit optimistic: a writer that read
    version N must fail loudly if another writer committed N+1 in
    between (snapshot-store OCC contract); the matching version
    commits fine and increments."""
    import pytest

    from data_integration_system_spark.pipeline import index_manifest as im

    idx = _build(spark, tmp_path)
    rels = {"codes": "cent_id", "centroids": None, "codebooks": None,
            "meta": None}
    v1 = im.read_manifest(spark, idx)["version"]
    im.write_manifest(spark, idx, rels)  # racing writer commits v1+1
    with pytest.raises(im.ManifestConflict):
        im.write_manifest(spark, idx, rels, expected_version=v1)
    out = im.write_manifest(spark, idx, rels, expected_version=v1 + 1)
    assert out["version"] == v1 + 2


def test_cold_read_schedules_no_listing_job_and_skips_unprobed_dirs(
    spark, tmp_path
):
    """The two facts the manifest exists for, pinned directly:

    1. With the discovery threshold forced to 1 (every directory read
       escalates to a distributed listing job), the manifest-backed read
       schedules ZERO Spark jobs while the plain directory read
       schedules at least one (job-group attribution).
    2. The manifest-backed pruned read never touches unprobed partition
       dirs: making every other dir unreadable does not disturb it —
       a listing walk would crash there."""
    from data_integration_system_spark.pipeline import index_manifest as im

    idx = _build(spark, tmp_path)
    man = im.read_manifest(spark, idx)
    parts = sorted(int(k) for k in man["relations"]["codes"]["partitions"])
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "1")
        sc.setJobGroup("manifest-listing-ab-plain", "plain dir read")
        spark.read.parquet(f"{idx}/codes")
        plain_jobs = tracker.getJobIdsForGroup("manifest-listing-ab-plain")
        assert len(plain_jobs) >= 1, "A/B control: expected a listing job"

        sc.setJobGroup("manifest-listing-ab-manifest", "manifest read")
        im.read_relation(spark, idx, "codes", manifest=man, partitions=parts[:2])
        assert tracker.getJobIdsForGroup("manifest-listing-ab-manifest") == []
    finally:
        spark.conf.set(key, prev)
        sc.setJobGroup("", "")

    probed = parts[:1]
    locked = []
    try:
        for d in os.listdir(f"{idx}/codes"):
            if d.startswith("cent_id=") and d != f"cent_id={probed[0]}":
                p = f"{idx}/codes/{d}"
                os.chmod(p, 0o000)
                locked.append(p)
        got = im.read_relation(
            spark, idx, "codes", manifest=man, partitions=probed
        ).count()
        assert got == man["relations"]["codes"]["partitions"][str(probed[0])]["rows"]
    finally:
        for p in locked:
            os.chmod(p, 0o755)


def test_candidate_aware_shortlist_rule(spark):
    """The shortlist default follows the r13 operating rule: explicit x
    overrides, the x-floor holds where 15% of candidates is small, the
    percentage takes over where the fixed cut starves (the d3c regime:
    ~4.2k probed candidates -> ~637 slots, the measured-recovery zone)."""
    from data_integration_system_spark.operators.similarity import (
        _PQ_SHORTLIST_X,
        candidate_aware_shortlist,
    )

    assert candidate_aware_shortlist(5, 4243, shortlist_x=8) == 40
    assert candidate_aware_shortlist(5, None) == _PQ_SHORTLIST_X * 5
    assert candidate_aware_shortlist(5, 100) == _PQ_SHORTLIST_X * 5
    assert candidate_aware_shortlist(5, 4243) == 637  # ceil(0.15 * 4243)
    assert candidate_aware_shortlist(5, 0) == _PQ_SHORTLIST_X * 5


def test_read_relation_empty_probe_returns_empty_with_schema(spark, tmp_path):
    """A probe set of vacant partitions is an empty RESULT, not an
    error (serving must tolerate probes of centroids that own no
    vectors yet)."""
    from data_integration_system_spark.pipeline import index_manifest as im

    idx = _build(spark, tmp_path)
    df = im.read_relation(spark, idx, "codes", partitions=[10**9])
    assert df.count() == 0
    assert "cent_id" in df.columns and "codes" in df.columns


def test_lockstep_refuses_orphan_codes_allows_orphan_vectors(spark, tmp_path):
    """The codes/vectors lockstep check is DIRECTIONAL (r15, from r14
    ADVICE): a partition with code rows whose vectors are missing would
    be silently dropped by the index-resident re-rank forever, so that
    commit is refused; surplus vectors (the harmless orphan a crash
    between the vectors-first and codes writes leaves) must NOT block
    the recovery commit."""
    import shutil

    import pytest

    from data_integration_system_spark.pipeline import index_manifest as im

    rels = {"codes": "cent_id", "vectors": "cent_id", "centroids": None,
            "codebooks": None, "meta": None}
    pair = [("codes", "vectors")]

    idx = _build(spark, tmp_path)
    parts = sorted(
        d for d in os.listdir(f"{idx}/vectors") if d.startswith("cent_id=")
    )
    # orphan CODES: drop one vectors partition -> full commit refused
    shutil.rmtree(f"{idx}/vectors/{parts[0]}")
    with pytest.raises(im.ManifestLockstepError):
        im.write_manifest(spark, idx, rels, lockstep=pair)
    # the incremental (append-path) commit must refuse it too
    with pytest.raises(im.ManifestLockstepError):
        im.update_manifest_partitions(
            spark, idx,
            {"codes": [parts[0].split("=")[1]],
             "vectors": [parts[0].split("=")[1]]},
            lockstep=pair,
        )
    # orphan VECTORS: drop the matching codes partition as well (now
    # vectors are the only missing side elsewhere? no — drop a codes
    # partition so vectors > codes there) -> commit allowed
    shutil.rmtree(f"{idx}/codes/{parts[1]}")
    shutil.rmtree(f"{idx}/codes/{parts[0]}")  # heal partition 0 (both gone)
    man = im.write_manifest(spark, idx, rels, lockstep=pair)
    assert parts[1].split("=")[1] in man["relations"]["vectors"]["partitions"]
    assert parts[1].split("=")[1] not in man["relations"]["codes"]["partitions"]


def test_lockstep_warns_loudly_when_no_partition_comparable(spark):
    """ADVICE r16: off local filesystems _footer_rows returns None for
    EVERY file, so assert_lockstep skips every partition and the
    codes/vectors divergence guard silently does nothing — on exactly
    the deployments where _commit also degrades to delete+rename.  A
    pair whose partitions ALL lack row statistics must raise a
    RuntimeWarning saying the guard is inactive; a pair with at least
    one comparable partition must stay silent (per-partition skips are
    the documented local behavior)."""
    import warnings

    import pytest

    from data_integration_system_spark.pipeline import index_manifest as im

    def man(rows_a, rows_b):
        return {
            "relations": {
                "codes": {"partitions": {
                    k: {"rows": v, "files": []} for k, v in rows_a.items()
                }},
                "vectors": {"partitions": {
                    k: {"rows": v, "files": []} for k, v in rows_b.items()
                }},
            }
        }

    # every partition skipped (the remote-fs shape) -> loud warning
    with pytest.warns(RuntimeWarning, match="INACTIVE"):
        im.assert_lockstep(
            man({"0": None, "1": None}, {"0": None, "1": None}),
            [("codes", "vectors")],
            "idx",
        )
    # one comparable partition -> no warning, check still enforced
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        im.assert_lockstep(
            man({"0": None, "1": 5}, {"0": None, "1": 5}),
            [("codes", "vectors")],
            "idx",
        )
    with pytest.raises(im.ManifestLockstepError):
        im.assert_lockstep(
            man({"0": None, "1": 6}, {"0": None, "1": 5}),
            [("codes", "vectors")],
            "idx",
        )


def test_concurrent_manifest_reads_keep_conf_and_results(spark, tmp_path):
    """The r14 ADVICE race: _relation_df's discovery-threshold
    set/restore is session-global — 16 threads of manifest-backed reads
    (the documented handle serving shape) must neither strand the
    session at the raised threshold nor disturb each other's results.
    The window is now serialized under a module lock."""
    from concurrent.futures import ThreadPoolExecutor

    from data_integration_system_spark.pipeline import index_manifest as im

    idx = _build(spark, tmp_path)
    man = im.read_manifest(spark, idx)
    parts = sorted(int(k) for k in man["relations"]["codes"]["partitions"])
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(key)

    def one_read(i: int) -> int:
        probe = [parts[i % len(parts)]]
        df = im.read_relation(spark, idx, "codes", manifest=man,
                              partitions=probe)
        return df.count()

    with ThreadPoolExecutor(max_workers=16) as pool:
        got = list(pool.map(one_read, range(64)))
    want = [
        man["relations"]["codes"]["partitions"][str(parts[i % len(parts)])]["rows"]
        for i in range(64)
    ]
    assert got == want
    assert spark.conf.get(key) == before


def test_commit_is_atomic_overwrite_on_local_fs(spark, tmp_path):
    """On local filesystems the commit is os.replace — a reader polling
    read_manifest across many commits must NEVER see a missing manifest
    (the delete+rename fallback's window), and versions must be
    monotonic."""
    import threading

    from data_integration_system_spark.operators._common import local_rows_df
    from data_integration_system_spark.pipeline import index_manifest as im

    root = str(tmp_path / "tinyidx")
    local_rows_df(spark, [(1, "a")], "id long, s string").write.parquet(
        f"{root}/rel"
    )
    im.write_manifest(spark, root, {"rel": None})

    seen: list = []
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            seen.append(im.read_manifest(spark, root))

    t = threading.Thread(target=poll)
    t.start()
    try:
        for _ in range(25):
            im.write_manifest(spark, root, {"rel": None})
    finally:
        stop.set()
        t.join()
    assert seen and all(m is not None for m in seen)
    versions = [m["version"] for m in seen]
    assert versions == sorted(versions)
    assert not os.path.exists(f"{root}/.{im.MANIFEST_NAME}.tmp")


def test_emptied_relation_keeps_schema_and_reads_empty(spark, tmp_path):
    """A relation whose files all disappear between commits (compaction,
    retention expiry) keeps its stored schema across the re-commit, and
    read_relation returns an EMPTY result with that schema instead of
    raising — both for unpartitioned and fully-emptied partitioned
    relations (r14 ADVICE)."""
    from data_integration_system_spark.operators._common import local_rows_df
    from data_integration_system_spark.pipeline import index_manifest as im

    root = str(tmp_path / "emptyidx")
    rows = local_rows_df(spark, [(1, "x", 3)], "id long, s string, p int")
    rows.write.parquet(f"{root}/flat")
    rows.write.partitionBy("p").parquet(f"{root}/parts")
    im.write_manifest(spark, root, {"flat": None, "parts": "p"})

    for sub in ("flat", "parts"):
        for dirpath, _, names in os.walk(f"{root}/{sub}"):
            for n in names:
                if not n.startswith((".", "_")):
                    os.remove(f"{dirpath}/{n}")
    man2 = im.write_manifest(spark, root, {"flat": None, "parts": "p"})
    assert man2["relations"]["flat"]["schema_json"] is not None
    assert man2["relations"]["parts"]["schema_json"] is not None

    flat = im.read_relation(spark, root, "flat")
    assert flat.count() == 0 and set(flat.columns) == {"id", "s", "p"}
    parts = im.read_relation(spark, root, "parts")
    assert parts.count() == 0 and set(parts.columns) == {"id", "s", "p"}


def test_handle_and_oneshot_use_manifest_default_identically(spark, tmp_path):
    """The serving handle and the one-shot path must agree under the
    candidate-aware DEFAULT (both read the same manifest statistic),
    and a pre-manifest index (manifest deleted) must stay queryable
    through the directory-scan fallback with identical rows at the
    explicit knob."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        _PQ_SHORTLIST_X,
        open_ivfpq_index,
        query_ivfpq_index,
    )

    idx = _build(spark, tmp_path)
    emb = table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    vecs = emb.filter(F.col("vec_id") >= _N_QUERIES).select(
        "vec_id", "embedding"
    )
    oneshot = {
        tuple(r)
        for r in query_ivfpq_index(spark, idx, queries, vectors=vecs).collect()
    }
    handle = open_ivfpq_index(spark, idx)
    assert handle.codes is None  # manifest-backed: no held full read
    held = {tuple(r) for r in handle.query(queries, vectors=vecs).collect()}
    assert oneshot == held and len(held) > 0

    explicit = {
        tuple(r)
        for r in query_ivfpq_index(
            spark, idx, queries, vectors=vecs, shortlist_x=_PQ_SHORTLIST_X
        ).collect()
    }
    os.remove(f"{idx}/_manifest.json")
    fallback = {
        tuple(r)
        for r in query_ivfpq_index(
            spark, idx, queries, vectors=vecs, shortlist_x=_PQ_SHORTLIST_X
        ).collect()
    }
    assert fallback == explicit
    legacy = open_ivfpq_index(spark, idx)
    assert legacy.codes is not None  # fallback: held full read
    legacy_rows = {
        tuple(r)
        for r in legacy.query(
            queries, vectors=vecs, shortlist_x=_PQ_SHORTLIST_X
        ).collect()
    }
    assert legacy_rows == explicit


#: Spark jobs of one ``query_ivfpq_index(...).collect()`` on the sf0.001
#: index below (one tombstone present) when the one-shot path loaded the
#: index state itself and picked probes with a Spark crossJoin.
_ONESHOT_JOBS_BEFORE = 18


def test_oneshot_query_jobs_equal_open_plus_handle_query(spark, tmp_path):
    """The one-shot query IS open + handle.query: its Spark job count
    (job-group attribution) equals the open's plus one handle query's,
    and is below the count of the former self-loading one-shot path."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        delete_from_ivfpq_index,
        open_ivfpq_index,
        query_ivfpq_index,
    )

    idx = _build(spark, tmp_path)
    delete_from_ivfpq_index(spark, idx, [10**9])
    queries = table(spark, SF, "embeddings").filter(
        F.col("vec_id") < _N_QUERIES
    ).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup("", "")
        return len(tracker.getJobIdsForGroup(group)), out

    query_ivfpq_index(spark, idx, queries).collect()  # warm plan caches
    oneshot, rows = jobs(
        "ivfpq-oneshot", lambda: query_ivfpq_index(spark, idx, queries).collect()
    )
    opened, handle = jobs("ivfpq-open", lambda: open_ivfpq_index(spark, idx))
    queried, held = jobs("ivfpq-query", lambda: handle.query(queries).collect())
    assert {tuple(r) for r in rows} == {tuple(r) for r in held} and rows
    assert oneshot == opened + queried, (oneshot, opened, queried)
    assert oneshot < _ONESHOT_JOBS_BEFORE, oneshot

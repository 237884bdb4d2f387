"""Scale-pattern demonstrations, executed (not just documented):

* bucketed fact⋈fact join -> ZERO shuffle (the SCALE.md claim for the
  lineitem⋈orders join at 100 TB, proven on the real tables)
* date/key-partitioned layout -> partition pruning in the plan
* salting helpers -> identical results to the unsalted plans, with the
  hot key spread over n reducers
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_integration_system_spark.catalog import table
from data_integration_system_spark.functions.skew import salted_agg, salted_join
from data_integration_system_spark.plans.analyze import (
    partition_filters,
    shuffle_count,
    sortmerge_join_count,
)

SF = "/root/testdata/sf0.001"


def test_bucketed_join_eliminates_shuffle(spark):
    """Write lineitem+orders bucketed by the join key, join them with
    broadcast disabled: the plan must be a SortMergeJoin with NO
    Exchange — the shuffle happened once at write time, every later
    join is free. This is the 100 TB answer for recurring fact joins."""
    import shutil

    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    # the warehouse dir outlives the in-memory catalog: a fresh session's
    # DROP is a no-op on a table it never knew, leaving a stale location
    for t in ("li_b", "o_b"):
        shutil.rmtree(f"/tmp/dis-spark-warehouse/{t}", ignore_errors=True)
    table(spark, SF, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).mode("overwrite").saveAsTable("li_b")
    table(spark, SF, "orders").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).mode("overwrite").saveAsTable("o_b")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li, o = spark.table("li_b"), spark.table("o_b")
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "o_orderpriority", "l_extendedprice"
        )
        assert sortmerge_join_count(j) == 1
        assert shuffle_count(j) == 0  # bucketing removed the join shuffle
        # and it still computes the right thing
        plain = table(spark, SF, "lineitem").join(
            table(spark, SF, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert j.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """events written partitioned by event_type: an event_type filter
    must show up as a PartitionFilter (directories skipped, not rows
    filtered) — the layout move that mirrors the reference's btree
    indexes (SURVEY §4.1)."""
    d = str(tmp_path / "events_by_type")
    table(spark, SF, "events").write.partitionBy("event_type").parquet(d)
    df = spark.read.parquet(d).filter(F.col("event_type") == "click")
    pf = partition_filters(df, "events_by_type")
    assert any("event_type" in f for f in pf), pf
    want = (
        table(spark, SF, "events").filter(F.col("event_type") == "click").count()
    )
    assert df.count() == want


@pytest.fixture(scope="module")
def skewed(spark):
    """90% of rows share one hot key — the shape that stalls a naive
    single-reducer aggregation."""
    return spark.range(0, 10_000).select(
        F.when(F.col("id") % 10 != 0, "HOT").otherwise(
            F.concat(F.lit("k"), (F.col("id") % 97).cast("string"))
        ).alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )


def test_salted_agg_matches_plain(spark, skewed):
    got_sum = {r.k: r.sum_v for r in salted_agg(skewed, "k", {"v": "sum"}, 8).collect()}
    got_max = {r.k: r.max_v for r in salted_agg(skewed, "k", {"v": "max"}, 8).collect()}
    got_cnt = {r.k: r["count"] for r in salted_agg(skewed, "k", {"v": "count"}, 8).collect()}
    want = {
        r.k: (r.cnt, r.sum_v, r.max_v)
        for r in skewed.groupBy("k")
        .agg(F.count("*").alias("cnt"), F.sum("v").alias("sum_v"), F.max("v").alias("max_v"))
        .collect()
    }
    assert got_cnt == {k: v[0] for k, v in want.items()}
    assert got_sum == {k: v[1] for k, v in want.items()}
    assert got_max == {k: v[2] for k, v in want.items()}


def test_salted_join_matches_plain(spark, skewed):
    dim = spark.createDataFrame(
        [("HOT", "hot-dim")] + [(f"k{i}", f"d{i}") for i in range(97)],
        "k string, payload string",
    )
    got = salted_join(skewed, dim, "k", n_salt=8)
    plain = skewed.join(dim, "k")
    assert got.count() == plain.count()
    g = got.groupBy("k").count().collect()
    p = plain.groupBy("k").count().collect()
    assert {(r.k, r["count"]) for r in g} == {(r.k, r["count"]) for r in p}


def test_salt_varies_within_colocated_hot_key(spark, tmp_path):
    """The salt must vary WITHIN a key even when the hot key is
    co-located (key-partitioned input — exactly the layout that needs
    salting; a per-partition salt is constant there and mitigates
    nothing)."""
    d = str(tmp_path / "hot_by_key")
    spark.range(0, 5000).select(F.lit("HOT").alias("k"), F.col("id").alias("v")) \
        .repartition(1).write.partitionBy("k").parquet(d)
    df = spark.read.parquet(d)
    from data_integration_system_spark.functions.skew import _row_salt

    n_salts = df.select(_row_salt(8).alias("s")).select("s").distinct().count()
    assert n_salts > 1


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The materialized IVF index delivers its scale promise: the corpus
    scan reads ONLY the probed cent_id partitions (parquet partition
    pruning on the literal probe list), and results match the inline
    IVF query's top-k for the same parameters."""
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        build_ivf_index,
        query_ivf_index,
        similarity_ivf_topk,
    )

    idx = str(tmp_path / "ivf_index")
    build_ivf_index(spark, SF, idx)
    emb = table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    df = query_ivf_index(spark, idx, queries)

    # partition pruning visible in the plan: the corpus scan carries
    # cent_id partition filters, so unprobed partitions are never read
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cent_id" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]

    # identical parameters -> identical top-k as the inline query
    inline = {
        (r.q_id, r.c_id, r.rnk) for r in similarity_ivf_topk(spark, SF).collect()
    }
    indexed = {(r.q_id, r.c_id, r.rnk) for r in df.collect()}
    assert indexed == inline


def test_append_ivf_index_matches_full_build(spark, tmp_path):
    """Incremental ANN indexing: cold-start from a built index's
    centroids, appending the corpus in two halves, must answer every
    query identically to the one-shot build — assignment against FIXED
    centroids is deterministic, so the probe protocol can't tell the
    indexes apart (the append contract; centroid refits are the
    scheduled rebuild's job)."""
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        append_ivf_index,
        build_ivf_index,
        query_ivf_index,
    )

    full = str(tmp_path / "full")
    inc = str(tmp_path / "incremental")
    build_ivf_index(spark, SF, full)
    # incremental index: same centroids, corpus arrives as two appends
    spark.read.parquet(f"{full}/centroids").write.parquet(f"{inc}/centroids")
    emb = table(spark, SF, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= _N_QUERIES)
    append_ivf_index(spark, inc, corpus.filter(F.col("vec_id") % 2 == 0))
    append_ivf_index(spark, inc, corpus.filter(F.col("vec_id") % 2 == 1))

    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    want = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in query_ivf_index(spark, full, queries).collect()
    }
    got = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in query_ivf_index(spark, inc, queries).collect()
    }
    assert got == want and len(want) > 0

    # at-least-once redelivery: a replayed append duplicates index rows
    # but must not change any query's top-k (a duplicate would otherwise
    # hold two ranks)
    append_ivf_index(spark, inc, corpus.filter(F.col("vec_id") % 2 == 0))
    replay = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in query_ivf_index(spark, inc, queries).collect()
    }
    assert replay == want


def test_ngram_band_blocking_bounds_dominant_block(spark):
    """One dominant (lang, source) block must NOT go quadratic: the
    length-band conjunct splits it so candidates are bounded by
    per-band pair counts, while losing NO pair that survives the exact
    size-ratio prune (band diff <= 1 is implied by ratio <= 2)."""
    from data_integration_system_spark.operators.dedup import (
        _banded_block_candidates,
    )

    n_docs, n_bands = 480, 12
    sized = spark.range(0, n_docs).select(
        F.col("id").alias("doc_id"),
        F.lit("en").alias("lang"),
        F.lit("web").alias("source"),
        F.array(F.col("id")).alias("sh"),
        F.pow(F.lit(2), (F.col("id") % n_bands)).cast("int").alias("n"),
    )
    cand = _banded_block_candidates(sized).cache()
    got = cand.count()

    # exact: every ratio-surviving pair is produced exactly once
    sizes = [2 ** (i % n_bands) for i in range(n_docs)]
    want = sum(
        1
        for i in range(n_docs)
        for j in range(i + 1, n_docs)
        if min(sizes[i], sizes[j]) >= 0.5 * max(sizes[i], sizes[j])
    )
    assert got == want
    assert cand.select("doc_a", "doc_b").distinct().count() == got

    # bounded: far below the all-pairs blow-up of the dominant block
    all_pairs = n_docs * (n_docs - 1) // 2
    assert got < 0.3 * all_pairs
    cand.unpersist()


def test_minhash_index_partition_pruning(spark, tmp_path):
    """The materialized LSH index delivers its scale promise: the bands
    scan reads ONLY the probed bucket partitions, and self-querying the
    corpus reproduces the inline dedup_minhash_near pairs exactly."""
    from data_integration_system_spark.operators.dedup import (
        build_minhash_index,
        dedup_minhash_near,
        query_minhash_index,
    )

    idx = str(tmp_path / "mh_index")
    build_minhash_index(spark, SF, idx)
    docs = table(spark, SF, "documents")

    # pruning visible in the plan for a small query batch
    few = docs.filter(F.col("doc_id") < 3).select("doc_id", "text")
    df = query_minhash_index(spark, idx, few)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]

    # self-query == inline query, pair for pair, jaccard for jaccard
    inline = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup_minhash_near(spark, SF).collect()
    }
    indexed = {
        (r.q_id, r.c_id, r.jaccard)
        for r in query_minhash_index(spark, idx, docs)
        .filter(F.col("q_id") < F.col("c_id"))
        .collect()
    }
    assert indexed == inline and len(inline) > 0


def test_fingerprint_index_partition_pruning(spark, tmp_path):
    """Same contract for the winnowing inverted index: pruned posting
    lists, and self-query == fingerprint_overlap_pairs."""
    from data_integration_system_spark.operators.textops import (
        build_fingerprint_index,
        fingerprint_overlap_pairs,
        query_fingerprint_index,
    )

    idx = str(tmp_path / "fp_index")
    build_fingerprint_index(spark, SF, idx)
    docs = table(spark, SF, "documents")

    few = docs.filter(F.col("doc_id") < 3).select("doc_id", "text")
    df = query_fingerprint_index(spark, idx, few)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]

    inline = {
        (r.doc_a, r.doc_b, r.shared_fps)
        for r in fingerprint_overlap_pairs(spark, SF).collect()
    }
    indexed = {
        (r.q_id, r.c_id, r.shared_fps)
        for r in query_fingerprint_index(spark, idx, docs)
        .filter(F.col("q_id") < F.col("c_id"))
        .collect()
    }
    assert indexed == inline and len(inline) > 0


def test_salted_agg_bounds_reducer_load(spark, skewed):
    """The wiring claim behind run_job's per-domain report: after
    salting, the hot key's rows are spread over n_salt reducer groups,
    so the max per-group load drops by ~n_salt."""
    from data_integration_system_spark.functions.skew import _row_salt

    plain_max = (
        skewed.groupBy("k").count().agg(F.max("count")).head()[0]
    )
    salted_loads = (
        skewed.withColumn("_salt", _row_salt(8))
        .groupBy("k", "_salt")
        .count()
    )
    salted_max = salted_loads.agg(F.max("count")).head()[0]
    hot_groups = salted_loads.filter(F.col("k") == "HOT").count()
    assert hot_groups == 8           # hot key spread over all 8 salts
    assert salted_max <= plain_max / 4   # max reducer load bounded


def test_banded_candidates_label_payloads_by_doc_id(spark):
    """sh_a/n_a must belong to doc_a even when the adjacent-band match
    puts the lesser doc_id on the exploded side."""
    from data_integration_system_spark.operators.dedup import (
        _banded_block_candidates,
    )

    sized = spark.createDataFrame(
        [(5, "en", "w", [50], 4), (1, "en", "w", [10], 2)],
        "doc_id long, lang string, source string, sh array<long>, n int",
    )
    rows = _banded_block_candidates(sized).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (1, 5)
    assert (r.n_a, r.n_b) == (2, 4)
    assert (r.sh_a, r.sh_b) == ([10], [50])


# ---------------------------------------------------------------------------
# Connected components: alternating large-star/small-star
# ---------------------------------------------------------------------------


def _union_find_labels(pairs):
    """Reference component-min labels via driver-side union-find."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _cc_spark(spark, pairs, **kwargs):
    from data_integration_system_spark.operators.dedup import (
        connected_components_min_label,
    )

    df = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in pairs],
        "doc_a long, doc_b long",
    )
    return {
        r.doc_id: r.label
        for r in connected_components_min_label(df, **kwargs).collect()
    }


def test_cc_matches_union_find_on_random_graphs(spark):
    """Star contraction must label every node with its component minimum
    on arbitrary graphs: sparse, dense, and multi-component."""
    import random

    for seed, n, m in ((7, 60, 30), (11, 60, 90), (13, 40, 400)):
        rng = random.Random(seed)
        pairs = {
            tuple(sorted(rng.sample(range(n), 2))) for _ in range(m)
        }
        assert _cc_spark(spark, pairs) == _union_find_labels(pairs)


def test_cc_chain_converges_in_logarithmic_rounds(spark):
    """The reason for star contraction over min-label propagation: a
    128-node chain (diameter 127) must converge well under the round
    cap — propagation would need one round per hop."""
    chain = [(i, i + 1) for i in range(128)]
    labels = _cc_spark(spark, chain, max_rounds=10)
    assert labels == {i: 0 for i in range(129)}


def test_cc_empty_and_single_edge(spark):
    assert _cc_spark(spark, []) == {}
    assert _cc_spark(spark, [(4, 9)]) == {4: 4, 9: 4}


def test_cc_distributed_path_matches_union_find(spark, monkeypatch):
    """The star-contraction loop — the declared contract ABOVE
    _CC_LOCAL_EDGE_CAP — must itself stay union-find-correct: with the
    cap forced to 0 every graph takes the distributed path (ADVICE r17:
    the cap absorbed every <=400-edge test, leaving the loop untested).
    Includes the 128-node chain so the logarithmic-round convergence
    pin runs through star contraction again."""
    import random

    from data_integration_system_spark.operators import dedup

    monkeypatch.setattr(dedup, "_CC_LOCAL_EDGE_CAP", 0)
    for seed, n, m in ((7, 60, 30), (13, 40, 400)):
        rng = random.Random(seed)
        pairs = {tuple(sorted(rng.sample(range(n), 2))) for _ in range(m)}
        assert _cc_spark(spark, pairs) == _union_find_labels(pairs)
    chain = [(i, i + 1) for i in range(128)]
    assert _cc_spark(spark, chain, max_rounds=10) == {
        i: 0 for i in range(129)
    }


def test_cc_local_path_preserves_id_type(spark):
    """The bounded union-find fast path must return the INPUT pair
    column type (ADVICE r17: it hardcoded long, so int/string ids got a
    schema that silently changed with edge count)."""
    from data_integration_system_spark.operators.dedup import (
        connected_components_min_label,
    )

    df = spark.createDataFrame(
        [("b", "c"), ("a", "b")], "doc_a string, doc_b string"
    )
    out = connected_components_min_label(df)
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "string",
        "string",
    ]
    assert {(r.doc_id, r.label) for r in out.collect()} == {
        ("a", "a"),
        ("b", "a"),
        ("c", "a"),
    }


def test_dedup_clusters_labels_are_component_minima(spark):
    """End-to-end: dedup_clusters labels equal union-find over the
    actual near-dup pairs, and cluster_size counts members."""
    from collections import Counter

    from data_integration_system_spark.operators.dedup import (
        dedup_clusters,
        dedup_minhash_near,
    )

    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup_minhash_near(spark, SF).collect()
    ]
    want = _union_find_labels(pairs)
    got = {r.doc_id: r.cluster_rep for r in dedup_clusters(spark, SF).collect()}
    assert got == want and len(got) > 0
    sizes = Counter(want.values())
    for r in dedup_clusters(spark, SF).collect():
        assert r.cluster_size == sizes[r.cluster_rep]


def test_cc_matches_union_find_hypothesis(spark):
    """Randomized adversarial coverage beyond the fixed seeds: hypothesis
    draws arbitrary small graphs (self-loop-free) and star contraction
    must agree with union-find on every one. Example budget kept small —
    each example is a full distributed CC run."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    edge = st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ).filter(lambda e: e[0] != e[1])

    @given(pairs=st.lists(edge, min_size=0, max_size=60))
    @settings(max_examples=5, deadline=None)
    def check(pairs):
        canon = {(min(a, b), max(a, b)) for a, b in pairs}
        assert _cc_spark(spark, canon) == _union_find_labels(canon)

    check()


def test_pagerank_int_properties(spark):
    """Integer PageRank sanity on a known graph: a sink-fed chain ranks
    the sink highest; total mass stays near 1e9 (integer-division loss
    only); node order never matters."""
    from data_integration_system_spark.operators.graph import pagerank_int

    # star: three sources all point at the hub (no cycles, so finite
    # iterations can't rotate rank): hub max, sources equal and minimal
    edges = spark.createDataFrame(
        [("a", "hub", 2), ("b", "hub", 1), ("d", "hub", 3)],
        "src string, dst string, n long",
    )
    ranks = {r.node: r.rank_e9 for r in pagerank_int(edges).collect()}
    assert set(ranks) == {"a", "b", "d", "hub"}
    assert ranks["hub"] == max(ranks.values())    # all inflow lands here
    assert ranks["a"] == ranks["b"] == ranks["d"]  # sources: base rank only
    assert ranks["hub"] > 2 * ranks["a"]
    # weighted split: one source, two targets at 3:1 edge weight
    edges2 = spark.createDataFrame(
        [("s", "x", 3), ("s", "y", 1)], "src string, dst string, n long"
    )
    r2 = {r.node: r.rank_e9 for r in pagerank_int(edges2).collect()}
    assert r2["x"] > r2["y"] > 0                   # weight-proportional inflow


def test_pagerank_int_empty_graph(spark):
    """An empty edge set returns an empty (node, rank_e9) frame instead
    of dividing by zero on the node count."""
    from data_integration_system_spark.operators.graph import pagerank_int

    edges = spark.createDataFrame([], "src string, dst string, n long")
    out = pagerank_int(edges)
    assert out.columns == ["node", "rank_e9"]
    assert out.count() == 0


def test_pagerank_local_fast_path_matches_distributed(spark, monkeypatch):
    """The bounded driver-side power method (edge sets <=
    _PR_LOCAL_EDGE_CAP) must be bit-equal to the distributed loop — the
    declared contract above the cap — on graphs with cycles, weights,
    and dangling nodes.  Forces the distributed path by zeroing the cap
    and compares both results rank-for-rank."""
    from data_integration_system_spark.operators import graph

    rows = [
        ("a", "b", 3), ("b", "c", 1), ("c", "a", 2),  # weighted cycle
        ("c", "d", 5),                                # dangling sink d
        ("e", "a", 1), ("a", "c", 7),
    ]
    edges = spark.createDataFrame(rows, "src string, dst string, n long")
    local = {
        (r.node, r.rank_e9) for r in graph.pagerank_int(edges).collect()
    }
    monkeypatch.setattr(graph, "_PR_LOCAL_EDGE_CAP", 0)
    dist = {
        (r.node, r.rank_e9) for r in graph.pagerank_int(edges).collect()
    }
    assert local == dist and len(local) == 5


def test_shuffle_partition_plan_by_deployment(spark):
    """session.get_spark must not cap cluster shuffles at the local
    default: local masters keep the fixed 32, non-local masters derive
    from total cores (floor 200) with AQE initialPartitionNum headroom,
    and the env override wins everywhere."""
    from data_integration_system_spark.session import shuffle_partition_plan

    # local: fixed, no AQE override
    assert shuffle_partition_plan("local[32]", 32, {}) == (32, None)
    assert shuffle_partition_plan("local[*]", 8, {}) == (32, None)
    # cluster: 2x cores, floored at 200, 4x headroom for AQE to coalesce
    assert shuffle_partition_plan("spark://m:7077", 400, {}) == (800, 3200)
    assert shuffle_partition_plan("yarn", 16, {}) == (200, 800)
    assert shuffle_partition_plan("k8s://https://api:6443", 1000, {}) == (
        2000,
        8000,
    )
    # env override beats the heuristic in both modes
    env = {"SPARK_GRAFT_SHUFFLE_PARTITIONS": "96"}
    assert shuffle_partition_plan("local[4]", 4, env) == (96, 384)
    assert shuffle_partition_plan("yarn", 4000, env) == (96, 384)
    # the live (local) session really got the local setting
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"


def test_similarity_recall_floor(spark):
    """The recall@k evaluation must be meaningful: every query reports
    in [0, 100], the relation is one row per query, and mean recall
    clears a floor — an IVF probe that stopped finding true neighbors
    (e.g. a broken centroid assignment) fails here before any index
    ships."""
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        similarity_recall_at_k,
    )

    rows = similarity_recall_at_k(spark, SF).collect()
    assert len(rows) == _N_QUERIES
    assert all(0 <= r.recall_e2 <= 100 for r in rows)
    mean_recall = sum(r.recall_e2 for r in rows) / len(rows)
    # nprobe=3 over the label-count centroids at this SF recovers most
    # true neighbors; 40 is a loose floor that still catches breakage
    assert mean_recall >= 40, f"mean recall@5 collapsed: {mean_recall}"


def test_cobucket_api_join_and_agg_shuffle_free(spark, tmp_path):
    """pipeline.bucketize.cobucket: one API call lays out the fact pair
    bucketed+sorted on the join key; afterwards BOTH the equi-join and a
    groupBy on the bucket key plan ZERO Exchange, and each layout has
    exactly one file per bucket (files==buckets is what lets Spark trust
    the sortBy metadata)."""
    import glob

    from data_integration_system_spark.pipeline.bucketize import cobucket

    for t in ("li_cb", "o_cb"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    n = 8
    cobucket(
        [
            (table(spark, SF, "lineitem"), "li_cb", "lineitem", ["l_orderkey"]),
            (table(spark, SF, "orders"), "o_cb", "orders", ["o_orderkey"]),
        ],
        n_buckets=n,
        base_path=str(tmp_path),
    )
    for sub in ("lineitem", "orders"):
        files = glob.glob(f"{tmp_path}/{sub}/part-*")
        assert len(files) == n, files

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li, o = spark.table("li_cb"), spark.table("o_cb")
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "o_totalprice", "l_quantity"
        )
        assert sortmerge_join_count(j) == 1
        assert shuffle_count(j) == 0
        agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
        assert shuffle_count(agg) == 0  # bucket layout satisfies the
        # aggregation's clustering requirement too
        assert j.count() > 0 and agg.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_write_bucketed_rejects_non_power_of_two(spark, tmp_path):
    import pytest as _pytest

    from data_integration_system_spark.pipeline.bucketize import write_bucketed

    with _pytest.raises(ValueError):
        write_bucketed(
            table(spark, SF, "orders"),
            "o_badbuckets",
            str(tmp_path / "x"),
            ["o_orderkey"],
            n_buckets=6,
        )


def test_percentile_approx_error_floor(spark):
    """The sketch median must sit within 1% of the exact median per
    segment at accuracy=10000 — the pinned number behind trusting
    percentile_approx when groups outgrow exact-percentile sort memory."""
    from data_integration_system_spark.registry import get_queries

    rows = get_queries()["percentile_approx_check"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.abs_err_cents <= max(r.exact_median_cents * 0.01, 100), r


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Spark's runtime bloom-filter injection: a selective dim-side
    predicate on a shuffle join seeds a bloom filter that pre-filters
    the fact scan BEFORE the exchange — at 100 TB this is the difference
    between shuffling the whole fact and shuffling the matching slice.
    Forced on here (tiny sf would not cross the size thresholds);
    the pin is that the fact side carries a might_contain predicate."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = table(spark, SF, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        o = table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
        assert j.count() > 0
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_register_bucketed_survives_catalog_loss(spark, tmp_path):
    """A bucketed layout must be re-attachable after the (in-memory)
    catalog forgets it: drop the entries, re-register from the files
    with the same bucket spec, and the join is STILL Exchange-free."""
    from data_integration_system_spark.pipeline.bucketize import (
        cobucket,
        register_bucketed,
    )

    for t in ("li_rb", "o_rb"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    n = 8
    cobucket(
        [
            (table(spark, SF, "lineitem"), "li_rb", "lineitem", ["l_orderkey"]),
            (table(spark, SF, "orders"), "o_rb", "orders", ["o_orderkey"]),
        ],
        n_buckets=n,
        base_path=str(tmp_path),
    )
    # simulate a fresh session: the catalog entries are gone, files stay
    spark.sql("DROP TABLE li_rb")
    spark.sql("DROP TABLE o_rb")
    register_bucketed(
        spark, "li_rb", f"{tmp_path}/lineitem", ["l_orderkey"], n
    )
    register_bucketed(spark, "o_rb", f"{tmp_path}/orders", ["o_orderkey"], n)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li, o = spark.table("li_rb"), spark.table("o_rb")
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "o_totalprice"
        )
        assert sortmerge_join_count(j) == 1
        assert shuffle_count(j) == 0
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_semi_join_chain_shuffle_free(spark, tmp_path):
    """The curate.py 100 TB claim, executed: with the corpus and the
    per-stage survivor id-relations all bucketed on doc_id, the chained
    LEFT SEMI intersection plans ZERO Exchange — the whole curation
    composition rides the layout."""
    from pyspark.sql import functions as F

    from data_integration_system_spark.pipeline.bucketize import cobucket

    for t in ("docs_cb", "q_ids_cb", "d_ids_cb"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    docs = table(spark, SF, "documents")
    quality_ids = docs.filter(F.col("n_chars") > 100).select("doc_id")
    dedup_ids = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id")
    cobucket(
        [
            (docs, "docs_cb", "docs", ["doc_id"]),
            (quality_ids, "q_ids_cb", "q_ids", ["doc_id"]),
            (dedup_ids, "d_ids_cb", "d_ids", ["doc_id"]),
        ],
        n_buckets=8,
        base_path=str(tmp_path),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        curated = (
            spark.table("docs_cb")
            .join(spark.table("q_ids_cb"), "doc_id", "left_semi")
            .join(spark.table("d_ids_cb"), "doc_id", "left_semi")
        )
        assert shuffle_count(curated) == 0
        assert sortmerge_join_count(curated) == 2
        want = (
            docs.join(quality_ids, "doc_id", "left_semi")
            .join(dedup_ids, "doc_id", "left_semi")
            .count()
        )
        assert curated.count() == want > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_minhash_estimator_calibration(spark):
    """minhash_jaccard_error's reason to exist: the 32-lane signature
    estimate must track exact Jaccard within the binomial error bound.
    Pin mean |err| <= 2 sigma_max (sigma_max = sqrt(0.25/32) ~ 0.088,
    e4-scaled 884 -> 1768) and every estimate in [0, 1] — a signature-
    pipeline regression (wrong lane count, broken remix) decalibrates
    and fails this long before a correctness test notices."""
    from data_integration_system_spark.operators.dedup import (
        minhash_jaccard_error,
    )

    rows = minhash_jaccard_error(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) >= 5  # the synthetic corpus has near-dup pairs
    assert all(0 <= r.est_e4 <= 10_000 and 0 <= r.exact_e4 <= 10_000 for r in rows)
    mean_err = sum(r.abs_err_e4 for r in rows) / len(rows)
    assert mean_err <= 1768, f"estimator decalibrated: mean |err| {mean_err}"


def test_skew_report_diagnoses_hot_key(spark):
    """skew_report must surface the planted hot key with its share and a
    skew ratio that says 'mitigate' — the diagnostic that picks between
    AQE, hot-key drop, and salting."""
    from data_integration_system_spark.functions.skew import skew_report

    rows = [("hot", i) for i in range(900)] + [
        (f"k{j}", j) for j in range(100)
    ]
    df = spark.createDataFrame(rows, "k string, v long")
    rep = skew_report(df, ["k"], top_n=3)
    assert rep["n_keys"] == 101
    assert rep["max"] == 900
    assert rep["skew_ratio"] >= 100
    assert rep["top_keys"][0]["key"] == {"k": "hot"}
    assert rep["top_keys"][0]["share_e4"] == 9000


def test_skew_report_empty_input(spark):
    """An empty relation reports zeros instead of dying on None stats."""
    from data_integration_system_spark.functions.skew import skew_report

    df = spark.createDataFrame([], "k string, v long")
    rep = skew_report(df, ["k"])
    assert rep == {
        "n_keys": 0, "p50": 0, "p90": 0, "p99": 0, "max": 0,
        "skew_ratio": 0.0, "top_keys": [],
    }


def test_cluster_for_partitioned_write_task_count(spark, tmp_path):
    """The partitioned-write clustering must pin an EXPLICIT task count
    (min(n_values, shuffle partitions)) — a bare repartition(part_col)
    is an AQE coalesce target that collapses small index relations to
    ONE task writing every partition dir serially — while still landing
    exactly one file per partition value."""
    import glob as _glob

    from data_integration_system_spark.operators._common import (
        cluster_for_partitioned_write,
    )

    df = spark.range(0, 10_000).withColumn(
        "bucket", (F.col("id") % 64).cast("int")
    )
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out = cluster_for_partitioned_write(df, "bucket", 64)
    assert out.rdd.getNumPartitions() == min(64, n_shuffle)
    # fewer values than tasks: capped at the value count
    assert cluster_for_partitioned_write(df, "bucket", 4).rdd.getNumPartitions() == 4

    path = str(tmp_path / "idx")
    out.write.partitionBy("bucket").parquet(path)
    files = _glob.glob(f"{path}/bucket=*/*.parquet")
    dirs = _glob.glob(f"{path}/bucket=*")
    assert len(dirs) == 64
    assert len(files) == 64  # 1 file per value, not tasks x values


def test_pq_codebooks_deterministic_and_bounded(spark):
    """The PQ fit must be bit-deterministic (seedless by construction:
    hash-ordered sample + first-k-distinct init) and driver-bounded —
    rebuilds on the same corpus agree exactly, the serving invariant
    that lets codes and codebooks be written at different times."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        _PQ_K,
        _PQ_M,
        fit_pq_codebooks,
    )

    corpus = table(spark, SF, "embeddings").filter(F.col("vec_id") >= _N_QUERIES)
    b1 = fit_pq_codebooks(corpus)
    b2 = fit_pq_codebooks(corpus)
    assert b1 == b2
    assert len(b1) == _PQ_M and all(len(b) <= _PQ_K for b in b1)
    sub = len(b1[0][0])
    assert sub * _PQ_M == 64  # the embedding dim, split exactly


def test_pq_codes_are_m_bytes(spark):
    """The compression claim is literal: every encoded row is exactly m
    bytes (32x smaller than 64 float32s) — the whole point of the
    compressed-scan tier."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        _PQ_M,
        fit_pq_codebooks,
        pq_encode,
    )

    corpus = table(spark, SF, "embeddings").filter(F.col("vec_id") >= _N_QUERIES)
    books = fit_pq_codebooks(corpus)
    rows = pq_encode(corpus, books).collect()
    assert len(rows) == corpus.count()
    assert all(len(bytes(r.codes)) == _PQ_M for r in rows)


def test_pq_topk_recall_vs_brute_force(spark):
    """The registered similarity_pq_topk (ADC shortlist 8x k + exact
    re-rank) must recover the large majority of the brute-force top-5;
    rank-1 neighbors — what dedup/retrieval actually key on — must be
    near-perfect.  Floors are deliberately below measured values (the
    operator is approximate by construction; the pin is that the
    shortlist isn't broken, not a lucky constant)."""
    from data_integration_system_spark.registry import get_queries

    qs = get_queries()
    pq = {(r.q_id, r.c_id) for r in qs["similarity_pq_topk"](spark, SF).collect()}
    bf_rows = qs["similarity_topk"](spark, SF).collect()
    bf = {(r.q_id, r.c_id) for r in bf_rows}
    top1 = {(r.q_id, r.c_id) for r in bf_rows if r.rnk == 1}
    assert len(bf) > 0
    assert len(pq & bf) / len(bf) >= 0.6
    assert len(pq & top1) / len(top1) >= 0.75
    # exact re-rank means every reported cos_sim is TRUE cosine: any
    # pair PQ shares with brute force must carry the identical value
    bf_val = {(r.q_id, r.c_id): r.cos_sim for r in bf_rows}
    for r in qs["similarity_pq_topk"](spark, SF).collect():
        if (r.q_id, r.c_id) in bf_val:
            assert r.cos_sim == bf_val[(r.q_id, r.c_id)]


def test_pq_index_build_query_matches_inline(spark, tmp_path):
    """The materialized PQ index (codes + codebooks + meta on disk)
    must answer exactly like the inline fit+encode path — codebook
    write/read roundtrip cannot perturb a single code or rank — and
    pure-compressed mode (no vectors relation) must rank by ADC."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        build_pq_index,
        query_pq_index,
    )
    from data_integration_system_spark.registry import get_queries

    idx = str(tmp_path / "pq")
    build_pq_index(spark, SF, idx)
    emb = table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    corpus = emb.filter(F.col("vec_id") >= _N_QUERIES).select("vec_id", "embedding")
    got = sorted(
        tuple(r) for r in query_pq_index(spark, idx, queries, vectors=corpus).collect()
    )
    want = sorted(
        tuple(r) for r in get_queries()["similarity_pq_topk"](spark, SF).collect()
    )
    assert got == want and len(want) > 0
    adc_only = query_pq_index(spark, idx, queries)  # compressed-only mode
    rows = adc_only.collect()
    assert {r.q_id for r in rows} == {r[0] for r in queries.collect()}
    for q_id in {r.q_id for r in rows}:
        ds = [r.adc_dist for r in rows if r.q_id == q_id]
        assert ds == sorted(ds)  # ADC ranks ascending


def test_pq_index_ragged_codebooks_roundtrip(spark, tmp_path):
    """Low-cardinality sub-vector data makes fit_pq_codebooks emit FEWER
    than k centroids per subspace (first-k-distinct init); the index
    read-back must rebuild codebooks from the ACTUAL rows — the old
    [None]*k template left object-dtype holes that crashed the ADC scan
    (ADVICE r11, similarity.py:856)."""
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        _PQ_K,
        build_pq_index,
        fit_pq_codebooks,
        query_pq_index,
    )

    # two distinct 64-dim patterns -> every subspace sees <=2 distinct
    # sub-vectors, so every codebook is ragged (2 << k=16)
    pat = [[0.1] * 32 + [0.9] * 32, [0.9] * 32 + [0.1] * 32]
    rows = [(i, pat[i % 2], i % 2) for i in range(40)]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf}/embeddings.parquet")

    corpus = spark.read.parquet(f"{sf}/embeddings.parquet").filter(
        F.col("vec_id") >= _N_QUERIES
    )
    books = fit_pq_codebooks(corpus)
    assert all(len(b) < _PQ_K for b in books)  # the ragged precondition

    idx = str(tmp_path / "pq")
    build_pq_index(spark, sf, idx)
    queries = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))
    )
    got = query_pq_index(spark, idx, queries, vectors=corpus).collect()
    assert len(got) == 8 * 5  # every query answers a full top-5
    # pattern-0 queries must retrieve pattern-0 corpus vectors at rank 1
    for r in got:
        if r.rnk == 1:
            assert r.c_id % 2 == r.q_id % 2


def test_append_pq_index_matches_full_build(spark, tmp_path):
    """Incremental PQ indexing: cold-start from a built index's
    codebooks, appending the corpus codes in two halves, must answer
    every query identically to the one-shot build — pq_encode against
    FIXED books is deterministic, so the ADC scan can't tell the
    indexes apart (codebook refits are the scheduled rebuild's job,
    same contract as append_ivf_index)."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        append_pq_index,
        build_pq_index,
        query_pq_index,
    )

    full = str(tmp_path / "full")
    inc = str(tmp_path / "incremental")
    build_pq_index(spark, SF, full)
    # incremental index: same codebooks/meta, codes arrive as two appends
    spark.read.parquet(f"{full}/codebooks").write.parquet(f"{inc}/codebooks")
    spark.read.parquet(f"{full}/meta").write.parquet(f"{inc}/meta")
    emb = table(spark, SF, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= _N_QUERIES)
    append_pq_index(spark, inc, corpus.filter(F.col("vec_id") % 2 == 0))
    append_pq_index(spark, inc, corpus.filter(F.col("vec_id") % 2 == 1))

    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    vecs = corpus.select("vec_id", "embedding")
    want = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in query_pq_index(spark, full, queries, vectors=vecs).collect()
    }
    got = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in query_pq_index(spark, inc, queries, vectors=vecs).collect()
    }
    assert got == want and len(want) > 0

    # at-least-once redelivery: a replayed append duplicates code rows
    # (identical adc by determinism) but must not change any query's
    # top-k — a duplicate would otherwise hold two ranks
    append_pq_index(spark, inc, corpus.filter(F.col("vec_id") % 2 == 0))
    replay = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in query_pq_index(spark, inc, queries, vectors=vecs).collect()
    }
    assert replay == want
    # pure-ADC mode is replay-stable too
    adc_rows = query_pq_index(spark, inc, queries).collect()
    assert len(adc_rows) == len({(r.q_id, r.c_id) for r in adc_rows})


def test_ivfpq_index_matches_inline_and_prunes(spark, tmp_path):
    """The materialized IVF-PQ index must answer exactly like the inline
    similarity_ivfpq_topk plan (both fits deterministic, same explicit
    shortlist knob — the materialized DEFAULT is candidate-aware and
    covered by its own test), and the executed codes scan must read
    only the probed partitions' files — the manifest prunes at the
    FILE-LIST level, before Spark ever sees the other dirs."""
    import os

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        _PQ_SHORTLIST_X,
        build_ivfpq_index,
        query_ivfpq_index,
        similarity_ivfpq_topk,
    )
    from data_integration_system_spark.plans.metrics import executed_nodes

    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, SF, idx)
    emb = table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    vecs = emb.filter(F.col("vec_id") >= _N_QUERIES).select("vec_id", "embedding")
    df = query_ivfpq_index(
        spark, idx, queries, vectors=vecs, shortlist_x=_PQ_SHORTLIST_X
    )
    indexed = {(r.q_id, r.c_id, r.rnk, r.cos_sim) for r in df.collect()}

    total_files = sum(
        1
        for root, _, names in os.walk(f"{idx}/codes")
        for n in names
        if n.endswith(".parquet")
    )
    scanned = sum(
        n.metrics.get("numFiles", 0)
        for n in executed_nodes(df)
        if n.cls.startswith("FileSourceScan") and "/codes" in n.detail
    )
    assert 0 < scanned < total_files, (scanned, total_files)

    inline = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in similarity_ivfpq_topk(spark, SF).collect()
    }
    assert indexed == inline and len(inline) > 0


def test_append_ivfpq_index_matches_full_build(spark, tmp_path):
    """Incremental IVF-PQ growth: cold-start from a built index's FROZEN
    centroids + codebooks, appending the corpus in two halves, answers
    identically to the one-shot build; a replayed append (at-least-once
    redelivery) changes nothing."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        append_ivfpq_index,
        build_ivfpq_index,
        query_ivfpq_index,
    )

    full = str(tmp_path / "full")
    inc = str(tmp_path / "incremental")
    build_ivfpq_index(spark, SF, full)
    for side in ("centroids", "codebooks", "meta"):
        spark.read.parquet(f"{full}/{side}").write.parquet(f"{inc}/{side}")
    emb = table(spark, SF, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= _N_QUERIES)
    append_ivfpq_index(spark, inc, corpus.filter(F.col("vec_id") % 2 == 0))
    append_ivfpq_index(spark, inc, corpus.filter(F.col("vec_id") % 2 == 1))

    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    vecs = corpus.select("vec_id", "embedding")
    want = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in query_ivfpq_index(spark, full, queries, vectors=vecs).collect()
    }
    got = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in query_ivfpq_index(spark, inc, queries, vectors=vecs).collect()
    }
    assert got == want and len(want) > 0

    append_ivfpq_index(spark, inc, corpus.filter(F.col("vec_id") % 2 == 1))
    replay = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in query_ivfpq_index(spark, inc, queries, vectors=vecs).collect()
    }
    assert replay == want


def test_ivfpq_planted_twin_recall(spark, tmp_path):
    """On a corpus with real cluster structure (the regime IVF pruning
    assumes), every query's planted near-twin (cos ~0.99) must come back
    at rank 1 through the composed index: the twin's cluster is probed,
    its code survives the ADC shortlist, and the exact re-rank puts it
    first.  This is the recall statement that matters at 100 TB — the
    structureless uniform corpus bounds recall for ANY cluster-pruned
    method (same finding as the sign-LSH geometry work)."""
    import numpy as np

    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        build_ivfpq_index,
        query_ivfpq_index,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 64))
    n_per = 60
    rows = []
    for c in range(4):
        for i in range(n_per):
            v = centers[c] + 0.15 * rng.normal(size=64)
            rows.append((100 + c * n_per + i, [float(x) for x in v], c))
    # 8 queries: tiny perturbations of specific corpus vectors (the twins)
    twin_ids = [100 + c * n_per + 3 * c for c in range(4)] + [
        100 + c * n_per + 7 + c for c in range(4)
    ]
    by_id = {r[0]: r for r in rows}
    for q in range(_N_QUERIES):
        tid = twin_ids[q]
        tv = np.asarray(by_id[tid][1])
        qv = tv + 0.01 * rng.normal(size=64)
        rows.append((q, [float(x) for x in qv], by_id[tid][2]))
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf}/embeddings.parquet")

    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, sf, idx)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    vecs = emb.filter(F.col("vec_id") >= _N_QUERIES).select("vec_id", "embedding")
    got = query_ivfpq_index(spark, idx, queries, vectors=vecs).collect()
    rank1 = {r.q_id: r.c_id for r in got if r.rnk == 1}
    hits = sum(rank1.get(q) == twin_ids[q] for q in range(_N_QUERIES))
    assert hits == _N_QUERIES  # every twin recovered at rank 1


def test_emb_topk_cap_equals_uncapped_at_max_degree(spark):
    """The bounded-output contract: with cap >= the max true degree the
    capped mode is IDENTICAL to the full pair set (the within-bucket
    pre-cut and the global window both become non-binding, and the
    rounding path is shared); with cap=1 the output is a subset with
    per-doc degree <= 1 outgoing and every doc's BEST neighbor kept."""
    from collections import Counter

    from data_integration_system_spark.operators.dedup import (
        dedup_embedding_near,
    )

    full = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in dedup_embedding_near(spark, SF).collect()
    }
    assert full  # the corpus produces pairs at this threshold
    deg = Counter()
    for a, b in full:
        deg[a] += 1
        deg[b] += 1
    cap = max(deg.values())
    capped = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in dedup_embedding_near(spark, SF, top_k_neighbors=cap).collect()
    }
    assert capped == full

    one = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in dedup_embedding_near(spark, SF, top_k_neighbors=1).collect()
    }
    assert set(one) <= set(full)
    assert all(one[p] == full[p] for p in one)  # values untouched by capping
    # every doc's single BEST neighbor pair survives (kNN-graph floor)
    best: dict = {}
    for (a, b), s in full.items():
        for doc, other in ((a, b), (b, a)):
            cur = best.get(doc)
            if cur is None or (s, -other) > (cur[0], -cur[1]):
                best[doc] = (s, other)
    for doc, (s, other) in best.items():
        assert (min(doc, other), max(doc, other)) in one


def test_ann_recall_matrix_structure_and_floors(spark):
    """The tier-ladder quality matrix: every method reports every query,
    recall_e2 is a valid integer percent consistent with n_hits, and the
    per-tier mean recalls sit above loose sanity floors (the tight
    per-tier floors live in each tier's own test)."""
    from data_integration_system_spark.registry import get_queries

    rows = get_queries()["similarity_ann_recall_matrix"](spark, SF).collect()
    by_method: dict = {}
    for r in rows:
        by_method.setdefault(r.method, []).append(r)
        assert 0 <= r.n_hits <= 5
        assert r.recall_e2 == r.n_hits * 100 // 5
    assert set(by_method) == {"ivf", "pq", "ivfpq"}
    assert all(len(v) == 8 for v in by_method.values())  # every query reported
    mean = {m: sum(r.recall_e2 for r in v) / len(v) for m, v in by_method.items()}
    assert mean["pq"] >= 50
    assert mean["ivf"] >= 30
    assert mean["ivfpq"] >= 25  # doubly approximate on a structureless corpus


def test_emb_topk_cap_equality_on_random_corpora(spark, tmp_path):
    """The cap >= max-degree identity must hold on arbitrary
    distributions, not just the shipped corpus: two seeded random
    corpora (one dense near-dup regime via shared base patterns, one
    uniform) round-trip capped-vs-uncapped identically when the cap
    clears every doc's true degree."""
    import numpy as np

    from collections import Counter

    from data_integration_system_spark.operators.dedup import (
        dedup_embedding_near,
    )

    for seed, dense in ((11, True), (23, False)):
        rng = np.random.default_rng(seed)
        if dense:
            # 10 base patterns + small noise -> many pairs above threshold
            base = rng.normal(size=(10, 64))
            vecs = [
                base[i % 10] + 0.05 * rng.normal(size=64) for i in range(150)
            ]
        else:
            vecs = [rng.normal(size=64) for _ in range(150)]
        rows = [
            (i, [float(x) for x in v], i % 5) for i, v in enumerate(vecs)
        ]
        sf = str(tmp_path / f"sf{seed}")
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(f"{sf}/embeddings.parquet")

        full = {
            (r.vec_a, r.vec_b): r.cos_sim
            for r in dedup_embedding_near(spark, sf).collect()
        }
        deg = Counter()
        for a, b in full:
            deg[a] += 1
            deg[b] += 1
        cap = max(deg.values(), default=1)
        capped = {
            (r.vec_a, r.vec_b): r.cos_sim
            for r in dedup_embedding_near(
                spark, sf, top_k_neighbors=cap
            ).collect()
        }
        assert capped == full, f"seed {seed} (dense={dense}) diverged"
        if dense:
            assert len(full) > 300  # the dense regime really exercised it


def test_nearest_centroid_np_matches_hof(spark, tmp_path):
    """The BLAS assignment path (nearest_centroid's large-k branch) must
    assign every vector to the SAME centroid as the HOF argmax — same
    cosine ordering, same ties-to-lowest-id — on a fixed seeded
    clustered corpus, so crossing the _NP_ASSIGN_MIN_K threshold can
    never change an index's contents."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _elementwise_means,
        _nearest_centroid,
        _nearest_centroid_np,
        generate_clustered_embeddings,
    )

    root = str(tmp_path / "corpus")
    generate_clustered_embeddings(spark, root, n=400, n_clusters=20)
    emb = table(spark, root, "embeddings")
    cent = _elementwise_means(
        emb.select(F.col("label").alias("cent_id"), "embedding")
    ).localCheckpoint()
    df = emb.select("vec_id", "embedding")
    hof = {(r.vec_id, r.cent_id) for r in _nearest_centroid(df, cent).collect()}
    blas = {
        (r.vec_id, r.cent_id)
        for r in _nearest_centroid_np(df, cent.collect()).collect()
    }
    assert hof == blas and len(hof) == 400


def test_opq_rotation_pays_on_anisotropic_corpus(spark, tmp_path):
    """OPQ (Ge et al. CVPR 2013): build_ivfpq_index(mode="opq") learns an
    orthogonal rotation that decorrelates the subspace split.  Pinned
    on the seeded anisotropic fixture at the STARVED x=8 shortlist
    (where per-slot ADC resolution separates modes): OPQ recall@5 beats
    flat by a clear margin (measured 0.400 vs 0.275), the stored
    rotation is orthogonal, the mode round-trips through meta + the
    manifest, an APPENDED twin is findable (the append path loads and
    applies the rotation), and the serving handle matches the one-shot
    path exactly."""
    import numpy as np
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators import similarity as sim
    from data_integration_system_spark.pipeline import index_manifest as im

    root = str(tmp_path / "corpus")
    sim.generate_clustered_embeddings(spark, root, n=4000, n_clusters=20,
                                      sigma=0.3, cov_rank=8)
    emb = table(spark, root, "embeddings")
    queries = emb.filter(F.col("vec_id") < sim._N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    corpus = emb.filter(F.col("vec_id") >= sim._N_QUERIES).select(
        "vec_id", "embedding"
    )
    rows = corpus.collect()
    ids = np.asarray([r.vec_id for r in rows])
    X = np.asarray([list(r.embedding) for r in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    truth = {}
    for r in queries.collect():
        q = np.asarray(list(r.qe))
        q = q / np.linalg.norm(q)
        truth[r.q_id] = set(ids[np.argsort(-(Xn @ q))[:5]])

    def recall(idx):
        got: dict = {}
        for r in sim.query_ivfpq_index(spark, idx, queries, top_k=5,
                                       shortlist_x=8).collect():
            got.setdefault(r.q_id, set()).add(r.c_id)
        return sum(len(got.get(q, set()) & t) for q, t in truth.items()) / (
            5 * len(truth)
        )

    flat_idx = str(tmp_path / "flat")
    opq_idx = str(tmp_path / "opq")
    sim.build_ivfpq_index(spark, root, flat_idx, store_vectors=False)
    sim.build_ivfpq_index(spark, root, opq_idx, store_vectors=False, mode="opq")

    meta = spark.read.parquet(f"{opq_idx}/meta").head()
    assert meta["opq"] is True and meta["residual"] is False
    R = np.asarray(sim._read_rotation(spark, opq_idx, meta))
    assert float(np.abs(R @ R.T - np.eye(R.shape[0])).max()) < 1e-9
    man = im.read_manifest(spark, opq_idx)
    assert "rotation" in man["relations"]

    rf, ro = recall(flat_idx), recall(opq_idx)
    assert ro >= rf + 0.05, (rf, ro)

    # append path applies the stored rotation: a twin of query 0 must
    # win rank 1 through the rotated codes
    twin = queries.filter(F.col("q_id") == 0).select(
        F.lit(99_000_000).cast("long").alias("vec_id"),
        F.col("qe").alias("embedding"),
    )
    sim.append_ivfpq_index(spark, opq_idx, twin)
    got = {
        (r.q_id, r.c_id, r.rnk)
        for r in sim.query_ivfpq_index(spark, opq_idx, queries).collect()
    }
    assert (0, 99_000_000, 1) in got

    handle = sim.open_ivfpq_index(spark, opq_idx)
    a = {tuple(r) for r in sim.query_ivfpq_index(spark, opq_idx, queries).collect()}
    b = {tuple(r) for r in handle.query(queries).collect()}
    assert a == b


def test_lowrank_frac_debiasing_small_isotropic_clusters(spark, tmp_path):
    """The ADVICE-r15 regime pin: ISOTROPIC clusters whose sampled
    membership lands in the 16-40-row band (here ~20 rows/cluster —
    exactly the band sample_cap/k fan-out produces for mid-size
    corpora) must NOT be misread as structured.  The raw sample-
    covariance participation ratio is capped by row count (Wishart
    E[PR] ≈ d·n/(n+d+1): 0.19-0.32 raw for n=16-32, d=64 — below the
    0.35 threshold), so without debiasing mode="auto" would pick
    opq/residual on data where r13/r14 measured both as pure cost.
    The (n_c+d+1)/n_c correction sends isotropy back to ~1.0 AND keeps
    a genuinely low-rank corpus detectable at the same sample size —
    discrimination recovered, not just skipped."""
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators import similarity as sim

    def choice(root):
        emb = table(spark, root, "embeddings")
        corpus = emb.filter(F.col("vec_id") >= sim._N_QUERIES).select(
            "vec_id", "embedding"
        )
        cent = sim.fit_ivf_centroids(spark, root, lloyd_iters=2)
        assigned = sim.nearest_centroid(corpus, cent).localCheckpoint()
        cmap = sim._centroid_map(cent.collect())
        return sim.choose_codes_mode(assigned, cmap)

    # wide isotropic at ~20 sampled rows/cluster: the biased band.
    # Raw PR would read ~20/(20+65) ≈ 0.24 < 0.35 and misfire; the
    # debiased frac must sit clearly in the isotropic band.
    iso_small = str(tmp_path / "iso_small")
    sim.generate_clustered_embeddings(spark, iso_small, n=2000, n_clusters=100)
    mode, st = choice(iso_small)
    assert mode == "flat", st
    assert st["lowrank_frac"] is not None
    assert st["lowrank_frac"] > 0.7, st  # isotropy reads ~1.0 debiased

    # rank-8-of-64 at the SAME per-cluster sample size: still detected
    # (debiased ≈ (8/64)·(n+65)/(n+9) ≈ 0.3 at ~30 rows — under the
    # threshold, so the structure rule fires where it should)
    low_small = str(tmp_path / "low_small")
    sim.generate_clustered_embeddings(
        spark, low_small, n=2200, n_clusters=64, sigma=0.3, cov_rank=8
    )
    mode, st = choice(low_small)
    assert mode == "opq", st
    assert st["lowrank_frac"] <= sim._AUTO_LOWRANK_FRAC, st


def test_residual_auto_lands_on_the_winner_in_all_four_regimes(spark, tmp_path):
    """mode="auto" is the executable form of the four-regime
    evidence table (SCALE.md r13/r14/r15): flat on wide-isotropic
    clusters and on pure noise, residual on tight clusters (norm-ratio
    rule), opq on anisotropic low-rank residuals (structure rule — same
    norm ratio as the isotropic-flat regime, so the ratio alone CANNOT
    separate them; the per-cluster participation ratio does).  All four fixtures
    are seeded, so the choice is pinned, not probabilistic."""
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators import similarity as sim

    def choice(root):
        emb = table(spark, root, "embeddings")
        corpus = emb.filter(F.col("vec_id") >= sim._N_QUERIES).select(
            "vec_id", "embedding"
        )
        cent = sim.fit_ivf_centroids(spark, root, lloyd_iters=2)
        assigned = sim.nearest_centroid(corpus, cent).localCheckpoint()
        cmap = sim._centroid_map(cent.collect())
        mode, st = sim.choose_codes_mode(assigned, cmap)
        return st, mode

    # wide isotropic (d3c shape, sigma=0.15): flat — ratio in the wide
    # band, residual covariance ~isotropic
    iso = str(tmp_path / "iso")
    sim.generate_clustered_embeddings(spark, iso, n=2000, n_clusters=20)
    st, mode = choice(iso)
    assert mode == "flat"
    assert st["ratio"] > sim._AUTO_TIGHT_RATIO
    assert st["lowrank_frac"] > sim._AUTO_LOWRANK_FRAC

    # tight (d3t shape, sigma=0.05): residual, via the norm-ratio rule
    # (re-centering is the win — a rotation cannot shrink a norm)
    tight = str(tmp_path / "tight")
    sim.generate_clustered_embeddings(spark, tight, n=2000, n_clusters=20,
                                      sigma=0.05)
    st, mode = choice(tight)
    assert mode == "residual"
    assert st["ratio"] <= sim._AUTO_TIGHT_RATIO

    # anisotropic low-rank (d3l shape, sigma=0.3 rank 8): the STRUCTURE
    # rule — OPQ (residual's recall at 1.65x lower query cost, SCALE.md
    # r15)
    low = str(tmp_path / "lowrank")
    sim.generate_clustered_embeddings(spark, low, n=2000, n_clusters=20,
                                      sigma=0.3, cov_rank=8)
    st, mode = choice(low)
    assert mode == "opq"
    assert st["ratio"] > sim._AUTO_TIGHT_RATIO
    assert st["lowrank_frac"] <= sim._AUTO_LOWRANK_FRAC

    # noise (the unclustered synthetic embeddings table): flat — the
    # centroids resolve nothing, residual norm ~ vector norm
    st, mode = choice("/root/testdata/sf0.001")
    assert mode == "flat"
    assert st["ratio"] > sim._AUTO_TIGHT_RATIO

    # mode="auto" builds through the ladder: the low-rank fixture gets
    # an OPQ index end-to-end (rotation stored, meta flagged, queryable)
    idx = str(tmp_path / "idx_mode_auto")
    sim.build_ivfpq_index(spark, low, idx, mode="auto", store_vectors=False)
    meta = spark.read.parquet(f"{idx}/meta").head()
    assert meta["opq"] is True and meta["residual"] is False
    assert meta["residual_mode"] == "auto"
    emb = table(spark, low, "embeddings")
    queries = emb.filter(F.col("vec_id") < sim._N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    assert sim.query_ivfpq_index(spark, idx, queries).count() > 0


def test_residual_auto_build_logs_choice_into_meta(spark, tmp_path):
    """A full build with mode='auto' commits the chosen mode AND
    both measured statistics into {index}/meta (auditable rebuilds);
    explicit builds record mode='explicit' with NULL stats."""
    from data_integration_system_spark.operators import similarity as sim

    root = str(tmp_path / "tightcorpus")
    sim.generate_clustered_embeddings(spark, root, n=1500, n_clusters=15,
                                      sigma=0.05)
    idx = str(tmp_path / "idx_auto")
    sim.build_ivfpq_index(spark, root, idx, mode="auto")
    meta = spark.read.parquet(f"{idx}/meta").head()
    assert meta["residual"] is True  # tight regime -> residual
    assert meta["residual_mode"] == "auto"
    assert meta["auto_residual_ratio"] is not None
    assert meta["auto_residual_ratio"] <= sim._AUTO_TIGHT_RATIO
    # the built index answers queries through the normal path
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table

    emb = table(spark, root, "embeddings")
    queries = emb.filter(F.col("vec_id") < sim._N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    got = sim.query_ivfpq_index(spark, idx, queries).collect()
    assert len(got) > 0

    idx2 = str(tmp_path / "idx_explicit")
    sim.build_ivfpq_index(spark, root, idx2, mode="flat",
                          store_vectors=False)
    meta2 = spark.read.parquet(f"{idx2}/meta").head()
    assert meta2["residual"] is False
    assert meta2["residual_mode"] == "explicit"
    assert meta2["auto_residual_ratio"] is None


def test_clustered_corpus_generator_deterministic(spark, tmp_path):
    """Same (n, n_clusters, seed) => byte-identical corpus regardless of
    how generation was partitioned — the property that lets recall
    floors be pinned on generated data."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        generate_clustered_embeddings,
    )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    generate_clustered_embeddings(spark, a, n=300, n_clusters=17)
    generate_clustered_embeddings(spark, b, n=300, n_clusters=17)
    ra = {
        (r.vec_id, tuple(r.embedding), r.label)
        for r in table(spark, a, "embeddings").collect()
    }
    rb = {
        (r.vec_id, tuple(r.embedding), r.label)
        for r in table(spark, b, "embeddings").collect()
    }
    assert ra == rb and len(ra) == 300
    labels = {r[2] for r in ra}
    assert labels == set(range(17))


def test_clustered_generator_lowrank_geometry(spark, tmp_path):
    """cov_rank plants ANISOTROPIC clusters: residuals (vector minus the
    seeded true center) must concentrate in each cluster's own
    cov_rank-dim subspace — >=90% of residual energy in-subspace (the
    isotropic floor owns the rest), against ~cov_rank/dim (12.5% at
    4/32) for the isotropic mode.  Also deterministic across calls,
    like the isotropic path."""
    import numpy as np

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _CLUSTER_SEED,
        generate_clustered_embeddings,
    )

    root = str(tmp_path / "lowrank")
    dim, rank, k = 32, 4, 6
    generate_clustered_embeddings(
        spark, root, n=600, n_clusters=k, dim=dim, sigma=0.3,
        cov_rank=rank, sigma_floor=0.01,
    )
    rows = table(spark, root, "embeddings").collect()
    assert len(rows) == 600

    def center(c):
        g = np.random.default_rng((_CLUSTER_SEED << 20) ^ c).standard_normal(dim)
        return g / np.linalg.norm(g)

    def basis(c):
        g = np.random.default_rng((_CLUSTER_SEED << 24) ^ c).standard_normal(
            (dim, rank)
        )
        q, _ = np.linalg.qr(g)
        return q

    in_frac = []
    for r in rows:
        res = np.asarray(list(r.embedding), dtype=np.float64) - center(r.label)
        proj = basis(r.label).T @ res
        in_frac.append((proj @ proj) / max(res @ res, 1e-30))
    assert np.mean(in_frac) >= 0.90, np.mean(in_frac)

    again = str(tmp_path / "lowrank2")
    generate_clustered_embeddings(
        spark, again, n=600, n_clusters=k, dim=dim, sigma=0.3,
        cov_rank=rank, sigma_floor=0.01,
    )
    a = {(r.vec_id, tuple(r.embedding)) for r in rows}
    b = {
        (r.vec_id, tuple(r.embedding))
        for r in table(spark, again, "embeddings").collect()
    }
    assert a == b


def test_ivfpq_clustered_recall_floor_and_probed_fraction(spark):
    """The honest-regime loop end-to-end at test scale: planted-cluster
    corpus, k ~ sqrt(n) centroids, materialized IVFADC build, literal-
    partition-filter probe.  Pins (a) the recall floor the d3 campaign
    rows extend (clustered data + own-cluster probe => near-perfect
    recall at this scale), and (b) the PROBED FRACTION against actual
    files-read metrics: the codes scan must read only the probed
    partitions' files, a fraction ~ |union probe set| / k of the total
    — the claim 'probe cost is decoupled from corpus size' checked on
    executed-plan numbers, not on the plan string."""
    import math

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _IVFPQ_NPROBE,
        _N_QUERIES,
        _TOP_K,
        build_ivfpq_index,
        exact_topk_np,
        generate_clustered_embeddings,
        query_ivfpq_index,
    )
    from data_integration_system_spark.plans.metrics import executed_nodes
    from data_integration_system_spark.registry import get_queries

    rows = get_queries()["similarity_ivfpq_clustered_recall"](spark, SF).collect()
    n = table(spark, SF, "embeddings").count()
    k = max(_N_QUERIES + 2, math.isqrt(n))
    assert len(rows) == _N_QUERIES
    assert all(r.k_centroids == k for r in rows)
    mean_recall = sum(r.recall_e2 for r in rows) / len(rows)
    assert mean_recall >= 80, f"mean recall_e2 {mean_recall} below floor"

    # probed-fraction on executed metrics: rebuild the same index and
    # run the probe with the metrics hook
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="ivfpq_frac_")
    try:
        generate_clustered_embeddings(spark, root, n, k)
        idx = f"{root}/idx"
        build_ivfpq_index(spark, root, idx)
        emb = table(spark, root, "embeddings")
        qdf = emb.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
        )
        df = query_ivfpq_index(spark, idx, qdf)
        df.collect()
        scans = [
            nd
            for nd in executed_nodes(df)
            if nd.cls.startswith("FileSourceScanExec") and "/codes" in nd.detail
        ]
        assert scans, "codes scan node not found in executed plan"
        files_read = sum(nd.metrics.get("numFiles", 0) for nd in scans)
        import glob

        files_total = len(glob.glob(f"{idx}/codes/cent_id=*/*.parquet"))
        # union of 8 queries' nprobe=3 probe sets <= 24 partitions of k;
        # clustered queries share probes, so typically far fewer
        assert 0 < files_read <= _N_QUERIES * _IVFPQ_NPROBE
        assert files_read < files_total, (
            f"probe read ALL {files_total} files — partition pruning dead"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_ivfpq_lowrank_residual_gain_executes_with_floor(spark):
    """The fourth-regime comparison row (anisotropic low-rank clusters,
    both PQ modes at the STARVED x=8 shortlist): one row per query,
    recalls in range, and a functional floor — at this scale the
    low-rank geometry makes both modes near-ceiling (the d3l campaign
    row owns the flat-0.80/residual-0.90 direction claim at realistic
    fan-out); a collapse below the floor means the loop broke, not the
    regime."""
    from data_integration_system_spark.operators.similarity import _N_QUERIES
    from data_integration_system_spark.registry import get_queries

    rows = get_queries()["similarity_ivfpq_lowrank_residual_gain"](
        spark, SF
    ).collect()
    assert len(rows) == _N_QUERIES
    assert all(
        0 <= r.recall_flat_e2 <= 100 and 0 <= r.recall_residual_e2 <= 100
        for r in rows
    )
    mf = sum(r.recall_flat_e2 for r in rows) / len(rows)
    mr = sum(r.recall_residual_e2 for r in rows) / len(rows)
    assert mf >= 80 and mr >= 80, (mf, mr)


def test_exact_topk_np_matches_sql_bruteforce(spark):
    """The numpy truth path == similarity_topk's JVM brute force on the
    same corpus (ids and ranks; both order sim desc, c_id asc) — the
    prerequisite for trusting exact_topk_np as TRUTH at d3 scale where
    the SQL cross join is impractical."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        _TOP_K,
        exact_topk_np,
        similarity_topk,
    )

    emb = table(spark, SF, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= _N_QUERIES).select(
        "vec_id", "embedding"
    )
    q_rows = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id") < _N_QUERIES).collect()
    ]
    want = {
        (r.q_id, r.c_id, r.rnk)
        for r in similarity_topk(spark, SF).collect()
    }
    got = {
        (r.q_id, r.c_id, r.rnk)
        for r in exact_topk_np(corpus, q_rows, _TOP_K).collect()
    }
    assert got == want and len(want) == _N_QUERIES * _TOP_K


def test_ivfpq_residual_mode_identities(spark, tmp_path):
    """True-IVFADC residual encoding (r13): codes encode x_norm - c_norm
    against residual-fitted books, queries score per-probed-centroid
    LUTs.  Pins (a) the meta flag round-trips, (b) recall vs exact
    truth on the clustered corpus clears the floor, (c) incremental
    growth against the FROZEN centroids+books == one-shot residual
    build — the same grow/refit contract as the flat mode."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        _TOP_K,
        append_ivfpq_index,
        build_ivfpq_index,
        exact_topk_np,
        generate_clustered_embeddings,
        query_ivfpq_index,
    )

    root = str(tmp_path / "corpus")
    generate_clustered_embeddings(spark, root, n=400, n_clusters=20)
    full = str(tmp_path / "full")
    build_ivfpq_index(spark, root, full, mode="residual")
    meta = spark.read.parquet(f"{full}/meta").head()
    assert meta["residual"] is True

    emb = table(spark, root, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= _N_QUERIES).select(
        "vec_id", "embedding"
    )
    qdf = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    q_rows = [(r.q_id, list(r.qe)) for r in qdf.collect()]
    truth = {
        (r.q_id, r.c_id) for r in exact_topk_np(corpus, q_rows, _TOP_K).collect()
    }
    got_rows = query_ivfpq_index(spark, full, qdf, vectors=corpus).collect()
    got = {(r.q_id, r.c_id) for r in got_rows}
    assert len(got & truth) / len(truth) >= 0.8

    # incremental growth == one-shot (frozen centroids + residual books)
    inc = str(tmp_path / "incremental")
    for side in ("centroids", "codebooks", "meta"):
        spark.read.parquet(f"{full}/{side}").write.parquet(f"{inc}/{side}")
    whole = emb.filter(F.col("vec_id") >= _N_QUERIES)
    append_ivfpq_index(spark, inc, whole.filter(F.col("vec_id") % 2 == 0))
    append_ivfpq_index(spark, inc, whole.filter(F.col("vec_id") % 2 == 1))
    want = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in query_ivfpq_index(spark, full, qdf, vectors=corpus).collect()
    }
    grown = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in query_ivfpq_index(spark, inc, qdf, vectors=corpus).collect()
    }
    assert grown == want and len(want) > 0


def test_driver_probe_sets_match_spark_cosine_ranking(spark):
    """IVF-PQ probe selection runs driver-side in numpy; the reference
    is the Spark ranking it replaced — cosine via the JVM fold, best
    first, ties to the lowest cent_id — on the fitted sf0.001 centroids
    plus a duplicated centroid (an exact tie) at every nprobe."""
    from pyspark.sql import Window

    from data_integration_system_spark.functions.vectors import cosine
    from data_integration_system_spark.operators._common import local_rows_df
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        _probe_sets,
        fit_ivf_centroids,
    )

    fitted = fit_ivf_centroids(spark, SF).collect()
    rows = [(int(r.cent_id), list(r.centroid)) for r in fitted]
    rows.append((max(c for c, _ in rows) + 1, rows[0][1]))  # exact tie
    cent = local_rows_df(spark, rows, "cent_id long, centroid array<double>")
    qdf = table(spark, SF, "embeddings").filter(
        F.col("vec_id") < _N_QUERIES
    ).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))
    q_rows = [(r.q_id, list(r.qe)) for r in qdf.collect()]
    w = Window.partitionBy("q_id").orderBy(F.col("d").desc(), "cent_id")
    ranked = (
        qdf.crossJoin(F.broadcast(cent))
        .select("q_id", "cent_id", cosine("qe", "centroid").alias("d"))
        .withColumn("rn", F.row_number().over(w))
        .collect()
    )
    for nprobe in range(1, len(rows) + 1):
        want: dict = {}
        for r in ranked:
            if r.rn <= nprobe:
                want.setdefault(int(r.q_id), set()).add(int(r.cent_id))
        assert _probe_sets(q_rows, cent.collect(), nprobe) == want, nprobe


def _crossjoin_ivf_topk(queries, cent, corpus, nprobe=3, top_k=5):
    """The Spark ranking the IVF tier ran before driver-side probes:
    queries crossJoined with the broadcast centroids, the nprobe best
    by cosine per query in a window (ties to the lowest cent_id), then
    the probed corpus rows ranked by cosine in a second window."""
    from pyspark.sql import Window

    from data_integration_system_spark.functions.vectors import cosine

    probe_w = Window.partitionBy("q_id").orderBy(F.col("d").desc(), "cent_id")
    probes = (
        queries.crossJoin(F.broadcast(cent))
        .select("q_id", "qe", "cent_id", cosine("qe", "centroid").alias("d"))
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= nprobe)
        .select("q_id", "qe", "cent_id")
    )
    top_w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "c_id")
    ranked = (
        probes.join(corpus, "cent_id")
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            cosine("qe", "embedding").alias("sim"),
        )
        .withColumn("rn", F.row_number().over(top_w))
        .filter(F.col("rn") <= top_k)
        .select(
            "q_id",
            "c_id",
            F.col("rn").cast("long").alias("rnk"),
            F.round("sim", 4).alias("cos_sim"),
        )
    )
    return {tuple(r) for r in ranked.collect()}


def test_ivf_tier_driver_probes_match_crossjoin_ranking_and_job_budget(
    spark, tmp_path
):
    """Both IVF paths rank probes with _probe_sets over collected
    queries and centroids; their rows equal the crossJoin + window
    ranking they replaced (kept above as the reference), and a warm run
    stays inside its Spark-job budget: similarity_ivf_topk <= 25
    (measured 23; 28 with the crossJoin ranking and a localCheckpoint
    per Lloyd round), query_ivf_index <= 9 for 8 and for 40 queries
    (measured 8; 11 with the checkpointed crossJoin probes and the
    distinct collect)."""
    from data_integration_system_spark.operators._common import parallelize_scan
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        build_ivf_index,
        fit_ivf_centroids,
        nearest_centroid,
        query_ivf_index,
        similarity_ivf_topk,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup("", "")
        return len(tracker.getJobIdsForGroup(group)), out

    emb = table(spark, SF, "embeddings")
    cent = fit_ivf_centroids(spark, SF)
    corpus = parallelize_scan(emb).filter(F.col("vec_id") >= _N_QUERIES)
    assigned = nearest_centroid(corpus.select("vec_id", "embedding"), cent)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    want = _crossjoin_ivf_topk(queries, cent, assigned)
    similarity_ivf_topk(spark, SF).collect()  # warm plan caches
    n_jobs, rows = jobs(
        "ivf-topk", lambda: similarity_ivf_topk(spark, SF).collect()
    )
    assert {tuple(r) for r in rows} == want and len(want) == 5 * _N_QUERIES
    assert n_jobs <= 25, n_jobs

    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, SF, idx)
    stored = spark.read.parquet(f"{idx}/centroids")
    indexed = spark.read.parquet(f"{idx}/corpus").dropDuplicates(["vec_id"])
    for n_q in (_N_QUERIES, 40):
        qs = emb.filter(F.col("vec_id") < n_q).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
        )
        want = _crossjoin_ivf_topk(qs, stored, indexed)
        query_ivf_index(spark, idx, qs).collect()  # warm
        n_jobs, rows = jobs(
            f"ivf-query-{n_q}", lambda: query_ivf_index(spark, idx, qs).collect()
        )
        assert {tuple(r) for r in rows} == want and len(want) == 5 * n_q
        assert n_jobs <= 9, (n_q, n_jobs)


def test_similarity_pq_topk_catalog_rerank_job_budget(spark):
    """similarity_pq_topk re-ranks against the catalog embeddings, which
    hold one row per vec_id, so its candidates take no dedup shuffle: a
    warm run stays within 13 Spark jobs (14 with the dedup) and still
    ranks each query's top-k over distinct ids."""
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        _TOP_K,
        similarity_pq_topk,
    )

    sc = spark.sparkContext
    similarity_pq_topk(spark, SF).collect()  # warm plan caches
    sc.setJobGroup("pq-topk", "pq-topk")
    try:
        rows = similarity_pq_topk(spark, SF).collect()
    finally:
        sc.setJobGroup("", "")
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("pq-topk"))
    assert len({(r.q_id, r.c_id) for r in rows}) == len(rows) == _N_QUERIES * _TOP_K
    assert n_jobs <= 13, n_jobs


def test_build_ivfpq_index_names_the_four_modes(spark, tmp_path):
    """One code-mode knob with four values: the removed composition
    (and any other value) is refused before any fit runs."""
    from data_integration_system_spark.operators.similarity import (
        build_ivfpq_index,
    )

    with pytest.raises(ValueError) as err:
        build_ivfpq_index(spark, SF, str(tmp_path / "x"), mode="residual+opq")
    for mode in ("flat", "residual", "opq", "auto"):
        assert f"'{mode}'" in str(err.value)
    assert not (tmp_path / "x").exists()


def test_ivfpq_handle_matches_oneshot_and_sees_appends_on_reopen(spark, tmp_path):
    """The serving handle (open_ivfpq_index): identical answers to the
    one-shot query path on the same index, repeated queries reuse the
    held codes relation, and the staleness contract is explicit —
    appends are invisible through the cached listing until reopen()."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        append_ivfpq_index,
        build_ivfpq_index,
        open_ivfpq_index,
        query_ivfpq_index,
    )

    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, SF, idx)
    emb = table(spark, SF, "embeddings")
    qdf = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    vecs = emb.filter(F.col("vec_id") >= _N_QUERIES).select(
        "vec_id", "embedding"
    )
    want = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in query_ivfpq_index(spark, idx, qdf, vectors=vecs).collect()
    }
    h = open_ivfpq_index(spark, idx)
    got = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in h.query(qdf, vectors=vecs).collect()
    }
    assert got == want and len(want) > 0
    # append new ids far above the corpus range: invisible until reopen
    shifted = vecs.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    append_ivfpq_index(spark, idx, shifted)
    stale = {
        (r.q_id, r.c_id, r.rnk, r.cos_sim)
        for r in h.query(qdf, vectors=vecs).collect()
    }
    assert stale == want  # cached listing: append invisible
    fresh_ids = {
        r.c_id for r in h.reopen().query(qdf).collect()
    }
    assert any(c >= 10_000_000 for c in fresh_ids)  # duplicate twins rank


def test_residual_beats_flat_on_tight_clusters(spark, tmp_path):
    """The regime where residual IVFADC earns its keep, pinned at test
    scale: TIGHT clusters (sigma=0.05 — members nearly identical, so
    flat global codebooks cannot resolve intra-cluster order while
    residual books are sized to the tiny residual ball).  Deterministic
    seeded corpus; at d3 scale the same geometry measures residual
    0.45 vs flat 0.075 at the default shortlist (SCALE.md r13,
    SCALE_REHEARSAL_RECALL.json "d3_tight")."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        build_ivfpq_index,
        exact_topk_np,
        generate_clustered_embeddings,
        query_ivfpq_index,
    )

    root = str(tmp_path / "corpus")
    generate_clustered_embeddings(spark, root, n=2000, n_clusters=44, sigma=0.05)
    emb = table(spark, root, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 8).select("vec_id", "embedding")
    qdf = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    q_rows = [(r.q_id, list(r.qe)) for r in qdf.collect()]
    truth = {
        (r.q_id, r.c_id) for r in exact_topk_np(corpus, q_rows, 5).collect()
    }
    recall = {}
    for mode in ("flat", "residual"):
        idx = str(tmp_path / f"idx_{mode}")
        build_ivfpq_index(spark, root, idx, mode=mode)
        got = {
            (r.q_id, r.c_id)
            for r in query_ivfpq_index(
                spark, idx, qdf, vectors=corpus, nprobe=3, shortlist_x=1
            ).collect()
        }
        recall[mode] = len(got & truth) / len(truth)
    assert recall["residual"] > recall["flat"], recall


def test_sq8_vectors_relation_decodes_and_serves(spark, tmp_path):
    """store_vectors="sq8" (r16): the index-resident re-rank relation
    stored scalar-quantized (per-vector affine uint8 over the unit
    vector).  Pins: (a) on-disk bytes at least 2.8x under the float
    relation (the storage/IO claim: ~3.05x measured here — snappy
    already ~2x-compresses the double pages, so the 8x raw-bytes
    ratio lands at ~3x on disk), (b) JVM decode reconstructs each component
    within vscale/2 + eps of the true normalized value, (c) top-k
    recall through the index-resident re-rank matches the float-vector
    index, (d) the append path detects the sq8 schema and encodes its
    batch the same way (twin wins rank 1 through appended sq8 rows)."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators import similarity as sim

    root = str(tmp_path / "corpus")
    # big enough files (~2k rows each) that the bytes ratio measures
    # DATA pages, not per-file parquet overhead — at 100-row files the
    # footer/dictionary floor hides the 4x
    sim.generate_clustered_embeddings(spark, root, n=20_000, n_clusters=10)
    emb = table(spark, root, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= sim._N_QUERIES).select(
        "vec_id", "embedding"
    )
    queries = emb.filter(F.col("vec_id") < sim._N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    q_rows = [(r.q_id, list(r.qe)) for r in queries.collect()]
    truth = {
        (int(r.q_id), int(r.c_id))
        for r in sim.exact_topk_np(corpus, q_rows, sim._TOP_K).collect()
    }

    fidx = str(tmp_path / "idx_float")
    qidx = str(tmp_path / "idx_sq8")
    sim.build_ivfpq_index(spark, root, fidx)
    sim.build_ivfpq_index(spark, root, qidx, store_vectors="sq8")

    def rel_bytes(path):
        total = 0
        for dirpath, _dirs, files in os.walk(path):
            total += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files
                if f.endswith(".parquet")
            )
        return total

    fb, qb = rel_bytes(f"{fidx}/vectors"), rel_bytes(f"{qidx}/vectors")
    assert qb * 2.8 <= fb, (qb, fb)

    # decode accuracy: every component within vscale/2 (+ float eps)
    stored = {
        int(r.vec_id): (list(r.vq), float(r.vmin), float(r.vscale))
        for r in spark.read.parquet(f"{qidx}/vectors").limit(50).collect()
    }
    orig = {
        int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
        for r in corpus.filter(
            F.col("vec_id").isin(*stored.keys())
        ).collect()
    }
    for vid, (vq, vmin, vscale) in stored.items():
        x = orig[vid]
        x = x / np.linalg.norm(x)
        dec = vmin + np.asarray(vq, dtype=np.float64) * vscale
        assert np.abs(dec - x).max() <= vscale / 2 + 1e-12

    def recall(idx):
        got = {
            (int(r.q_id), int(r.c_id))
            # vectors=None -> the INDEX-RESIDENT relation re-ranks
            for r in sim.query_ivfpq_index(spark, idx, queries).collect()
        }
        return len(got & truth) / len(truth)

    rf, rq = recall(fidx), recall(qidx)
    assert rq >= rf, (rf, rq)

    twin = queries.filter(F.col("q_id") == 0).select(
        F.lit(99_000_000).cast("long").alias("vec_id"),
        F.col("qe").alias("embedding"),
    )
    sim.append_ivfpq_index(spark, qidx, twin)
    appended = spark.read.parquet(f"{qidx}/vectors").filter(
        F.col("vec_id") == 99_000_000
    )
    assert "vq" in appended.columns and appended.count() == 1
    got = {
        (r.q_id, r.c_id, r.rnk)
        for r in sim.query_ivfpq_index(spark, qidx, queries).collect()
    }
    assert (0, 99_000_000, 1) in got


def test_ivfpq_delete_lifecycle(spark, tmp_path):
    """Tombstone deletes (r16): delete hides an id on EVERY query path
    (inline resident re-rank, pure-ADC, open handle snapshot) without
    consuming a top-k slot; re-delete is idempotent; re-append
    un-deletes with fresh encoding and no duplicate ranked rows;
    rebuild clears the tombstones relation (physical compaction)."""
    import os

    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators import similarity as sim

    root = str(tmp_path / "corpus")
    sim.generate_clustered_embeddings(spark, root, n=2000, n_clusters=20)
    emb = table(spark, root, "embeddings")
    qdf = emb.filter(F.col("vec_id") < sim._N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    ).localCheckpoint()
    idx = str(tmp_path / "idx")
    sim.build_ivfpq_index(spark, root, idx)
    twin = qdf.filter(F.col("q_id") == 0).select(
        F.lit(99_000_000).cast("long").alias("vec_id"),
        F.col("qe").alias("embedding"),
    )
    sim.append_ivfpq_index(spark, idx, twin)

    def result(df):
        return {(r.q_id, r.c_id, r.rnk) for r in df.collect()}

    got = result(sim.query_ivfpq_index(spark, idx, qdf))
    assert (0, 99_000_000, 1) in got

    handle_pre = sim.open_ivfpq_index(spark, idx)  # snapshot BEFORE delete
    assert sim.delete_from_ivfpq_index(spark, idx, [99_000_000]) == 1
    # idempotent: re-delete writes nothing
    assert sim.delete_from_ivfpq_index(spark, idx, [99_000_000]) == 0

    res = sim.query_ivfpq_index(spark, idx, qdf)
    got = result(res)
    assert not any(c == 99_000_000 for _q, c, _r in got)
    # the tombstone frees its SLOT: query 0 still gets a full top-k
    assert sum(1 for q, _c, _r in got if q == 0) == sim._TOP_K

    # pure-ADC path (no vectors relation consulted) is filtered too
    adc = result(
        sim.query_ivfpq_index(spark, idx, qdf, vectors=None)
        if not os.path.exists(f"{idx}/vectors")
        else sim.query_ivfpq_index(spark, idx, qdf)
    )
    assert not any(c == 99_000_000 for _q, c, _r in adc)

    # open-time snapshot semantics: the pre-delete handle still sees
    # the twin; reopen picks the delete up
    assert (0, 99_000_000, 1) in result(handle_pre.query(qdf))
    handle_pre.reopen()
    assert not any(
        c == 99_000_000 for _q, c, _r in result(handle_pre.query(qdf))
    )

    # un-delete: re-append restores visibility at rank 1 with NO
    # duplicate ranked rows despite duplicate codes/vectors rows
    sim.append_ivfpq_index(spark, idx, twin)
    rows = sim.query_ivfpq_index(spark, idx, qdf).collect()
    got = {(r.q_id, r.c_id, r.rnk) for r in rows}
    assert (0, 99_000_000, 1) in got
    assert len(rows) == len({(r.q_id, r.c_id) for r in rows})  # no dups
    assert not os.path.exists(f"{idx}/tombstones/_SUCCESS") or (
        spark.read.parquet(f"{idx}/tombstones").count() == 0
    )

    # rebuild compacts: tombstone something, rebuild in place, relation gone
    sim.delete_from_ivfpq_index(spark, idx, [99_000_000])
    sim.build_ivfpq_index(spark, root, idx)
    assert not os.path.exists(f"{idx}/tombstones")


def test_filtered_ann_pre_filter_preserves_recall(spark, tmp_path):
    """Filtered ANN (r16): query_ivfpq_index(allowed=...) pre-filters
    the codes scan BEFORE shortlisting.  Pins: (a) no returned id ever
    violates the predicate, (b) recall-within-the-filter against exact
    filtered truth stays high even under a SELECTIVE predicate
    (1-in-16 of the corpus) — the regime where post-filtering an
    unfiltered shortlist starves (almost every unfiltered shortlist
    slot goes to a disallowed candidate), pinned by comparing against
    exactly that post-filter construction, (c) the handle path honors
    the same parameter."""
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators import similarity as sim

    root = str(tmp_path / "corpus")
    sim.generate_clustered_embeddings(spark, root, n=2000, n_clusters=20)
    emb = table(spark, root, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= sim._N_QUERIES).select(
        "vec_id", "embedding"
    )
    allowed = corpus.filter(F.col("vec_id") % 16 == 0).select("vec_id")
    qdf = emb.filter(F.col("vec_id") < sim._N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    q_rows = [(r.q_id, list(r.qe)) for r in qdf.collect()]
    truth = {
        (int(r.q_id), int(r.c_id))
        for r in sim.exact_topk_np(
            corpus.filter(F.col("vec_id") % 16 == 0), q_rows, sim._TOP_K
        ).collect()
    }
    idx = str(tmp_path / "idx")
    sim.build_ivfpq_index(spark, root, idx)

    got_rows = sim.query_ivfpq_index(spark, idx, qdf, allowed=allowed).collect()
    assert all(r.c_id % 16 == 0 for r in got_rows)  # (a)
    got = {(int(r.q_id), int(r.c_id)) for r in got_rows}
    pre_recall = len(got & truth) / len(truth)

    # the post-filter construction: unfiltered top-k, THEN drop
    # disallowed — the starved alternative (measured 0.0 here: almost
    # every unfiltered top-k slot goes to a disallowed candidate)
    post_rows = sim.query_ivfpq_index(spark, idx, qdf).collect()
    post = {
        (int(r.q_id), int(r.c_id)) for r in post_rows if r.c_id % 16 == 0
    }
    post_recall = len(post & truth) / len(truth)
    assert pre_recall > post_recall + 0.3, (pre_recall, post_recall)  # (b)

    # a selective filter thins PER-CLUSTER candidates, so filtered
    # search raises nprobe with selectivity (the documented operating
    # rule): at nprobe=3 the filter-blind probes bound recall (~0.5
    # here); widening probes recovers it
    wide = {
        (int(r.q_id), int(r.c_id))
        for r in sim.query_ivfpq_index(
            spark, idx, qdf, allowed=allowed, nprobe=10
        ).collect()
    }
    wide_recall = len(wide & truth) / len(truth)
    assert wide_recall >= 0.8, (pre_recall, wide_recall)
    assert wide_recall > pre_recall, (pre_recall, wide_recall)

    h = sim.open_ivfpq_index(spark, idx)
    hand = {
        (int(r.q_id), int(r.c_id))
        for r in h.query(qdf, allowed=allowed).collect()
    }
    assert hand == got  # (c)


def test_r16_features_compose_on_one_index(spark, tmp_path):
    """The r16 additions must COMPOSE, not just coexist: one index
    built with OPQ codes AND SQ8-quantized resident vectors, queried
    with a metadata pre-filter AND live tombstones — results honor all
    four at once (allowed-only, no deleted ids, served through the
    rotated codes and the quantized re-rank), and the handle path
    agrees with the inline path."""
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators import similarity as sim

    root = str(tmp_path / "corpus")
    sim.generate_clustered_embeddings(
        spark, root, n=2000, n_clusters=20, sigma=0.3, cov_rank=8
    )
    emb = table(spark, root, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= sim._N_QUERIES).select(
        "vec_id", "embedding"
    )
    qdf = emb.filter(F.col("vec_id") < sim._N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    ).localCheckpoint()
    idx = str(tmp_path / "idx")
    sim.build_ivfpq_index(spark, root, idx, mode="opq", store_vectors="sq8")
    meta = spark.read.parquet(f"{idx}/meta").head()
    assert meta["opq"] is True
    assert "vq" in spark.read.parquet(f"{idx}/vectors").columns

    allowed = corpus.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    base = sim.query_ivfpq_index(
        spark, idx, qdf, allowed=allowed, nprobe=8
    ).collect()
    assert base and all(r.c_id % 2 == 0 for r in base)

    victims = sorted({r.c_id for r in base if r.rnk == 1})[:2]
    sim.delete_from_ivfpq_index(spark, idx, victims)
    after = sim.query_ivfpq_index(
        spark, idx, qdf, allowed=allowed, nprobe=8
    ).collect()
    assert all(r.c_id % 2 == 0 for r in after)
    assert not any(r.c_id in set(victims) for r in after)
    # deletes free slots even under the filter: still a full result set
    assert len({(r.q_id, r.rnk) for r in after}) == len(after)
    assert len(after) >= len(base) - 2 * len(victims)

    h = sim.open_ivfpq_index(spark, idx)
    hand = {
        tuple(r) for r in h.query(qdf, allowed=allowed, nprobe=8).collect()
    }
    assert hand == {tuple(r) for r in after}


def test_doc_index_delete_lifecycle_minhash_and_fingerprint(spark, tmp_path):
    """Document takedown on the near-dup surfaces (r16): for BOTH the
    minhash and fingerprint indexes — delete hides a doc as a MATCH,
    re-delete is idempotent, re-append un-deletes, rebuild clears the
    tombstones relation.  The probe doc keeps matching its other
    neighbors throughout (takedown is per-document, not per-query)."""
    import os

    from pyspark.sql import functions as F

    from data_integration_system_spark.operators import dedup, textops
    from data_integration_system_spark.operators._common import local_rows_df

    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [
        (1, base * 6 + "alpha"),
        (2, base * 6 + "beta"),
        (3, base * 6 + "gamma"),
        (4, "completely unrelated text about spark shuffles " * 8),
    ]
    docs = local_rows_df(spark, rows, "doc_id long, text string")
    probe = local_rows_df(spark, [(100, base * 6 + "delta")],
                          "doc_id long, text string")

    # build via the append path onto an empty index root (both builders
    # take sf_dir corpora; appends take DataFrames directly)
    mh_idx = str(tmp_path / "mh")
    dedup.append_minhash_index(spark, mh_idx, docs)
    fp_idx = str(tmp_path / "fp")
    textops.append_fingerprint_index(spark, fp_idx, docs)

    def mh_matches():
        return {
            int(r.c_id)
            for r in dedup.query_minhash_index(spark, mh_idx, probe).collect()
        }

    def fp_matches():
        return {
            int(r.c_id)
            for r in textops.query_fingerprint_index(
                spark, fp_idx, probe, min_shared=2
            ).collect()
        }

    assert {1, 2, 3} <= mh_matches() and {1, 2, 3} <= fp_matches()

    assert dedup.delete_from_minhash_index(spark, mh_idx, [2]) == 1
    assert dedup.delete_from_minhash_index(spark, mh_idx, [2]) == 0
    assert textops.delete_from_fingerprint_index(spark, fp_idx, [2]) == 1

    got_mh, got_fp = mh_matches(), fp_matches()
    assert 2 not in got_mh and {1, 3} <= got_mh
    assert 2 not in got_fp and {1, 3} <= got_fp

    # re-append un-deletes (upsert)
    doc2 = local_rows_df(spark, [rows[1]], "doc_id long, text string")
    dedup.append_minhash_index(spark, mh_idx, doc2)
    textops.append_fingerprint_index(spark, fp_idx, doc2)
    assert 2 in mh_matches() and 2 in fp_matches()
    assert spark.read.parquet(f"{mh_idx}/tombstones").count() == 0

    # rebuild clears the relation
    dedup.delete_from_minhash_index(spark, mh_idx, [3])
    dedup.build_minhash_index(spark, "/root/testdata/sf0.001", mh_idx)
    assert not os.path.exists(f"{mh_idx}/tombstones")

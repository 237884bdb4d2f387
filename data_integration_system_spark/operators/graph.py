"""Graph analytics over derived relations.

The connected-components operator lives with its consumer in dedup.py
(`connected_components_min_label`); this module holds standalone graph
algorithms.  PageRank here runs over the event-type transition graph —
the web-corpus analog is PageRank over the crawl's link graph, the
classic link-derived quality prior for corpus weighting.

The novelty is the determinism contract: PageRank is iterative, which
normally forces the driver's weaker rows-only check.  Computing it in
pure INTEGER arithmetic (ranks scaled to 1e9, per-edge contributions by
integer division) makes every iteration engine-exact, so a fixed
iteration count unrolls into chained SQL CTEs and the driver gets a
full value-hash oracle for an iterative algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_system_spark.catalog import table
from data_integration_system_spark.registry import query

_ITERS = 8
_SCALE = 10**9
#: damping 0.85 expressed as integer percent so both engines compute
#: r' = base + (85 * inflow) // 100 identically
_DAMP_PCT = 85
_BASE_NUM = _SCALE * (100 - _DAMP_PCT) // 100  # 0.15 * 1e9


def _transition_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, n): per-user consecutive event-type transitions — a
    rename projection over the canonical event_type_transitions
    derivation (windows.py), so the two queries can never silently
    disagree about what the transition graph IS."""
    from data_integration_system_spark.operators.windows import (
        event_type_transitions,
    )

    return event_type_transitions(spark, sf_dir).select(
        F.col("event_type").alias("src"),
        F.col("next_type").alias("dst"),
        F.col("n").cast("long").alias("n"),
    )


#: pagerank_int driver-side fast-path bound: edge sets at or under this
#: collect (~3 MB of (src, dst, n) rows at the cap) and the power method
#: runs as a Python integer loop — the same bounded-collect pattern as
#: dedup's _CC_LOCAL_EDGE_CAP.  The event-type transition graph is
#: |types|² at most (hundreds of rows); the distributed loop remains the
#: contract above the cap.
_PR_LOCAL_EDGE_CAP = 200_000


def _pagerank_int_local(
    edge_rows: list, iters: int, node_type: str, spark
) -> DataFrame:
    """Driver-side twin of the distributed loop below: IDENTICAL integer
    recurrence (all BIGINT ops over non-negative operands, so Python //
    equals SQL div), so the result is bit-equal by construction — pinned
    against the distributed path in tests/test_scale_patterns.py."""
    from data_integration_system_spark.operators._common import local_rows_df

    out_w: dict = {}
    nodes: set = set()
    for src, dst, n in edge_rows:
        out_w[src] = out_w.get(src, 0) + n
        nodes.add(src)
        nodes.add(dst)
    n_nodes = len(nodes)
    if n_nodes == 0:
        return local_rows_df(spark, [], f"node {node_type}, rank_e9 long")
    base = _BASE_NUM // n_nodes
    init = _SCALE // n_nodes
    r = {node: init for node in nodes}
    for _ in range(iters):
        inflow: dict = {}
        for src, dst, n in edge_rows:
            inflow[dst] = inflow.get(dst, 0) + (r[src] * n) // out_w[src]
        r = {
            node: base + (_DAMP_PCT * inflow.get(node, 0)) // 100
            for node in nodes
        }
    return local_rows_df(
        spark,
        sorted(r.items()),
        f"node {node_type}, rank_e9 long",
    )


def pagerank_int(
    edges: DataFrame, iters: int = _ITERS
) -> DataFrame:
    """Integer-arithmetic PageRank: ``(node, rank_e9)`` after ``iters``
    power-method rounds over weighted edges ``(src, dst, n)``.

    Each round: contribution = (rank_e9 × edge_n) // src_out_weight,
    summed per target; new rank = 0.15·1e9//N + (85 × inflow)//100.
    All BIGINT ops — associative, order-independent, engine-identical.

    Edge sets at or under ``_PR_LOCAL_EDGE_CAP`` take a bounded
    driver-side fast path (r18), decided by ONE capped collect that is
    also the path's input: the weighted edge relation of a TYPE
    graph is |types|² at most, so 8 distributed rounds (each one
    shuffle + an eager lineage cut) priced ~2.5 s of fixed job overhead
    at sf0.1 for microseconds of integer arithmetic.  The recurrence is
    pure BIGINT, so the Python loop is bit-identical to the distributed
    one (parity-pinned in tests).

    Scale shape (above the cap): per round ONE shuffle keyed on dst
    (map-side combined) plus the broadcast-sized node relation join;
    localCheckpoint cuts lineage like the crawl/CC loops.  Dangling
    mass is dropped on both engines identically (the standard
    simplification)."""
    head = edges.limit(_PR_LOCAL_EDGE_CAP + 1).collect()
    if len(head) <= _PR_LOCAL_EDGE_CAP:
        node_type = edges.schema[0].dataType.simpleString()
        edge_rows = [(r[0], r[1], int(r[2])) for r in head]
        return _pagerank_int_local(
            edge_rows, iters, node_type, edges.sparkSession
        )
    edges = edges.localCheckpoint()
    out_w = edges.groupBy("src").agg(F.sum("n").alias("total"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()  # |event types| — a tiny control-plane scalar
    if n_nodes == 0:  # empty graph: no ranks, not a ZeroDivisionError
        return nodes.withColumn("rank_e9", F.lit(0).cast("long"))
    base = _BASE_NUM // n_nodes
    init = _SCALE // n_nodes
    r = nodes.withColumn("rank_e9", F.lit(init).cast("long"))
    for _ in range(iters):
        contrib = (
            edges.join(out_w, "src")
            .join(r, edges.src == r.node)
            .select(
                F.col("dst"),
                F.expr("(rank_e9 * n) div total").alias("c"),
            )
        )
        inflow = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        r = (
            nodes.join(inflow, nodes.node == inflow.dst, "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"({_DAMP_PCT} * coalesce(s, 0)) div 100")
                )
                .cast("long")
                .alias("rank_e9"),
            )
            .localCheckpoint()
        )
    return r


def _pagerank_oracle() -> str:
    """The same integer power method, unrolled into chained CTEs —
    iterative, yet a full value-hash oracle."""
    parts = [
        """
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS dst
      FROM events
    ), edges AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
    ), outw AS (
      SELECT src, SUM(n) AS total FROM edges GROUP BY src
    ), nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION SELECT DISTINCT dst FROM edges
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
    pr0 AS (
      SELECT node, CAST({scale} // nn.n_nodes AS BIGINT) AS rank_e9
      FROM nodes, nn
    )""".format(scale=_SCALE)
    ]
    for k in range(1, _ITERS + 1):
        parts.append(
            """,
    pr{k} AS (
      SELECT n.node,
             CAST({base_num} // nn.n_nodes
                  + ({damp} * COALESCE(s.c, 0)) // 100 AS BIGINT) AS rank_e9
      FROM nodes n CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node, SUM(pr.rank_e9 * e.n // w.total) AS c
        FROM edges e
        JOIN outw w ON w.src = e.src
        JOIN pr{prev} pr ON pr.node = e.src
        GROUP BY e.dst
      ) s ON s.node = n.node
    )""".format(k=k, prev=k - 1, base_num=_BASE_NUM, damp=_DAMP_PCT)
        )
    parts.append(
        f"""
    SELECT node AS event_type, rank_e9
    FROM pr{_ITERS} ORDER BY rank_e9 DESC, event_type
    """
    )
    return "".join(parts)


@query("event_type_pagerank", oracle=_pagerank_oracle())
def event_type_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality of event types in the user-flow transition
    graph — which states dominate user sessions at the stationary
    distribution.  The corpus-curation sibling is PageRank over the
    crawl link graph as a document quality prior.

    Iterative AND exactly oracle-checked: integer arithmetic makes the
    8-round power method bit-identical to the unrolled-CTE SQL twin."""
    r = pagerank_int(_transition_edges(spark, sf_dir))
    return r.select(F.col("node").alias("event_type"), "rank_e9").orderBy(
        F.col("rank_e9").desc(), "event_type"
    )


@query(
    "transition_triangles",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), e AS (
      SELECT DISTINCT least(event_type, next_type) AS u,
             greatest(event_type, next_type) AS v
      FROM o WHERE next_type IS NOT NULL AND event_type <> next_type
    )
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM e e1
    JOIN e e2 ON e2.u = e1.v
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ORDER BY a, b, c
    """,
)
def transition_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle motifs in the (undirected) event-type transition graph:
    ordered triples (a < b < c) whose three edges all exist — the
    graph-motif shape (clustering-coefficient numerators, community
    cores) expressed as a two-hop self-join closed by an edge check.

    Derives its edge set from the SAME per-user lead() window as
    `event_type_transitions`/`event_type_pagerank`, collapsed to
    distinct unordered pairs, so the graph family agrees on the graph.

    Scale shape: the fact reduces to the distinct edge relation first
    (map-side combined); the motif join then runs on |edges| rows —
    with edges canonically ordered (u < v), every triangle appears
    exactly once, no post-hoc dedup.  On big graphs the standard
    refinement (order vertices by degree before the two-hop join)
    drops in here without changing the contract."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(
        F.col("next_type").isNotNull()
        & (F.col("event_type") != F.col("next_type"))
    )
    e = (
        o.select(
            F.least("event_type", "next_type").alias("u"),
            F.greatest("event_type", "next_type").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # three join sides, one derivation
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
        .orderBy("a", "b", "c")
    )


@query(
    "transition_degrees",
    oracle="""
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS dst
      FROM events
    ), edges AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
    ), outs AS (
      SELECT src AS node, CAST(count(*) AS BIGINT) AS out_deg,
             CAST(SUM(n) AS BIGINT) AS out_weight
      FROM edges GROUP BY src
    ), ins AS (
      SELECT dst AS node, CAST(count(*) AS BIGINT) AS in_deg,
             CAST(SUM(n) AS BIGINT) AS in_weight
      FROM edges GROUP BY dst
    )
    SELECT COALESCE(o.node, i.node) AS event_type,
           COALESCE(out_deg, 0) AS out_deg,
           COALESCE(out_weight, 0) AS out_weight,
           COALESCE(in_deg, 0) AS in_deg,
           COALESCE(in_weight, 0) AS in_weight
    FROM outs o FULL JOIN ins i ON o.node = i.node
    ORDER BY event_type
    """,
)
def transition_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree profile of the event-type transition graph: distinct
    out/in neighbors plus weighted out/in flow per node — the first
    thing a graph audit reads (hubs, sinks, dangling nodes) and the
    out-weight relation PageRank normalizes by, now surfaced as its
    own report.

    Derives edges from the canonical `event_type_transitions` window
    (same derivation as pagerank/triangles, so the graph family can't
    disagree about the graph), then two tiny |types|-grain aggregations
    stitched with a FULL join so pure sources (in_deg=0) and pure sinks
    (out_deg=0) both appear.

    Scale shape: the one real shuffle is the per-user sequence window
    already inside the shared derivation; everything after runs on the
    |types|**2-bounded edge relation."""
    edges = _transition_edges(spark, sf_dir).localCheckpoint(eager=False)
    outs = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("out_deg"),
        F.sum("n").cast("long").alias("out_weight"),
    )
    ins = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").cast("long").alias("in_deg"),
        F.sum("n").cast("long").alias("in_weight"),
    )
    return (
        outs.join(ins, "node", "full")
        .select(
            F.col("node").alias("event_type"),
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("out_weight", F.lit(0)).cast("long").alias("out_weight"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
            F.coalesce("in_weight", F.lit(0)).cast("long").alias("in_weight"),
        )
        .orderBy("event_type")
    )


_BFS_MAX_HOPS = 4


def _reachability_oracle() -> str:
    """The same min-plus BFS, unrolled into chained CTEs — like the
    PageRank oracle, iterative yet fully value-hash-checked (hop counts
    are integers; min is associative)."""
    parts = [
        """
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS dst
      FROM events
    ), edges AS (
      SELECT DISTINCT src, dst FROM seq WHERE dst IS NOT NULL
    ), nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION SELECT DISTINCT dst FROM edges
    ), d0 AS (
      SELECT src, dst, MIN(hops) AS hops FROM (
        SELECT node AS src, node AS dst, CAST(0 AS BIGINT) AS hops FROM nodes
        UNION ALL
        SELECT src, dst, CAST(1 AS BIGINT) FROM edges
      ) GROUP BY src, dst
    )"""
    ]
    for k in range(1, _BFS_MAX_HOPS):
        parts.append(
            """,
    d{k} AS (
      SELECT src, dst, MIN(hops) AS hops FROM (
        SELECT src, dst, hops FROM d{prev}
        UNION ALL
        SELECT d.src, e.dst, d.hops + 1
        FROM d{prev} d JOIN edges e ON e.src = d.dst
      ) GROUP BY src, dst
    )""".format(k=k, prev=k - 1)
        )
    parts.append(
        f"""
    SELECT src, dst, hops FROM d{_BFS_MAX_HOPS - 1} ORDER BY src, dst
    """
    )
    return "".join(parts)


def bounded_reachability(edges: DataFrame, max_hops: int = _BFS_MAX_HOPS) -> DataFrame:
    """``(src, dst, hops)`` minimum hop counts (<= max_hops) over a
    directed edge relation ``(src, dst)`` — the library form of the
    BFS min-plus loop, property-tested against a Python BFS on random
    graphs.  Each round: one frontier-edge join + a min combine keyed
    on (src, dst); localCheckpoint cuts the iterative lineage."""
    edges = edges.select("src", "dst").distinct().localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    d = (
        nodes.select(
            F.col("node").alias("src"),
            F.col("node").alias("dst"),
            F.lit(0).cast("long").alias("hops"),
        )
        .unionByName(edges.select("src", "dst", F.lit(1).cast("long").alias("hops")))
        .groupBy("src", "dst")
        .agg(F.min("hops").alias("hops"))
        .localCheckpoint()
    )
    for _ in range(max_hops - 1):
        dd, ee = d.alias("d"), edges.alias("e")
        step = dd.join(ee, F.col("d.dst") == F.col("e.src")).select(
            F.col("d.src").alias("src"),
            F.col("e.dst").alias("dst"),
            (F.col("d.hops") + 1).alias("hops"),
        )
        d = (
            d.unionByName(step)
            .groupBy("src", "dst")
            .agg(F.min("hops").alias("hops"))
            .localCheckpoint()
        )
    return d


@query("transition_reachability", oracle=_reachability_oracle())
def transition_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS reachability: minimum hop count (<= 4) between
    every reachable (src, dst) pair of event types — the crawler's BFS
    frontier expansion (reference crawler_core.py:149-294, depth-capped
    fan-out) restated as a query over the transition graph, and the
    third iterative operator with a FULL value-hash oracle (integer
    min-plus unrolls into chained CTEs exactly like PageRank's
    power method).

    Scale shape: each round is one self-sized join on the frontier
    relation plus a min-combine keyed on (src, dst) — the relation is
    bounded by |types|² here and by reachable-pairs in general; the
    depth cap bounds rounds the way max_depth bounds the crawl.
    localCheckpoint cuts the iterative lineage per round."""
    return bounded_reachability(
        _transition_edges(spark, sf_dir), _BFS_MAX_HOPS
    ).orderBy("src", "dst")

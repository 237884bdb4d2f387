"""Similarity search over embedding columns (SURVEY §2B Q29 + the ANN
tier ladder).

Brute-force cosine top-k is the exactness baseline: broadcast the (small)
query set against the corpus, compute cosine via JVM higher-order
functions, rank per query.  At 100 TB the corpus side stays distributed
and is scanned once — the classic "broadcast the queries, never the
corpus" shape.  Above it sit three approximate tiers, each with a
materialized build/append/query triple and a streaming ingest sink:

* IVF — k-means partition pruning over RAW vectors (reads nprobe/k of
  the corpus via literal PartitionFilters); the lake index.
* PQ — m-byte codes, full ADC scan + exact re-rank (reads 1/32nd of
  the bytes); the memory-bounded serving tier.
* IVF-PQ (IVFADC) — PQ codes laid out inside IVF partitions; both
  prunings multiply (m bytes/vector of nprobe/k of the corpus).

Measured operating curves (nprobe, shortlist_x) and planted-twin recall
rows live in SCALE.md / SCALE_REHEARSAL_RECALL.json; per-tier recall
floors are pytest-pinned, and similarity_ann_recall_matrix driver-gates
the whole ladder's quality loop in one relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_system_spark.catalog import table
from data_integration_system_spark.functions.vectors import cosine
from data_integration_system_spark.pipeline.fsutil import exists
from data_integration_system_spark.registry import query

_N_QUERIES = 8
_TOP_K = 5

# The oracle mirrors the double-precision left-to-right fold of
# F.aggregate: list_zip + list_transform(cast to double) + ordered sum.
# (list_zip yields an unnamed struct in DuckDB 1.0 -> numeric x[1]/x[2].)
_COSINE_SQL = """
list_aggregate(list_transform(list_zip({a}, {b}),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
/ (sqrt(list_aggregate(list_transform({a}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))
 * sqrt(list_aggregate(list_transform({b}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')))
"""


@query(
    "similarity_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < {_N_QUERIES}),
         c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings WHERE vec_id >= {_N_QUERIES}),
         sims AS (
           SELECT q_id, c_id,
                  {_COSINE_SQL.format(a="qe", b="ce")} AS sim
           FROM q CROSS JOIN c
         ),
         ranked AS (
           SELECT q_id, c_id, sim,
                  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn
           FROM sims
         )
    SELECT q_id, c_id, CAST(rn AS BIGINT) AS rnk, ROUND(sim, 4) AS cos_sim
    FROM ranked WHERE rn <= {_TOP_K}
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q29 — brute-force cosine top-k: queries (vec_id < 8) broadcast
    against the corpus, cosine in double precision, top-5 per query with
    a deterministic tie-break on c_id.

    The dot product folds left-to-right in double on both engines
    (F.aggregate vs ordered list_aggregate), so values hash-match; the
    displayed similarity is rounded AFTER ranking."""
    from data_integration_system_spark.functions.vectors import dot, norm

    emb = table(spark, sf_dir, "embeddings")
    # norms are computed ONCE per vector in the scan projections; the
    # per-pair work inside the cross join is then just the dot product.
    # (cosine() inline would re-fold both norms for every (q, c) pair —
    # |Q|x the corpus-norm work.)  Same left-to-right double folds, so
    # values still hash-match the oracle.
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        norm("embedding").alias("qn"),
    )
    c = emb.filter(F.col("vec_id") >= _N_QUERIES).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("ce"),
        norm("embedding").alias("cn"),
    ).localCheckpoint()  # materialize cn: CollapseProject would inline
    # the norm fold back into every pair row of the cross join
    denom = F.col("qn") * F.col("cn")
    sims = F.broadcast(q).crossJoin(c).select(
        "q_id",
        "c_id",
        F.when(denom > 0, dot(F.col("qe"), F.col("ce")) / denom).alias("sim"),
    )
    return _rank_topk(sims, _TOP_K)


def _rank_topk(sims: DataFrame, top_k: int) -> DataFrame:
    """(q_id, c_id, sim) -> each query's ``top_k`` best by sim, ties to
    the lowest c_id, as (q_id, c_id, rnk, cos_sim): the one ranking
    tail of every exact and re-ranked path.  The similarity is rounded
    AFTER ranking."""
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "c_id")
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select(
            "q_id",
            "c_id",
            F.col("rn").cast("long").alias("rnk"),
            F.round("sim", 4).alias("cos_sim"),
        )
    )


def _query_frame(emb: DataFrame) -> DataFrame:
    """The query side of every fixture-driven search: the first
    _N_QUERIES vectors as (q_id, qe)."""
    return emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )


def _elementwise_means(assigned: DataFrame, key: str = "cent_id") -> DataFrame:
    """(key, embedding) -> (cent_id, centroid) per-position mean vectors.

    The means themselves are ONE distributed hash aggregate (posexplode
    + avg per (key, pos) — map-side combined); the k×d mean scalars are
    then assembled into centroid arrays on the DRIVER and returned as a
    LocalTableScan (r18).  The collect is bounded by k·d — the exact
    payload every consumer already collects (`nearest_centroid` pulls
    the full centroid relation each Lloyd iteration), so this adds no
    new driver-side scale limit; it REMOVES the second shuffle
    (groupBy(key).collect_list) and, because the result carries no
    lineage, the per-iteration localCheckpoint job the Lloyd loop used
    to pay (measured: fit_ivf_centroids 2.8 s -> ~1.2 s at sf0.1, ×2
    builds in every two-variant recall query).  Values are bit-identical:
    the avg aggregate is unchanged, and float64 survives the Arrow
    round-trip exactly; array order is pos-ascending as before."""
    from data_integration_system_spark.operators._common import local_rows_df

    means = (
        assigned.select(key, F.posexplode("embedding").alias("pos", "v"))
        .groupBy(key, "pos")
        .agg(F.avg("v").alias("m"))
    )
    key_type = means.schema[0].dataType.simpleString()
    by_key: dict = {}
    for r in means.collect():
        by_key.setdefault(r[0], []).append((r[1], r[2]))
    rows = [
        (kk, [m for _, m in sorted(vs)]) for kk, vs in sorted(by_key.items())
    ]
    return local_rows_df(
        assigned.sparkSession,
        rows,
        f"cent_id {key_type}, centroid array<double>",
    )


def _nearest_centroid(df: DataFrame, cent: DataFrame) -> DataFrame:
    """Attach cent_id = nearest centroid — SHUFFLE-FREE: all k centroids
    ride along as one broadcast single-row relation and the argmax is an
    inline array expression (struct array_max compares (d, -cent_id)
    lexicographically = best sim, ties to lowest id).  The naive shape
    (crossJoin ×k + row_number over vec_id) shuffles the whole corpus;
    this evaluates inside the scan stage."""
    cents_one = cent.agg(
        F.collect_list(F.struct("cent_id", "centroid")).alias("cents")
    )
    scored = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            cosine(F.col("embedding"), c.getField("centroid")).alias("d"),
            (-c.getField("cent_id")).alias("neg_id"),
        ),
    )
    return (
        df.crossJoin(F.broadcast(cents_one))
        .select(
            *df.columns,
            (-F.array_max(scored).getField("neg_id")).alias("cent_id"),
        )
    )


_LLOYD_ITERS = 2
_IVFPQ_NPROBE = 3  #: probed centroids per query, IVF and IVF-PQ alike


@query("similarity_ivf_topk", oracle=None)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star IVF-style ANN: corpus vectors are k-means-assigned to
    centroids (fit_ivf_centroids: label-mean init + Lloyd refinement
    rounds, shuffle-free inline-argmax assignment, posexplode mean
    update); each query probes only the `nprobe` nearest centroids'
    partitions.

    At 100 TB: the k-means fit and centroid assignment happen at WRITE
    time (cent_id becomes a partition column), so a query touches
    nprobe/k of the data — this is the scale path over Q29's exact scan.
    An emptied cluster simply drops out (standard Lloyd behavior).
    Approximate -> rows-only."""
    from data_integration_system_spark.operators._common import parallelize_scan

    # spread the unsplittable small scan: the assignment's inline argmin
    # inherits the partitioning (3.6 s -> 0.7 s at sf0.1)
    emb = parallelize_scan(table(spark, sf_dir, "embeddings"))
    corpus = emb.filter(F.col("vec_id") >= _N_QUERIES)
    cent = fit_ivf_centroids(spark, sf_dir)
    cent_rows = cent.collect()
    assigned = nearest_centroid(
        corpus.select("vec_id", "embedding"), cent, rows=cent_rows
    )
    probes, _ = _ivf_probes(_query_frame(emb), cent_rows, _IVFPQ_NPROBE)
    return _rank_topk(
        probes.join(assigned, "cent_id").select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            cosine("qe", "embedding").alias("sim"),
        ),
        _TOP_K,
    )


def _probe_sets(q_rows: list, cent_rows: list, nprobe: int) -> dict:
    """Per-query probe assignment: ``{q_id: {cent_id, ...}}`` for the
    ``nprobe`` nearest centroids by ``functions.vectors.cosine``, best
    first, ties to the lowest cent_id.  Driver-side numpy over
    ``(q_id, embedding)`` query rows and the k centroid rows — the one
    probe ranking of both IVF tiers: every serving path already collects
    its queries (pq_shortlist's LUTs, _ivf_probes' probe relation), so
    probe selection needs no Spark job of its own.

    The sums are left-to-right folds over the dimensions (one loop over
    them for the whole batch), the JVM cosine's order, so a similarity
    is bit-identical to the Spark expression's and equal centroids tie
    exactly (a BLAS dot may sum two equal rows in different orders and
    break the tie either way); a zero-norm pair ranks last, where the
    NULL cosine sorts."""
    import numpy as np

    cent_rows = sorted(cent_rows, key=lambda r: int(r.cent_id))
    ids = np.asarray([int(r.cent_id) for r in cent_rows])
    cmat = np.asarray([list(r.centroid) for r in cent_rows], dtype=np.float64)
    qmat = np.asarray([list(qe) for _, qe in q_rows], dtype=np.float64)
    qmat = qmat.reshape(len(q_rows), cmat.shape[1])
    dots = np.zeros((len(q_rows), len(ids)))
    qsq, csq = np.zeros(len(q_rows)), np.zeros(len(ids))
    for j in range(cmat.shape[1]):
        dots = dots + qmat[:, j, None] * cmat[:, j]
        qsq = qsq + qmat[:, j] * qmat[:, j]
        csq = csq + cmat[:, j] * cmat[:, j]
    n = np.sqrt(qsq)[:, None] * np.sqrt(csq)
    sims = np.where(n > 0, dots / np.where(n > 0, n, 1.0), -np.inf)
    order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
    return {
        int(q_id): {int(c) for c in ids[row]}
        for (q_id, _), row in zip(q_rows, order)
    }


def _ivf_probes(queries: DataFrame, cent_rows: list, nprobe: int) -> tuple:
    """``(probes, probed)``: each (q_id, qe) query row paired with each
    of its ``nprobe`` nearest centroids (_probe_sets, driver-side) as a
    local (q_id, qe, cent_id) relation, and the sorted union of probed
    cent_ids — the literal partition filter of a pruned corpus scan.
    The queries are collected once; the probe list needs no Spark job
    of its own."""
    from pyspark.sql.types import LongType, StructField, StructType

    from data_integration_system_spark.operators._common import local_rows_df

    queries = queries.select("q_id", "qe")
    q_rows = [(r[0], list(r[1])) for r in queries.collect()]
    sets = _probe_sets(q_rows, cent_rows, nprobe)
    probes = local_rows_df(
        queries.sparkSession,
        [(q, qe, c) for q, qe in q_rows for c in sorted(sets[int(q)])],
        StructType(queries.schema.fields + [StructField("cent_id", LongType())]),
    )
    return probes, sorted({c for s in sets.values() for c in s})


@query(
    "embedding_norms",
    oracle="""
    SELECT vec_id,
           CAST(FLOOR(sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 10000) AS BIGINT)
             AS l2_norm_e4
    FROM embeddings
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector hygiene op: L2 norm per embedding (the pre-normalization
    pass every cosine pipeline runs once at ingest).  Pure JVM
    higher-order math inside the scan stage — zero shuffles; reported as
    floor(norm * 1e4) because both engines sum the same array in the
    same order but ROUND at .xxx5 diverges."""
    from data_integration_system_spark.functions.vectors import norm

    emb = table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.floor(norm("embedding") * 10000).cast("long").alias("l2_norm_e4"),
    )


# ---------------------------------------------------------------------------
# Materialized IVF index: the write-time scale path the ad-hoc query
# (similarity_ivf_topk) simulates inline.
# ---------------------------------------------------------------------------


def fit_ivf_centroids(
    spark: SparkSession,
    sf_dir: str,
    lloyd_iters: int = _LLOYD_ITERS,
) -> DataFrame:
    """The centroid fit of build_ivf_index, exposed on its own: label
    means seed Lloyd's iterations over the corpus slice.  Deterministic
    for a given table, so an index whose corpus arrives INCREMENTALLY
    (streaming ann_ingest_sink) against these centroids answers queries
    identically to the one-shot batch build."""
    from data_integration_system_spark.operators._common import parallelize_scan

    emb = parallelize_scan(table(spark, sf_dir, "embeddings"))
    corpus = emb.filter(F.col("vec_id") >= _N_QUERIES)
    # _elementwise_means returns an eager LocalTableScan (r18): no
    # lineage to cut, so the per-iteration localCheckpoint jobs are gone
    # and nearest_centroid's collect of the centroid relation is free.
    cent = _elementwise_means(
        emb.select(F.col("label").alias("cent_id"), "embedding")
    )
    for _ in range(lloyd_iters):
        asg = nearest_centroid(corpus.select("vec_id", "embedding"), cent)
        cent = _elementwise_means(asg)
    return cent


def build_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    lloyd_iters: int = _LLOYD_ITERS,
) -> None:
    """Fit k-means centroids and write the corpus PARTITIONED BY its
    nearest-centroid assignment, plus a tiny centroids table.

    This is the IVF contract at 100 TB: clustering cost is paid ONCE at
    write time; every later query scans nprobe/k of the corpus through
    parquet partition pruning, not a full scan + filter."""
    from data_integration_system_spark.operators._common import parallelize_scan

    emb = parallelize_scan(table(spark, sf_dir, "embeddings"))
    corpus = emb.filter(F.col("vec_id") >= _N_QUERIES)
    cent = fit_ivf_centroids(spark, sf_dir, lloyd_iters)
    assigned = nearest_centroid(corpus.select("vec_id", "embedding"), cent)
    # cluster by the partition column before the partitioned write:
    # a spread input would otherwise leave tasks × centroids sliver
    # files and the probe pays the file-count tax (see the minhash
    # index build for the measured failure mode); explicit task count
    # so AQE can't coalesce the write to one serial task
    from data_integration_system_spark.operators._common import (
        cluster_for_partitioned_write,
    )

    cluster_for_partitioned_write(
        assigned, "cent_id", cent.count()
    ).write.mode("overwrite").partitionBy("cent_id").parquet(f"{index_path}/corpus")
    cent.write.mode("overwrite").parquet(f"{index_path}/centroids")


def append_ivf_index(
    spark: SparkSession,
    index_path: str,
    new_vectors: DataFrame,
) -> None:
    """Incrementally index new vectors against the EXISTING centroids —
    the append sibling of build_ivf_index (API symmetry with
    append_minhash_index / append_fingerprint_index): assign each new
    (vec_id, embedding) to its nearest stored centroid and append into
    that centroid's partition dir, so a growing corpus is probeable
    without a refit.

    Centroids are deliberately NOT moved by an append — a probe's
    partition choice must agree with the assignments already on disk, or
    earlier vectors become unreachable through the pruned scan.  Drift
    accumulates as data distribution shifts; the periodic
    build_ivf_index rebuild (the compaction analog) refits Lloyd over
    the full corpus and re-partitions.  At 100 TB this is the standard
    ANN serving cadence: cheap online appends, scheduled offline refits."""
    # one read + one collect of the tiny centroid relation feeds the
    # dispatch and the write task count (r18 — was a checkpoint job +
    # a second collect + a count job per micro-batch append)
    cent = spark.read.parquet(f"{index_path}/centroids")
    cent_rows = cent.collect()
    assigned = nearest_centroid(
        new_vectors.select("vec_id", "embedding"), cent, rows=cent_rows
    )
    from data_integration_system_spark.operators._common import (
        cluster_for_partitioned_write,
    )

    cluster_for_partitioned_write(
        assigned, "cent_id", len(cent_rows)
    ).write.mode("append").partitionBy("cent_id").parquet(f"{index_path}/corpus")


def query_ivf_index(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    top_k: int = _TOP_K,
    nprobe: int = _IVFPQ_NPROBE,
) -> DataFrame:
    """ANN top-k against a built index: probe selection runs driver-side
    on the tiny centroids table, and the per-query probe ids become
    LITERAL partition filters on the corpus scan (collecting q×nprobe
    ints to the driver is the index-probe protocol — that is what makes
    partition PRUNING, not post-scan filtering, possible).  `queries` is
    (q_id, qe)."""
    cent_rows = spark.read.parquet(f"{index_path}/centroids").collect()
    probes, probed = _ivf_probes(queries, cent_rows, nprobe)
    corpus = (
        spark.read.parquet(f"{index_path}/corpus")
        .filter(F.col("cent_id").isin(probed))  # literal -> PartitionFilters
        # redelivered appends (at-least-once streaming ingest) duplicate
        # (vec_id, embedding) rows; without this a duplicate would hold
        # TWO of the top-k ranks.  Cost: one dedup over the PROBED
        # nprobe/k subset only, never the whole index.
        .dropDuplicates(["vec_id"])
    )
    return _rank_topk(
        probes.join(corpus, "cent_id").select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            cosine("qe", "embedding").alias("sim"),
        ),
        top_k,
    )


@query("similarity_recall_at_k", oracle=None)
def similarity_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality harness: per-query recall@k of the IVF probe path
    against the exact brute-force top-k — the evaluation loop that
    decides nprobe/k trade-offs before anyone trusts the index at scale.

    Emits (q_id, n_hits, recall_e2) with recall as an integer percent.
    Approximate input -> rows-only check (the IVF side is the
    non-SQL-expressible operand); tests pin a recall floor so the
    metric is meaningful, and the streaming ANN sink serves the same
    probe protocol this evaluates.

    Scale shape: both operands are already top-k RESULT relations
    (|queries| x k rows) — the joins here are trivia; the cost is the
    two searches themselves, each already audited (broadcast-the-
    queries exact scan; nprobe-pruned IVF probe).  The semi-join counts
    overlap without materializing either payload."""
    exact = similarity_topk(spark, sf_dir).select("q_id", "c_id")
    approx = similarity_ivf_topk(spark, sf_dir).select("q_id", "c_id")
    return (
        exact.select("q_id")
        .distinct()
        .join(_hit_counts(approx, exact), "q_id", "left")
        .select("q_id", *_recall_columns())
        .orderBy("q_id")
    )


def _hit_counts(got: DataFrame, truth: DataFrame, name: str = "n_hits") -> DataFrame:
    """(q_id, ``name``): how many of each query's returned (q_id, c_id)
    pairs are in ``truth`` — a semi-join count; queries with no hit are
    absent (left-join it onto the query ids)."""
    return (
        got.join(truth, ["q_id", "c_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count("*").cast("long").alias(name))
    )


def _recall_columns(name: str = "") -> list:
    """The (n_hits{name}, recall{name}_e2) columns of a recall row over
    _hit_counts: a missing count reads 0, recall@_TOP_K is an integer
    percent."""
    hits = f"n_hits{name}"
    return [
        F.coalesce(hits, F.lit(0)).cast("long").alias(hits),
        F.expr(f"coalesce({hits}, 0) * 100 div {_TOP_K}")
        .cast("long")
        .alias(f"recall{name}_e2"),
    ]


# ---------------------------------------------------------------------------
# Integer-exact clustering family: quantize once (floor(v * 1e6) as BIGINT),
# then every downstream sum/mean/distance is associative integer math —
# engine-identical, so even centroid fitting and cluster assignment get a
# full value-hash oracle instead of the usual rows-only concession.
# ---------------------------------------------------------------------------

#: Shared CTE pair: per-(vector, position) quantized elements and the
#: per-label integer centroids over them.  DuckDB zips parallel unnest()
#: calls in the same SELECT, which pairs each element with its position
#: without needing WITH ORDINALITY.
_CENT_E6_CTES = """
    ex AS (
      SELECT label, vec_id,
             unnest(generate_series(1, len(embedding))) - 1 AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS v_e6
      FROM embeddings
    ), cent AS (
      SELECT label, pos,
             CAST(FLOOR(CAST(SUM(v_e6) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mean_e6,
             CAST(COUNT(*) AS BIGINT) AS n_vecs
      FROM ex GROUP BY label, pos
    )
"""


def _centroids_e6(emb: DataFrame) -> DataFrame:
    """(label, pos, mean_e6, n_vecs): per-label integer centroids.

    Elements quantize to floor(v·1e6) BIGINTs in the scan projection, so
    the per-(label, pos) SUM is order-independent (unlike a double sum —
    Spark's partial-agg order differs from DuckDB's morsel order).  The
    mean divides two exact integers in double precision (both < 2^53, so
    the IEEE quotient is engine-identical) and floors back to BIGINT."""
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .withColumn("v_e6", F.floor(F.col("v").cast("double") * 1000000).cast("long"))
        .groupBy("label", "pos")
        .agg(F.sum("v_e6").alias("s"), F.count("*").alias("n"))
        .select(
            "label",
            F.col("pos").cast("long").alias("pos"),
            F.floor(F.col("s").cast("double") / F.col("n")).cast("long").alias("mean_e6"),
            F.col("n").cast("long").alias("n_vecs"),
        )
    )


@query(
    "embedding_centroid_per_label",
    oracle=f"""
    WITH {_CENT_E6_CTES}
    SELECT label, CAST(pos AS BIGINT) AS pos, mean_e6, n_vecs
    FROM cent ORDER BY label, pos
    """,
)
def embedding_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors in quantized integer space — the
    class-prototype pass behind IVF init (similarity_ivf_topk seeds from
    label means) and embedding-drift monitoring, emitted at (label, pos)
    grain because array columns crash the driver's canonicalizer.

    Scale shape: posexplode multiplies rows by dim (64×) BEFORE the
    shuffle, but the (label, pos) aggregation map-side-combines to
    |labels|×dim partials per task, so the exchange carries centroids,
    not elements.  Exact because quantized: see _centroids_e6."""
    emb = table(spark, sf_dir, "embeddings")
    return _centroids_e6(emb).orderBy("label", "pos")


@query(
    "kmeans_assign_int",
    oracle=f"""
    WITH {_CENT_E6_CTES},
    dists AS (
      SELECT e.vec_id, c.label,
             CAST(SUM((e.v_e6 - c.mean_e6) * (e.v_e6 - c.mean_e6)) AS BIGINT) AS d
      FROM ex e JOIN cent c USING (pos)
      GROUP BY e.vec_id, c.label
    ), best AS (
      SELECT vec_id, label, d,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, label) AS rn
      FROM dists
    )
    SELECT vec_id, label AS assigned_label, d AS sq_dist_e12
    FROM best WHERE rn = 1 ORDER BY vec_id
    """,
)
def kmeans_assign_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd half-step: assign every vector to its nearest
    per-label integer centroid (squared L2 in e6-quantized space, so the
    distance is a BIGINT sum — associative, engine-identical, fully
    oracle-checked where float k-means must settle for rows-only).

    Scale shape: the centroid relation is |labels|×dim — it collapses to
    ONE broadcast row of (label, centroid-array) structs, and the argmin
    is an inline zip_with/aggregate expression evaluated inside the scan
    stage: the corpus is never reshuffled and never exploded (the oracle's
    ex-join-cent formulation would shuffle rows×dim×k at scale; the plan
    here is the one you'd run at 100 TB).  Ties break to the lowest
    label on both engines ((d, label) lexicographic min)."""
    emb = table(spark, sf_dir, "embeddings")
    return assign_to_centroids_e6(emb).orderBy("vec_id")


def assign_to_centroids_e6(emb: DataFrame) -> DataFrame:
    """Library form of the exact assignment (property-tested against a
    NumPy replay on random vectors): ``(vec_id, assigned_label,
    sq_dist_e12)`` for any ``(vec_id, embedding, label)`` relation."""
    carr = (
        _centroids_e6(emb)
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mean_e6"))).alias("pm"))
        .select(
            "label",
            F.transform("pm", lambda s: s.getField("mean_e6")).alias("cvec"),
        )
    )
    cents_one = carr.agg(
        F.collect_list(F.struct("label", "cvec")).alias("cents")
    )
    ve = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000000).cast("long"),
    )
    scored = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("ve"),
                    c.getField("cvec"),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d"),
            c.getField("label").alias("label"),
        ),
    )
    best = F.array_min(scored)
    return (
        emb.select("vec_id", ve.alias("ve"))
        .crossJoin(F.broadcast(cents_one))
        .select(
            "vec_id",
            best.getField("label").alias("assigned_label"),
            best.getField("d").alias("sq_dist_e12"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-bounded ANN tier.
#
# IVF above is the LAKE index (write-time partitioning, pruned scans).
# PQ is the compressed-scan tier a 100 TB serving layer pairs with it:
# each unit-normalized vector becomes m uint8 codes (m bytes vs 4·d —
# 32x smaller at d=64, m=8), queries score the WHOLE code relation with
# per-subspace lookup tables (asymmetric distance computation), and only
# the ADC shortlist pays an exact re-rank against the original vectors.
# The scan stays linear but touches 1/32nd of the bytes; the re-rank
# join ships shortlist-many vectors, never the corpus.

_PQ_M = 8          #: subspaces (codes per vector)
_PQ_K = 16         #: centroids per subspace (codes fit a nibble; uint8 stored)
_PQ_ITERS = 10     #: Lloyd iterations per subspace
_PQ_SAMPLE_CAP = 100_000  #: driver-side training-sample bound
_PQ_SHORTLIST_X = 8       #: floor: shortlist >= X * top_k per query
_PQ_SHORTLIST_PCT = 15    #: default: shortlist ~ this % of probed candidates


def candidate_aware_shortlist(
    top_k: int,
    n_candidates: int | None = None,
    shortlist_x: int | None = None,
) -> int:
    """Shortlist size for the ADC scan, sized to what is actually being
    shortlisted.  The r13 d3c campaign showed the fixed ``x * top_k``
    default is the binding recall constraint at realistic fan-out
    (k_centroids ~ sqrt(n), clustered corpus): candidates inside one
    probed cluster have near-indistinguishable ADC scores, so a 40-slot
    cut over ~4.2k probed candidates drops true neighbors — recall 0.375
    where 0.80 was free at identical wall, and nprobe (the knob a user
    reaches for) made it WORSE by adding more same-looking candidates
    (shortlist dilution, SCALE.md r13).  Operating rule measured there:
    size the shortlist to the PROBED CANDIDATE count (~5–15%), not to
    top_k.

    Default = max(x_floor * top_k, ceil(15% of n_candidates)) — the
    floor preserves the measured small-regime knee (the k~10 curve where
    x=8 reads 0.96 recall), the percentage takes over exactly where the
    fixed cut starts starving.  An explicit ``shortlist_x`` overrides
    both (returns shortlist_x * top_k verbatim); ``n_candidates`` None
    (no manifest statistic available) falls back to the floor.  Cost of
    a wider shortlist at pruned candidate counts is measured flat: the
    per-partition heap and the exact re-rank are both linear in a number
    that is ~100x smaller than the scan."""
    if shortlist_x is not None:
        return shortlist_x * top_k
    base = _PQ_SHORTLIST_X * top_k
    if not n_candidates:
        return base
    return max(base, -(-n_candidates * _PQ_SHORTLIST_PCT // 100))


def _normalized_centroid_map(centroids: dict) -> dict:
    """cent_id -> L2-normalized float64 centroid (the subtraction basis
    for residual encoding; cosine assignment is norm-invariant but the
    residual must be taken against the UNIT centroid or cluster norm
    leaks into every code)."""
    import numpy as np

    out = {}
    for cid, vec in centroids.items():
        c = np.asarray(vec, dtype=np.float64)
        n = np.linalg.norm(c)
        out[int(cid)] = c / (n if n else 1.0)
    return out


def fit_pq_codebooks(
    corpus: DataFrame,
    m: int = _PQ_M,
    k: int = _PQ_K,
    sample_cap: int = _PQ_SAMPLE_CAP,
    iters: int = _PQ_ITERS,
    residual_centroids: dict | None = None,
) -> list:
    """Driver-side, seeded, deterministic codebook fit: a hash-thinned
    sample (bounded by ``sample_cap`` — the collect is capped by
    construction, never corpus-sized) is L2-normalized and each of the
    ``m`` sub-vectors gets ``k`` Lloyd-fitted centroids.  Init is the
    first k distinct sample rows in (hash, vec_id) order — no RNG, so
    build and rebuild agree bit-for-bit on the same corpus.  Returns
    nested lists (m, k, d/m), picklable and broadcast-sized (m·k·d/m
    floats — KBs).

    ``residual_centroids`` (cent_id -> centroid vector) switches to
    the true-IVFADC fit: ``corpus`` must carry ``cent_id`` and the
    books are fitted on RESIDUALS x_norm - c_norm — the quantity
    whose per-subspace spread survives clustering.  Flat books on
    clustered data spend nearly all 16 codes on BETWEEN-cluster
    variation the IVF partition already resolved; residual books
    spend them on the within-cluster structure a probe actually
    ranks (measured: SCALE_REHEARSAL_RECALL.json d3_clustered)."""
    x, _ = _training_sample(corpus, sample_cap, residual_centroids)
    return _fit_books_np(x, m, k, iters)


def _training_sample(
    df: DataFrame, sample_cap: int, residual_centroids: dict | None = None
) -> tuple:
    """The one training-sample draw behind every driver-side fit
    (fit_pq_codebooks, fit_opq, choose_codes_mode): at most
    ``sample_cap`` rows of ``df`` thinned by a vec_id hash stride and
    cut in (hash, vec_id) order — no RNG, so a rebuild of the same
    corpus draws the same rows — L2-normalized into a float64 matrix.
    The collect is capped by construction, never corpus-sized.

    ``residual_centroids`` (cent_id -> centroid; ``df`` then carries
    ``cent_id``) shifts each row by its normalized centroid: the rows
    become residuals x_norm - c_norm.  Returns ``(x, cent_ids)``;
    cent_ids is None without centroids."""
    import numpy as np

    n = df.count()
    stride = max(1, n // sample_cap)
    cols = ["embedding"] if residual_centroids is None else ["embedding", "cent_id"]
    sample = (
        df.filter(F.pmod(F.xxhash64("vec_id"), F.lit(stride)) == 0)
        .orderBy(F.pmod(F.xxhash64("vec_id"), F.lit(1 << 20)), "vec_id")
        .limit(sample_cap)
        .select(*cols)
        .collect()
    )
    x = np.asarray([r.embedding for r in sample], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    x = x / np.where(norms == 0, 1.0, norms)
    if residual_centroids is None:
        return x, None
    cmap = _normalized_centroid_map(residual_centroids)
    cids = np.asarray([int(r.cent_id) for r in sample])
    return x - np.stack([cmap[int(c)] for c in cids]), cids


def _fit_books_np(x, m: int, k: int, iters: int) -> list:
    """The deterministic per-subspace Lloyd fit of fit_pq_codebooks,
    on an in-memory sample matrix (shared by the plain fit and the
    OPQ alternating fit)."""
    import numpy as np

    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books = []
    for j in range(m):
        xs = x[:, j * sub:(j + 1) * sub]
        # deterministic init: first k distinct sub-vectors
        seen: dict = {}
        for row in xs:
            seen.setdefault(row.tobytes(), row)
            if len(seen) == k:
                break
        cent = np.asarray(list(seen.values()), dtype=np.float64)
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            asg = d2.argmin(axis=1)
            for c in range(len(cent)):
                mask = asg == c
                if mask.any():
                    cent[c] = xs[mask].mean(axis=0)
        books.append(cent.tolist())
    return books


def _decode_books_np(x, books) -> "object":
    """Reconstruction of each row of ``x`` from its nearest per-subspace
    codes — the OPQ fit's Q matrix (Ge et al. CVPR 2013, eq. 6)."""
    import numpy as np

    m = len(books)
    sub = x.shape[1] // m
    out = np.empty_like(x)
    for j, b in enumerate(books):
        bk = np.asarray(b, dtype=np.float64)
        xs = x[:, j * sub:(j + 1) * sub]
        d2 = ((xs[:, None, :] - bk[None, :, :]) ** 2).sum(axis=2)
        out[:, j * sub:(j + 1) * sub] = bk[d2.argmin(axis=1)]
    return out


_OPQ_ITERS = 8


def fit_opq(
    corpus: DataFrame,
    m: int = _PQ_M,
    k: int = _PQ_K,
    sample_cap: int = _PQ_SAMPLE_CAP,
    iters: int = _PQ_ITERS,
    opq_iters: int = _OPQ_ITERS,
) -> tuple:
    """Optimized Product Quantization fit (Ge et al. CVPR 2013,
    non-parametric solution): alternate between (a) fitting the
    per-subspace codebooks on the ROTATED sample and (b) solving the
    orthogonal Procrustes problem R = U·Vᵀ from SVD(XᵀQ) that aligns
    the data with the codebooks' subspace decomposition.  Returns
    ``(rotation, books)`` — rotation is a d×d orthogonal matrix (nested
    lists, picklable), books live in the ROTATED space, and encoding /
    LUT construction must apply x·R before the subspace split (an
    orthogonal rotation preserves L2, so ADC semantics are unchanged).

    Pays where the data is ANISOTROPIC: a plain axis-aligned subspace
    split gives correlated dimensions to the same codebook (wasting
    codes on directions another subspace already explains); the learned
    rotation decorrelates the split.  On isotropic data R converges
    near a permutation and the fit degrades gracefully to plain PQ.

    Deterministic end-to-end: the sample draw is _training_sample's
    hash-thinned one, Lloyd init is first-k-distinct, and SVD of a
    fixed matrix is deterministic — build and rebuild agree
    bit-for-bit on the same corpus (the append parity contract).

    Cost (measured at d3l, SCALE.md r16): ~94% of an OPQ build's
    premium over flat is THIS function — ~111 s of driver numpy at
    defaults, linear in ``opq_iters`` (each alternation refits m books
    on the sample and takes one d×d SVD) and bounded by ``sample_cap``
    regardless of corpus size, so it amortizes as a fixed per-rebuild
    cost; the per-vector encode side adds only one d×d matmul per
    Arrow batch (~7 s over 2M vectors)."""
    import numpy as np

    x, _ = _training_sample(corpus, sample_cap)
    d = x.shape[1]
    rot = np.eye(d)
    for _ in range(opq_iters):
        xr = x @ rot
        books = _fit_books_np(xr, m, k, iters)
        q = _decode_books_np(xr, books)
        u, _s, vt = np.linalg.svd(x.T @ q)
        rot = u @ vt
    # final refresh: books must live in the FINAL rotation's space (the
    # loop updates rot after fitting books against the previous one)
    books = _fit_books_np(x @ rot, m, k, iters)
    return rot.tolist(), books


def pq_encode(
    corpus: DataFrame,
    codebooks: list,
    carry: tuple = (),
    residual_centroids: dict | None = None,
    rotation: list | None = None,
) -> DataFrame:
    """Arrow-batched encode at scan parallelism: (vec_id, codes) where
    ``codes`` is an m-byte binary — one uint8 per subspace, the index of
    the nearest codebook centroid of the L2-NORMALIZED sub-vector.  The
    code relation is the only thing later scans read; embeddings are
    touched once, here.  ``carry`` names integer columns that pass
    through unchanged (the IVF-PQ composition carries cent_id so codes
    land in their centroid's partition).

    ``rotation`` (OPQ, fit_opq): the d×d orthogonal matrix applied
    AFTER normalization / residual subtraction and BEFORE the subspace
    split — codebooks then live in the rotated space, and the matching
    LUT side (pq_shortlist) rotates its targets identically."""
    import pandas as pd
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    cmap = (
        _normalized_centroid_map(residual_centroids)
        if residual_centroids is not None
        else None
    )

    def run(batches):
        import numpy as np

        books = [np.asarray(b, dtype=np.float64) for b in codebooks]
        rot = (
            np.asarray(rotation, dtype=np.float64)
            if rotation is not None
            else None
        )
        m = len(books)
        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame(
                    {"vec_id": [], "codes": [], **{c: [] for c in carry}}
                )
                continue
            x = np.asarray(list(pdf["embedding"]), dtype=np.float64)
            norms = np.linalg.norm(x, axis=1, keepdims=True)
            x = x / np.where(norms == 0, 1.0, norms)
            if cmap is not None:
                x = x - np.stack(
                    [cmap[int(c)] for c in pdf["cent_id"]]
                )
            if rot is not None:
                x = x @ rot
            sub = x.shape[1] // m
            codes = np.empty((len(x), m), dtype=np.uint8)
            for j, cent in enumerate(books):
                xs = x[:, j * sub:(j + 1) * sub]
                d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "codes": [c.tobytes() for c in codes],
                    **{c: pdf[c].astype("int64") for c in carry},
                }
            )

    return corpus.select("vec_id", "embedding", *carry).mapInPandas(
        run,
        StructType(
            [StructField("vec_id", LongType()), StructField("codes", BinaryType())]
            + [StructField(c, LongType()) for c in carry]
        ),
    )


def pq_shortlist(
    codes_df: DataFrame,
    query_rows: list,
    codebooks: list,
    shortlist: int,
    probe_sets: dict | None = None,
    residual_centroids: dict | None = None,
    rotation: list | None = None,
    exclude_ids: list | None = None,
) -> DataFrame:
    """ADC scan: for each (q_id, qe) in ``query_rows`` (a SMALL collected
    list — the query side broadcasts via the closure, the corpus never
    moves), score every code row with per-subspace L2 lookup tables and
    keep each partition's per-query top-``shortlist``; a final window
    cuts the global shortlist.  Emits (q_id, vec_id, adc) — adc is the
    approximate squared L2 between unit vectors (monotone in cosine).

    ``probe_sets`` (IVF-PQ composition) maps q_id -> iterable of probed
    cent_ids; when given, ``codes_df`` must carry a ``cent_id`` column
    and each query scores ONLY rows inside its own probe set — the scan
    itself is already pruned to the UNION of probe sets by partition
    filters, this mask restores the per-query semantics on top.

    ``residual_centroids`` (requires ``probe_sets``): true-IVFADC
    scoring — codes encode residuals x_norm - c_norm, so each query
    builds one LUT PER PROBED CENTROID on the shifted target
    q_norm - c_norm (m·k·nprobe table entries per query — still
    KBs) and scores each row against its own centroid's LUT.

    ``exclude_ids`` (tombstone deletes, r16): ids masked out of every
    partition's candidates INSIDE the scan (one np.isin per Arrow
    batch) — deleted vectors neither score nor occupy shortlist slots,
    and the filter adds ZERO plan/codegen cost per query (a 1000-literal
    isin on the shortlist cost ~0.5 s of per-query analysis at d3l;
    this is free).

    ``rotation`` (OPQ): LUT targets are rotated by the same matrix the
    encode side applied (after the residual shift, before the subspace
    split) — rotation is orthogonal, so the ADC value is the same
    squared L2 it always was, just computed in the decorrelated
    basis."""
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    if residual_centroids is not None and probe_sets is None:
        raise ValueError(
            "residual scoring needs probe_sets (per-centroid LUTs "
            "are only defined over a query's probed clusters)"
        )
    cmap = (
        _normalized_centroid_map(residual_centroids)
        if residual_centroids is not None
        else None
    )

    def run(batches):
        import numpy as np

        books = [np.asarray(b, dtype=np.float64) for b in codebooks]
        rot = (
            np.asarray(rotation, dtype=np.float64)
            if rotation is not None
            else None
        )
        m = len(books)
        probes = (
            {int(q): np.asarray(sorted(c), dtype=np.int64) for q, c in probe_sets.items()}
            if probe_sets is not None
            else None
        )
        excluded = (
            np.asarray(sorted(exclude_ids), dtype=np.int64)
            if exclude_ids
            else None
        )
        luts = []
        for q_id, qe in query_rows:
            q = np.asarray(qe, dtype=np.float64)
            qn = np.linalg.norm(q)
            q = q / (qn if qn else 1.0)
            sub = len(q) // m

            def make_lut(target):
                if rot is not None:
                    target = target @ rot
                return np.stack(
                    [
                        ((books[j] - target[j * sub:(j + 1) * sub]) ** 2).sum(
                            axis=1
                        )
                        for j in range(m)
                    ]
                )  # (m, k)

            if cmap is not None:
                # one LUT per probed centroid on the shifted target
                per_c = {
                    int(c): make_lut(q - cmap[int(c)])
                    for c in probe_sets[int(q_id)]
                }
                luts.append((int(q_id), per_c))
            else:
                luts.append((int(q_id), make_lut(q)))
        # per-partition accumulation, one emission per partition: the
        # shuffle carries queries x shortlist rows per partition, never
        # the corpus
        best: dict[int, list] = {q: [] for q, _ in luts}
        rows_seen = False
        for pdf in batches:
            if pdf.empty:
                continue
            rows_seen = True
            codes = np.frombuffer(
                b"".join(pdf["codes"]), dtype=np.uint8
            ).reshape(len(pdf), m)
            ids = pdf["vec_id"].to_numpy()
            if excluded is not None:
                keep = ~np.isin(ids, excluded)
                if not keep.all():
                    pdf = pdf[keep]
                    ids = ids[keep]
                    codes = codes[keep]
                    if len(pdf) == 0:
                        continue
            cents = (
                pdf["cent_id"].to_numpy().astype(np.int64)
                if probes is not None
                else None
            )
            cols = np.arange(m)
            for q_id, lut in luts:
                q_ids, q_codes, q_cents = ids, codes, cents
                if probes is not None:
                    mask = np.isin(cents, probes[q_id])
                    if not mask.any():
                        continue
                    q_ids, q_codes = ids[mask], codes[mask]
                    q_cents = cents[mask]
                if isinstance(lut, dict):  # residual per-centroid LUTs
                    adc = np.empty(len(q_ids), dtype=np.float64)
                    for c, lc in lut.items():
                        cm = q_cents == c
                        if cm.any():
                            adc[cm] = lc[cols, q_codes[cm]].sum(axis=1)
                else:
                    adc = lut[cols, q_codes].sum(axis=1)
                take = min(shortlist, len(adc))
                idx = np.argpartition(adc, take - 1)[:take]
                best[q_id].append((q_ids[idx], adc[idx]))
        out_q, out_v, out_a = [], [], []
        if rows_seen:
            for q_id, parts in best.items():
                if not parts:  # probe mask matched nothing here
                    continue
                ids = np.concatenate([p[0] for p in parts])
                adc = np.concatenate([p[1] for p in parts])
                # redelivered appends duplicate code rows with IDENTICAL
                # adc (encode is deterministic); dedup by id BEFORE the
                # top-S cut or duplicates eat shortlist slots
                _, uidx = np.unique(ids, return_index=True)
                ids, adc = ids[uidx], adc[uidx]
                take = min(shortlist, len(adc))
                idx = np.argpartition(adc, take - 1)[:take]
                out_q.extend([q_id] * take)
                out_v.extend(ids[idx].tolist())
                out_a.extend(adc[idx].tolist())
        yield pd.DataFrame({"q_id": out_q, "vec_id": out_v, "adc": out_a})

    scored = codes_df.mapInPandas(
        run,
        StructType(
            [
                StructField("q_id", LongType()),
                StructField("vec_id", LongType()),
                StructField("adc", DoubleType()),
            ]
        ),
    )
    w = Window.partitionBy("q_id").orderBy("adc", "vec_id")
    return (
        # cross-PARTITION duplicates (a replayed append lands in new
        # files) survive the in-partition dedup; drop them before the
        # global cut so no duplicate holds two shortlist slots.  scored
        # is partitions × queries × S rows — the dedup never touches
        # the code relation.
        scored.dropDuplicates(["q_id", "vec_id"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= shortlist)
        .drop("rn")
    )


@query("similarity_pq_topk", oracle=None)
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-k — the compressed-scan serving
    tier: deterministic codebook fit (driver-side, sample-bounded),
    m-byte-per-vector encode, ADC shortlist over the code relation
    (8x top_k), then an EXACT cosine re-rank of only the shortlist
    against the original vectors.  Approximate by construction (the
    shortlist can miss a true neighbor) -> rows-only; the recall floor
    vs brute-force similarity_topk is pinned in pytest.

    Scale shape: the scan reads m bytes/vector instead of 4·d (32x at
    d=64) and stays embarrassingly parallel; per-partition top-S keeps
    the shuffle at queries x shortlist rows; the re-rank joins
    |q|·shortlist ids back to the corpus — the standard
    PQ-prune/exact-verify cadence a memory-bounded 100 TB serving
    layer runs (Jégou et al., TPAMI 2011)."""
    emb = table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= _N_QUERIES)
    books = fit_pq_codebooks(corpus)
    qdf = _query_frame(emb)
    q_rows = [(r.q_id, list(r.qe)) for r in qdf.collect()]
    short = pq_shortlist(
        pq_encode(corpus, books), q_rows, books, _PQ_SHORTLIST_X * _TOP_K
    )
    return _finish_topk(
        short, qdf, corpus.select("vec_id", "embedding"), _TOP_K, unique_ids=True
    ).orderBy("q_id", "rnk")


def _codebooks_from_rows(cb_rows: list, m: int) -> list:
    """Rebuild nested codebook lists from (subspace, code, centroid) rows
    by grouping ACTUAL rows per subspace — never assuming a uniform k.
    fit_pq_codebooks can emit fewer than k centroids on low-cardinality
    sub-vector data (first-k-distinct init), so a ``[None]*k`` template
    would leave object-dtype holes and crash the ADC scan (ADVICE r11).
    Codes in the data are argmin indices into each book, so a dense
    code-ordered list is exactly the fit-time book."""
    by_sub: dict[int, list] = {}
    for r in cb_rows:
        by_sub.setdefault(r.subspace, []).append((r.code, list(r.centroid)))
    books = [[c for _, c in sorted(by_sub.get(j, []))] for j in range(m)]
    for j, book in enumerate(books):
        if not book:
            raise ValueError(f"codebooks table has no rows for subspace {j}")
    return books


def build_pq_index(spark: SparkSession, sf_dir: str, index_path: str) -> None:
    """Materialize the PQ tier: ``{index}/codes`` (the m-byte relation),
    ``{index}/codebooks`` (m·k rows), ``{index}/meta``.  Build cost is
    one corpus pass; rebuilds refit codebooks as the distribution
    drifts, same cadence as the IVF refit."""
    emb = table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= _N_QUERIES)
    books = fit_pq_codebooks(corpus)
    pq_encode(corpus, books).write.mode("overwrite").parquet(f"{index_path}/codes")
    _write_pq_codebooks(spark, books, index_path)


def _write_pq_codebooks(
    spark: SparkSession,
    books: list,
    index_path: str,
    residual: bool = False,
    auto_stats: dict | None = None,
    rotation: list | None = None,
) -> None:
    """``{index}/codebooks`` (one row per (subspace, code)) + ``{index}/
    meta``; k is informational (read-back groups actual rows, never
    trusts k) — record the LARGEST subspace so a ragged fit is visible.

    ``auto_stats`` (from choose_codes_mode) marks the code mode as
    auto-chosen and logs both measured statistics, so a rebuild's
    mode decision is auditable from the index alone.  Explicit builds
    record mode='explicit' with NULL statistics; pre-r15 indexes simply
    lack the columns (readers access meta fields by name)."""
    rows = [
        (j, c, [float(v) for v in cent])
        for j, book in enumerate(books)
        for c, cent in enumerate(book)
    ]
    from data_integration_system_spark.operators._common import local_rows_df

    local_rows_df(
        spark, rows, "subspace int, code int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/codebooks")
    if rotation is not None:
        local_rows_df(
            spark,
            [(i, [float(v) for v in row]) for i, row in enumerate(rotation)],
            "i int, row array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/rotation")
    local_rows_df(
        spark,
        [(
            len(books),
            max(len(b) for b in books),
            residual,
            "auto" if auto_stats is not None else "explicit",
            auto_stats.get("ratio") if auto_stats else None,
            auto_stats.get("lowrank_frac") if auto_stats else None,
            rotation is not None,
        )],
        "m int, k int, residual boolean, residual_mode string, "
        "auto_residual_ratio double, auto_lowrank_frac double, "
        "opq boolean",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/meta")


def append_pq_index(
    spark: SparkSession,
    index_path: str,
    new_vectors: DataFrame,
) -> None:
    """Incrementally index new vectors against the EXISTING codebooks —
    the PQ sibling of append_ivf_index: encode (vec_id, embedding) rows
    with the stored books and append the m-byte code rows.  Codebooks
    are deliberately NOT refit by an append — pq_encode against FIXED
    books is deterministic, so an index grown incrementally answers
    queries identically to a one-shot build over the same corpus (the
    invariant the append test pins).  Distribution drift is the
    scheduled build_pq_index rebuild's job — the same grow-online /
    refit-offline serving cadence as the IVF tier."""
    meta = spark.read.parquet(f"{index_path}/meta").head()
    cb = spark.read.parquet(f"{index_path}/codebooks").collect()
    books = _codebooks_from_rows(cb, meta["m"])
    pq_encode(new_vectors, books).write.mode("append").parquet(
        f"{index_path}/codes"
    )


def query_pq_index(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    vectors: DataFrame | None = None,
    top_k: int = _TOP_K,
    shortlist_x: int = _PQ_SHORTLIST_X,
) -> DataFrame:
    """Serve top-k from a materialized PQ index: read back the
    codebooks (tiny), ADC-scan the code relation, and — when the
    original ``vectors`` relation (vec_id, embedding) is supplied —
    exact-re-rank the shortlist (the production cadence: PQ prunes,
    the lake's originals verify).  Without ``vectors`` the ADC order
    itself ranks (pure-compressed mode; rnk ties broken on c_id).
    ``queries`` is (q_id, qe)."""
    meta = spark.read.parquet(f"{index_path}/meta").head()
    m = meta["m"]
    cb = spark.read.parquet(f"{index_path}/codebooks").collect()
    books = _codebooks_from_rows(cb, m)
    codes = spark.read.parquet(f"{index_path}/codes")
    q_rows = [(r[0], list(r[1])) for r in queries.collect()]
    # redelivery safety lives inside pq_shortlist (in-partition +
    # pre-cut dedup), so a replayed append can't hold two ranks here
    short = pq_shortlist(codes, q_rows, books, shortlist_x * top_k)
    return _finish_topk(short, queries, vectors, top_k)


def _finish_topk(
    short: DataFrame,
    queries: DataFrame,
    vectors: DataFrame | None,
    top_k: int,
    unique_ids: bool = False,
) -> DataFrame:
    """Shared tail of the PQ-family query paths: exact cosine re-rank of
    the shortlist against the original ``vectors`` (the production
    cadence — PQ prunes, the lake's originals verify), or pure-ADC
    ranking when no vectors relation is supplied.  The joins ship
    |q|·shortlist rows; the query side broadcasts.  ``unique_ids``
    says ``vectors`` has one row per vec_id (the catalog relation), so
    the candidates need no dedup."""
    if vectors is None:
        w = Window.partitionBy("q_id").orderBy("adc", "vec_id")
        return (
            short.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= top_k)
            .select(
                "q_id",
                F.col("vec_id").alias("c_id"),
                F.col("rn").cast("long").alias("rnk"),
                F.round("adc", 6).alias("adc_dist"),
            )
        )
    qdf = queries.toDF("q_id", "qe")
    cand = short.join(
        vectors.select("vec_id", F.col("embedding").alias("ce")), "vec_id"
    ).join(F.broadcast(qdf), "q_id")
    if not unique_ids:
        # a redelivered/re-appended id in an index vectors relation has
        # DUPLICATE rows; the join multiplies them into duplicate
        # (q_id, vec_id) candidates that would each take a rank — dedup
        # on the candidate set (|q|·shortlist rows, identical embeddings
        # per id, so any surviving row is the right one)
        cand = cand.dropDuplicates(["q_id", "vec_id"])
    return _rank_topk(
        cand.select(
            "q_id", F.col("vec_id").alias("c_id"), cosine("qe", "ce").alias("sim")
        ),
        top_k,
    )


# ---------------------------------------------------------------------------
# IVF-PQ composition (IVFADC — Jégou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011 §IV): PQ codes laid out INSIDE
# IVF centroid partitions.  IVF alone prunes partitions but scans raw
# vectors; PQ alone compresses 32x but ADC-scans the WHOLE code
# relation per query batch.  Composed, a query reads ~nprobe/k of the
# CODES — both prunings multiply, which is the 100 TB serving shape:
# partition pruning bounds I/O, code compression bounds the bytes of
# what's left, and only the shortlist pays an exact re-rank.
# ---------------------------------------------------------------------------

def _index_relation(
    spark: SparkSession,
    index_path: str,
    rel: str,
    manifest: dict | None,
    probed: list | None = None,
) -> DataFrame:
    """One relation of an IVF-PQ index, restricted to the ``probed``
    cent_id partitions when given: through the manifest's file list and
    stored schema when the committed manifest lists it (no inference or
    listing job, unprobed dirs untouched), else a directory read with
    literal PartitionFilters — a manifest-less index, or the non-local
    delete+rename commit window."""
    if manifest is not None and rel in manifest.get("relations", {}):
        from data_integration_system_spark.pipeline import index_manifest as im

        return im.read_relation(
            spark, index_path, rel, manifest=manifest, partitions=probed
        )
    df = spark.read.parquet(f"{index_path}/{rel}")
    return df if probed is None else df.filter(F.col("cent_id").isin(probed))


def _read_rotation(
    spark: SparkSession, index_path: str, meta, manifest: dict | None = None
) -> list | None:
    """The stored OPQ rotation (row-ordered nested list), or None for
    non-OPQ indexes — pre-r15 meta rows have no ``opq`` column, so
    those indexes are unrotated by construction."""
    if not bool(meta.asDict().get("opq", False)):
        return None
    rows = _index_relation(spark, index_path, "rotation", manifest).collect()
    return [list(r.row) for r in sorted(rows, key=lambda r: int(r.i))]


def _centroid_map(cent_rows: list) -> dict:
    return {int(r.cent_id): list(r.centroid) for r in cent_rows}


def _load_frozen_state(
    spark: SparkSession, index_path: str, manifest: dict | None
) -> tuple:
    """An IVF-PQ index's frozen state — ``(cent, cent_rows, books,
    residual_centroids, rotation)`` from the centroids, meta, codebooks
    and rotation relations — the one loader behind append_ivfpq_index
    and IvfPqIndexHandle.  It applies whatever meta records, so an
    index whose meta sets both residual and opq (a composition builds
    no longer offer) still opens, appends and answers."""
    cent = _index_relation(spark, index_path, "centroids", manifest)
    cent_rows = cent.collect()
    meta = _index_relation(spark, index_path, "meta", manifest).head()
    books = _codebooks_from_rows(
        _index_relation(spark, index_path, "codebooks", manifest).collect(),
        meta["m"],
    )
    # pre-r13 meta rows have no ``residual`` column: flat by construction
    residual = bool(meta.asDict().get("residual", False))
    cmap = _centroid_map(cent_rows) if residual else None
    return cent, cent_rows, books, cmap, _read_rotation(
        spark, index_path, meta, manifest
    )


#: mode="auto" decision thresholds — the executable form of the
#: four-regime operating rule (SCALE.md r13/r14/r15).  Residual encoding
#: pays when clusters are TIGHT (mean normalized residual norm well under
#: the wide-isotropic band: d3t measures ~0.37, d3c/d3l ~0.63, pure noise
#: ~1.4) and OPQ when residuals are STRUCTURED/low-rank (per-cluster
#: participation ratio of the residual covariance far below the dimension:
#: rank-8-of-64 measures ~0.12 vs isotropic ~0.5-1.0 depending on sample
#: size).  Thresholds sit mid-band so sampling noise can't flip a regime.
_AUTO_TIGHT_RATIO = 0.5
_AUTO_LOWRANK_FRAC = 0.35
_AUTO_SAMPLE_CAP = 20_000
_AUTO_MIN_CLUSTER_ROWS = 16


def choose_codes_mode(
    assigned: DataFrame,
    residual_centroids: dict,
    sample_cap: int = _AUTO_SAMPLE_CAP,
) -> tuple[str, dict]:
    """The code-quality ladder (SCALE.md r15) made executable —
    build_ivfpq_index(mode="auto")'s decision function.  Measures the
    residual geometry on a bounded, deterministic sample and returns
    ``(mode, stats)`` with mode in {"flat", "residual", "opq"}:

    * tight clusters (ratio <= 0.5) -> **residual** — re-centering is
      the win there (a rotation cannot shrink a norm; d3t: 6x).
    * structured / low-rank residuals (lowrank_frac <= 0.35) ->
      **opq** — at d3l scale OPQ matches residual's starved-shortlist
      recall (0.90) at 1.65x lower query cost (one LUT per query vs
      one per probed centroid), so on structure alone OPQ dominates.
    * isotropic wide / noise -> **flat** — both alternatives measured
      as pure cost there.

    ``stats`` carries the two measured statistics for the meta log:

    * ``ratio`` — mean L2 norm of the normalized-space residual
      (vectors are unit, so this IS residual-norm/vector-norm).  Tight
      clusters (d3t: ~0.37) are where residual encoding wins 6x; the
      wide-isotropic band (d3c: ~0.63) is where it loses; pure noise
      (~1.4) is where centroids resolve nothing.
    * ``lowrank_frac`` — per-cluster participation ratio of the
      residual covariance, sample-weighted, over the dimension:
      (sum lam)^2 / sum lam^2 / d, DEBIASED for sample size (below).
      Anisotropic low-rank residuals (d3l: rank 8 of 64 -> ~0.12 raw,
      ~0.2 debiased at 100-row clusters) are the structured regime;
      isotropic residuals read ~1.0 debiased.  Computed PER CLUSTER
      because pooling across clusters with different subspaces washes
      the structure out to isotropic.

    Small-sample debiasing (ADVICE r15): the RAW participation ratio
    of a sample covariance is capped by the row count — for a
    perfectly ISOTROPIC Gaussian cluster of n_c rows in d dims the
    Wishart expectation is E[PR] ≈ d·n_c/(n_c+d+1), so at n_c=16..32,
    d=64 the raw frac reads 0.20..0.33 (measured 0.19..0.32), BELOW
    the 0.35 threshold — the statistic would systematically misread
    isotropy as structure exactly in the 16-40-rows-per-cluster band
    that sample_cap/k fan-out produces for mid-size corpora.  Each
    cluster's frac is therefore multiplied by (n_c+d+1)/n_c, the
    first-order correction that sends isotropic clusters to ~1.0 at
    ANY qualifying sample size while a true rank-r cluster reads
    ~(r/d)·(n_c+d+1)/(n_c+r+1) -> r/d from above (rank-8-of-64 at 32
    rows: ~0.30, still under threshold — discrimination is RECOVERED
    in the band, not just skipped).  Pinned:
    test_lowrank_frac_debiasing_small_isotropic_clusters.

    The sample is _training_sample's deterministic draw (no RNG — auto
    picks the same mode on every rebuild of the same corpus), capped
    small (stats need far fewer rows than a codebook fit).  Clusters
    with fewer than _AUTO_MIN_CLUSTER_ROWS sampled members are skipped
    for the covariance statistic (below that even the debiased PR is
    variance-dominated); when no cluster qualifies, the decision falls
    back to the ratio test alone."""
    import numpy as np

    resid, cids = _training_sample(assigned, sample_cap, residual_centroids)
    ratio = float(np.linalg.norm(resid, axis=1).mean())
    d = resid.shape[1]
    prs: list[float] = []
    weights: list[int] = []
    for c in np.unique(cids):
        rc = resid[cids == c]
        if len(rc) < _AUTO_MIN_CLUSTER_ROWS:
            continue
        rc = rc - rc.mean(axis=0)
        lam = np.linalg.svd(rc, compute_uv=False) ** 2
        tot = float(lam.sum())
        if tot <= 0:
            continue
        # Wishart small-sample debias: raw PR is capped by the row
        # count (isotropic expectation d·n/(n+d+1)); the (n+d+1)/n
        # factor restores ~d (frac ~1.0) for isotropy at any n_c
        debias = (len(rc) + d + 1) / len(rc)
        prs.append(tot * tot / float((lam**2).sum()) * debias)
        weights.append(len(rc))
    frac = float(np.average(prs, weights=weights) / d) if prs else None
    stats = {"ratio": ratio, "lowrank_frac": frac}
    if ratio <= _AUTO_TIGHT_RATIO:
        return "residual", stats
    if frac is not None and frac <= _AUTO_LOWRANK_FRAC:
        return "opq", stats
    return "flat", stats


_CODE_MODES = ("flat", "residual", "opq", "auto")


def build_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    lloyd_iters: int = _LLOYD_ITERS,
    store_vectors: bool | str = True,
    mode: str = "flat",
    centroids: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> None:
    """Materialize the composed index: ``{index}/codes`` PARTITIONED BY
    cent_id (each vector's m-byte PQ code lives in its IVF partition),
    plus ``{index}/centroids`` and the PQ ``codebooks``/``meta``.  Both
    fits are the existing deterministic ones (fit_ivf_centroids,
    fit_pq_codebooks), so incremental growth against the FROZEN
    centroids+codebooks answers identically to a rebuild on the same
    corpus — the same grow-online/refit-offline cadence as the IVF and
    PQ tiers it composes.

    ``mode`` picks how vectors become codes:

    * "flat" — codebooks fitted on the normalized vectors.
    * "residual" — true IVFADC: codes encode x_norm − c_norm against
      residual-fitted books; queries build one LUT per probed centroid.
    * "opq" — codebooks fitted through fit_opq's learned orthogonal
      rotation (Ge et al. CVPR 2013), stored as ``{index}/rotation``
      (KBs) and applied symmetrically by every encode/LUT path.
    * "auto" — measure the fit sample and apply choose_codes_mode's
      ladder (tight→residual, structured→opq, isotropic/noise→flat);
      the choice and both statistics are logged into ``{index}/meta``
      so a rebuild's choice is auditable."""
    from data_integration_system_spark.operators._common import (
        cluster_for_partitioned_write,
        parallelize_scan,
    )

    if mode not in _CODE_MODES:
        raise ValueError(f"mode must be one of {_CODE_MODES}; got {mode!r}")
    # ``centroids``/``assigned`` (r18): callers that build SEVERAL index
    # variants over the SAME corpus (the recall-gain/parity queries, A/B
    # rebuild loops) may pass the fit and the assignment in, so the
    # Lloyd fit + nearest-centroid pass run once per corpus instead of
    # once per variant.  Both are deterministic derivations of the
    # corpus (fit_ivf_centroids / nearest_centroid), so a build with
    # them supplied is bit-identical to one that derives them here.
    if centroids is None:
        centroids = fit_ivf_centroids(spark, sf_dir, lloyd_iters)
    cent = centroids
    if assigned is None:
        emb = parallelize_scan(table(spark, sf_dir, "embeddings"))
        corpus = emb.filter(F.col("vec_id") >= _N_QUERIES)
        assigned = nearest_centroid(
            corpus.select("vec_id", "embedding"), cent
        ).localCheckpoint()  # one assignment feeds fit + encode + write
    cent_rows = cent.collect()
    auto_stats = None
    if mode == "auto":
        mode, auto_stats = choose_codes_mode(assigned, _centroid_map(cent_rows))
    cmap = _centroid_map(cent_rows) if mode == "residual" else None
    # both fits sample on the CHECKPOINTED assignment (same vec_id set,
    # same hash-thinned deterministic sample as the raw corpus scan the
    # flat path used to re-read — values identical, one scan cheaper)
    if mode == "opq":
        rotation, books = fit_opq(assigned)
    else:
        rotation, books = None, fit_pq_codebooks(assigned, residual_centroids=cmap)
    codes = pq_encode(
        assigned, books, carry=("cent_id",), residual_centroids=cmap,
        rotation=rotation,
    )
    k = len(cent_rows)

    # the raw vectors live INSIDE the index, co-partitioned with their
    # codes: every shortlist candidate is in a PROBED partition by
    # construction, so the exact re-rank reads nprobe/k of this relation
    # instead of joining against the full corpus (512 MB/query at d3c,
    # unbounded at 100 TB) — the IVFFlat-refine layout production ANN
    # services run; storage pays one extra corpus copy at the index.
    # store_vectors="sq8" (r16) stores that copy SCALAR-QUANTIZED
    # (per-vector affine uint8, sq8_encode): ~3x less storage and
    # probed re-rank I/O at measured-zero recall cost (SCALE.md r16).
    # store_vectors=False opts out (evaluation loops that re-rank
    # against an explicit corpus anyway, storage-tight deployments).
    #
    # The relations land in DISTINCT subdirs with no cross-dependency,
    # so the writes are submitted concurrently (guide §2.6 — overlap
    # independent jobs; the session scheduler is FAIR): the vectors/
    # centroids/codebooks jobs back-fill the codes write's task tail
    # instead of each paying a serial job turnaround.  The manifest
    # commit below still runs strictly AFTER every relation is on disk.
    def _write_codes() -> None:
        cluster_for_partitioned_write(codes, "cent_id", k).write.mode(
            "overwrite"
        ).partitionBy("cent_id").parquet(f"{index_path}/codes")

    def _write_vectors() -> None:
        if store_vectors == "sq8":
            payload = sq8_encode(assigned, carry=("cent_id",))
        elif store_vectors:
            payload = assigned
        else:
            return
        cluster_for_partitioned_write(payload, "cent_id", k).write.mode(
            "overwrite"
        ).partitionBy("cent_id").parquet(f"{index_path}/vectors")

    def _write_meta() -> None:
        cent.write.mode("overwrite").parquet(f"{index_path}/centroids")
        _write_pq_codebooks(
            spark, books, index_path, residual=cmap is not None,
            auto_stats=auto_stats, rotation=rotation,
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = [
            pool.submit(fn)
            for fn in (_write_codes, _write_vectors, _write_meta)
        ]
        for f in futures:
            f.result()  # propagate the first failure, after all settle
    # a rebuild COMPACTS deletes: the fresh codes/vectors reflect the
    # current corpus, so stale tombstones from the previous generation
    # must not keep hiding re-ingested ids (delete_from_ivfpq_index's
    # lifecycle contract)
    from data_integration_system_spark.operators.tombstones import (
        clear_tombstones,
    )

    clear_tombstones(spark, index_path)
    _write_ivfpq_manifest(spark, index_path)


def append_ivfpq_index(
    spark: SparkSession,
    index_path: str,
    new_vectors: DataFrame,
) -> None:
    """Online append: assign new (vec_id, embedding) rows to their
    nearest FROZEN centroid, encode against the FROZEN codebooks, and
    append the code rows into that centroid's partition.  Neither
    structure moves on append (or earlier codes would become
    unreachable through the pruned probe); drift is the scheduled
    build_ivfpq_index rebuild's job."""
    from data_integration_system_spark.operators._common import (
        cluster_for_partitioned_write,
    )

    from data_integration_system_spark.pipeline import index_manifest as im

    man = im.read_manifest(spark, index_path)
    # ONE collect of the tiny centroid relation feeds the assignment
    # dispatch, the residual map, and k
    cent, cent_rows, books, cmap, rotation = _load_frozen_state(
        spark, index_path, man
    )
    assigned = nearest_centroid(
        new_vectors.select("vec_id", "embedding"), cent, rows=cent_rows
    ).localCheckpoint()  # one assignment feeds both writes + touched set
    codes = pq_encode(
        assigned, books, carry=("cent_id",), residual_centroids=cmap,
        rotation=rotation,
    )
    k = len(cent_rows)
    # vectors relation stays in lockstep with codes — but ONLY if the
    # index has one (appending vectors a pre-r14 index lacks for older
    # rows would make the index-resident re-rank silently partial).
    # Write VECTORS FIRST: a crash between the two writes then leaves
    # orphan vectors (harmless — never shortlisted, reconciled away by
    # the next rebuild), where the old codes-first order left orphan
    # CODES whose re-rank join silently dropped those candidates forever
    # (r14 ADVICE).  The manifest lockstep check below makes any
    # surviving divergence fail loudly at commit time.
    has_vectors = exists(spark, f"{index_path}/vectors")
    if has_vectors:
        # an SQ8 vectors relation (store_vectors="sq8") must be appended
        # in its own encoding — detected from the relation's schema,
        # read with no partition probed (the manifest's stored schema:
        # zero jobs)
        vec_cols = _index_relation(spark, index_path, "vectors", man, []).columns
        payload = (
            sq8_encode(assigned, carry=("cent_id",))
            if "vq" in vec_cols
            else assigned
        )
        cluster_for_partitioned_write(payload, "cent_id", k).write.mode(
            "append"
        ).partitionBy("cent_id").parquet(f"{index_path}/vectors")
    cluster_for_partitioned_write(codes, "cent_id", k).write.mode(
        "append"
    ).partitionBy("cent_id").parquet(f"{index_path}/codes")
    # un-delete: a re-appended id gets UPSERT semantics — its fresh
    # encoding just landed, so its tombstone (if any) is dropped.  The
    # relation is tiny (bounded by deletes-per-rebuild-cycle), so the
    # rewrite is read → anti-join → localCheckpoint → overwrite; a
    # crash before the rewrite leaves the id hidden until the
    # at-least-once redelivery re-runs this append.
    from data_integration_system_spark.operators.tombstones import (
        drop_tombstones_for,
    )

    drop_tombstones_for(spark, index_path, assigned.select("vec_id"), "vec_id")
    # manifest upkeep: an append touches only its batch's partitions —
    # re-list just those (sub-second) instead of walking all ~sqrt(n)
    # dirs (~21 s at d3c), so streaming micro-batch ingest stays cheap;
    # a pre-manifest index gets a full backfill commit instead
    touched = [
        int(r.cent_id) for r in assigned.select("cent_id").distinct().collect()
    ]
    if man is None or (has_vectors and "vectors" not in man["relations"]):
        # no manifest, or the vectors relation exists on disk but not in
        # the committed manifest (mid-migration state): full reconcile —
        # a partial vectors manifest would silently DROP re-rank
        # candidates whose files it doesn't list
        _write_ivfpq_manifest(spark, index_path)
    else:
        updates = {"codes": touched}
        if has_vectors:
            updates["vectors"] = touched  # lockstep, one atomic commit
        im.update_manifest_partitions(
            spark, index_path, updates, lockstep=_IVFPQ_LOCKSTEP
        )


def _write_ivfpq_manifest(spark: SparkSession, index_path: str) -> None:
    """Commit the composed index's file manifest (one driver-side FS
    walk, atomic rename — see pipeline/index_manifest.py).  Build,
    append, and rebuild all route here, so a cold open never schedules
    the distributed partition-discovery job the r13 d3c campaign
    measured at ~4 s of a 4.4 s query wall."""
    from data_integration_system_spark.pipeline.index_manifest import (
        write_manifest,
    )

    relations: dict = {
        "codes": "cent_id",
        "centroids": None,
        "codebooks": None,
        "meta": None,
    }
    # r14+: builds co-locate the raw vectors inside the index; a
    # pre-vectors index backfilled with a manifest simply lacks the
    # relation (queries fall back to caller-supplied vectors / pure ADC)
    if exists(spark, f"{index_path}/vectors"):
        relations["vectors"] = "cent_id"
    if exists(spark, f"{index_path}/rotation"):  # OPQ builds (r15)
        relations["rotation"] = None
    write_manifest(spark, index_path, relations, lockstep=_IVFPQ_LOCKSTEP)


#: Relations whose per-partition row counts must match at every manifest
#: commit: a codes row without its vector would be silently dropped by the
#: index-resident re-rank (inner join), so divergence refuses the commit
#: (ManifestLockstepError) instead of being committed into the manifest.
_IVFPQ_LOCKSTEP = [("codes", "vectors")]


def delete_from_ivfpq_index(spark: SparkSession, index_path: str, vec_ids) -> int:
    """Logical DELETE from the composed index (r16): append the ids to
    ``{index}/tombstones`` — every query path (inline, handle, pure-ADC)
    anti-joins the shortlist against this relation before the top-k
    cut, so a deleted vector neither appears in results NOR consumes a
    top-k slot, effective on the next query with no index rewrite.
    ``vec_ids`` is a DataFrame with a ``vec_id`` column or an iterable
    of ints; returns the number of NEW tombstones written (re-deleting
    an already-deleted id is a no-op — idempotent under at-least-once
    redelivery, and the relation cannot grow with retries).

    Lifecycle: a tombstone hides every code/vector row for that id
    until either (a) the id is RE-APPENDED — append_ivfpq_index drops
    its batch's ids from the tombstones, restoring visibility with the
    fresh encoding (upsert semantics), or (b) the scheduled REBUILD —
    build_ivfpq_index clears the tombstones relation, and a corpus that
    no longer contains the deleted rows compacts them away physically.
    The reference deletes rows from its Postgres store directly
    (db/postgres_store.py); on an immutable-file lake, tombstone-then-
    compact is the standard form of the same operation.

    Single-writer contract (same as every index mutation here):
    serialize deletes with appends — append_ivfpq_index's un-delete
    rewrites this relation read-modify-write, so an interleaved delete
    could be lost; the streaming sinks' foreachBatch serialization
    already provides this, ad-hoc callers must.

    Scale shape: tombstones are bounded by deletes-per-rebuild-cycle
    (≪ corpus — takedowns and dedup removals, not churn), so the
    query-side anti-join broadcasts KBs; the write is one tiny file
    append.  If deletes ever rival corpus size, that is a rebuild
    trigger, not a bigger tombstone file."""
    from data_integration_system_spark.operators.tombstones import (
        append_tombstones,
    )

    return append_tombstones(spark, index_path, vec_ids, "vec_id")


def sq8_encode(vectors_df: DataFrame, carry: tuple = ()) -> DataFrame:
    """Per-vector affine uint8 scalar quantization (SQ8) of the
    L2-NORMALIZED vector — the refine-tier compression rung below
    storing raw floats: ``(vec_id, vq array<smallint>, vmin double,
    vscale double, *carry)`` where element i decodes as
    ``vmin + vq[i]·vscale`` (vscale = (max−min)/255 over the unit
    vector's components; constant vectors get vscale=0 and all-zero
    codes).  array<smallint> of 0..255 values bit-packs to ~1 byte per
    dimension in parquet vs 8 raw for array<double> — the vectors
    relation (a full corpus copy inside the index) shrinks ~3× ON DISK
    (snappy already ~2×-compresses the double pages; 8× is the raw
    ratio), and so does every probed re-rank read.  Arrow-batched numpy at scan
    parallelism, same shape as pq_encode; deterministic (no RNG), so
    append and rebuild agree bit-for-bit.

    Quantization error per component is ≤ vscale/2 ≈ 1/255 of the unit
    vector's component RANGE — after the cosine re-rank renormalizes,
    ranking flips only among candidates whose true similarities differ
    by ~1e-3, which the d3-scale row (SCALE.md r16) measures as zero
    recall loss."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        ShortType,
        StructField,
        StructType,
    )

    def run(batches):
        import numpy as np

        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame(
                    {"vec_id": [], "vq": [], "vmin": [], "vscale": [],
                     **{c: [] for c in carry}}
                )
                continue
            x = np.asarray(list(pdf["embedding"]), dtype=np.float64)
            norms = np.linalg.norm(x, axis=1, keepdims=True)
            x = x / np.where(norms == 0, 1.0, norms)
            lo = x.min(axis=1, keepdims=True)
            scale = (x.max(axis=1, keepdims=True) - lo) / 255.0
            q = np.rint(
                (x - lo) / np.where(scale == 0, 1.0, scale)
            ).clip(0, 255).astype(np.int16)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "vq": list(q),
                    "vmin": lo.ravel(),
                    "vscale": scale.ravel(),
                    **{c: pdf[c].astype("int64") for c in carry},
                }
            )

    return vectors_df.select("vec_id", "embedding", *carry).mapInPandas(
        run,
        StructType(
            [
                StructField("vec_id", LongType()),
                StructField("vq", ArrayType(ShortType())),
                StructField("vmin", DoubleType()),
                StructField("vscale", DoubleType()),
            ]
            + [StructField(c, LongType()) for c in carry]
        ),
    )


def _sq8_decode(df: DataFrame) -> DataFrame:
    """JVM-side SQ8 decode: ``vmin + vq[i]·vscale`` via a transform
    lambda — stays inside whole-stage codegen on the re-rank's hot
    path, no Python round-trip (cosine() renormalizes downstream, so
    the decoded near-unit vector needs no correction)."""
    return df.select(
        "vec_id",
        F.transform(
            "vq",
            lambda b: F.col("vmin") + b.cast("double") * F.col("vscale"),
        ).alias("embedding"),
    )


def _index_resident_vectors(
    spark: SparkSession,
    index_path: str,
    manifest: dict | None,
    probed: list,
) -> DataFrame | None:
    """The exact-re-rank relation for an index that stores its raw
    vectors co-partitioned with the codes (r14+ builds): every
    shortlist candidate is in a PROBED partition by construction, so
    the re-rank reads nprobe/k of this relation instead of scanning the
    caller's full corpus — the IVFFlat-refine layout.  None for
    pre-vectors indexes (callers keep pure-ADC ranking or pass their
    own corpus).  SQ8-quantized relations (store_vectors="sq8", r16)
    are detected by SCHEMA (the ``vq`` column) and decoded JVM-side —
    readers need no meta lookup, and pre-sq8 indexes are untouched."""
    if manifest is not None:
        if "vectors" not in manifest.get("relations", {}):
            return None
    elif not exists(spark, f"{index_path}/vectors"):
        return None
    df = _index_relation(spark, index_path, "vectors", manifest, probed)
    if "vq" in df.columns:
        return _sq8_decode(df)
    return df.select("vec_id", "embedding")


def _probed_candidates(manifest: dict | None, sets: dict) -> int | None:
    """The shortlist-sizing statistic: the LARGEST single query's probed
    candidate count (max over queries of the sum of its probed
    partitions' manifest rows).  Max, not the union — the shortlist is
    one size for the batch, and the widest query is the one a smaller
    cut would starve.  None when no manifest statistic is available."""
    if manifest is None:
        return None
    from data_integration_system_spark.pipeline import index_manifest as im

    worst: int | None = 0
    for cents in sets.values():
        n = im.partition_rows(manifest, "codes", cents)
        if n is None:
            return None
        worst = max(worst, n)
    return worst


def query_ivfpq_index(
    spark: SparkSession, index_path: str, queries: DataFrame, **kw
) -> DataFrame:
    """One-shot serving: open the index and run one query batch through
    the handle — ``IvfPqIndexHandle(spark, index_path).query(queries,
    **kw)`` (see IvfPqIndexHandle.query for the keywords)."""
    return IvfPqIndexHandle(spark, index_path).query(queries, **kw)


@query("similarity_ivfpq_topk", oracle=None)
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN top-k (IVFADC), inline form: k-means centroid
    fit + PQ codebook fit (both deterministic), corpus encoded to
    m-byte codes carrying its centroid assignment, each query
    ADC-scanning ONLY its nprobe probed clusters' codes, exact cosine
    re-rank of the shortlist.  Doubly approximate (probe miss + code
    quantization) -> rows-only; the recall floor vs brute force is
    pinned in pytest, and the materialized path
    (build/append/query_ivfpq_index) is pinned identical to this
    inline plan.

    Scale shape: the ADC scan reads nprobe/k of the CODE relation —
    m bytes per vector of 1/k'th of the corpus (the two prunings
    multiply); the shuffle carries queries x shortlist rows; the
    re-rank joins |q|·shortlist ids against the original vectors with
    the query side broadcast.  This is the missing rung between the
    IVF tier (pruned but raw) and the PQ tier (compressed but full-
    scan) — the composition a 100 TB serving layer actually runs."""
    from data_integration_system_spark.operators._common import parallelize_scan

    emb = parallelize_scan(table(spark, sf_dir, "embeddings"))
    corpus = emb.filter(F.col("vec_id") >= _N_QUERIES)
    cent = fit_ivf_centroids(spark, sf_dir)
    cent_rows = cent.collect()
    books = fit_pq_codebooks(corpus)
    assigned = nearest_centroid(
        corpus.select("vec_id", "embedding"), cent, rows=cent_rows
    )
    codes = pq_encode(assigned, books, carry=("cent_id",))
    qdf = _query_frame(emb)
    q_rows = [(r.q_id, list(r.qe)) for r in qdf.collect()]
    sets = _probe_sets(q_rows, cent_rows, _IVFPQ_NPROBE)
    probed = sorted({c for s in sets.values() for c in s})
    codes = codes.filter(F.col("cent_id").isin(probed))
    short = pq_shortlist(
        codes, q_rows, books, _PQ_SHORTLIST_X * _TOP_K, probe_sets=sets
    )
    return _finish_topk(
        short, qdf, corpus.select("vec_id", "embedding"), _TOP_K, unique_ids=True
    ).orderBy("q_id", "rnk")


@query("similarity_ann_recall_matrix", oracle=None)
def similarity_ann_recall_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality MATRIX: per-method recall@k of every approximate tier
    — IVF (partition-pruned, raw vectors), PQ (compressed full scan),
    IVF-PQ (composed) — against the exact brute-force top-k, in one
    relation (method, q_id, n_hits, recall_e2).  This is the evaluation
    loop a serving layer runs to place each tier on its recall/cost
    point before trusting it at scale; similarity_recall_at_k is the
    single-tier ancestor, this is the ladder in one driver row.
    Approximate inputs -> rows-only; the per-tier floors are pinned in
    pytest (IVF harness floor, PQ 0.6/0.75, IVF-PQ planted-twin 8/8).

    Scale shape: all four operands are top-k RESULT relations
    (|q| x k rows) — the semi-joins and counts here are trivia; the
    cost is the searches themselves, each audited on its own row."""
    exact = similarity_topk(spark, sf_dir).select("q_id", "c_id").localCheckpoint()
    q_ids = exact.select("q_id").distinct()
    tiers = (
        ("ivf", similarity_ivf_topk),
        ("pq", similarity_pq_topk),
        ("ivfpq", similarity_ivfpq_topk),
    )
    out = None
    for method, fn in tiers:
        approx = fn(spark, sf_dir).select("q_id", "c_id")
        row = q_ids.join(_hit_counts(approx, exact), "q_id", "left").select(
            F.lit(method).alias("method"), "q_id", *_recall_columns()
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("method", "q_id")


# ---------------------------------------------------------------------------
# The honest IVF-PQ regime: clustered corpora + realistic centroid counts.
#
# Every recall row above runs k ~= |labels| (~10) centroids — fine for
# pinning mechanics, but production IVFADC runs k_centroids ~ sqrt(n)
# (~1,400 at 2M vectors) over CLUSTER-STRUCTURED data, the regime where
# the nprobe/k pruning fraction actually bites (Jégou et al. 2011 §V
# evaluate exactly this shape).  This section makes that regime
# measurable: a seeded distributed generator for planted-cluster
# corpora, a BLAS assignment path for large k (the HOF argmax is
# per-element and priced for k ~ 10), an exact brute-force truth that
# scales to millions of vectors, and a registered query that runs the
# whole loop (generate -> k~sqrt(n) build -> probe -> recall) at the
# driver's scale.  The d3-scale rows live in SCALE_REHEARSAL_RECALL.json
# ("d3_clustered"; SCALE.md, "Round-13: IVF-PQ in its honest regime").
# ---------------------------------------------------------------------------

_CLUSTER_SIGMA = 0.15   #: noise scale: E[cos(member, center)] ~ 0.64 at dim 64
_CLUSTER_SEED = 0xC105


def generate_clustered_embeddings(
    spark: SparkSession,
    out_dir: str,
    n: int,
    n_clusters: int,
    dim: int = 64,
    sigma: float = _CLUSTER_SIGMA,
    seed: int = _CLUSTER_SEED,
    cov_rank: int | None = None,
    sigma_floor: float = 0.01,
) -> int:
    """Write ``{out_dir}/embeddings.parquet``: ``n`` vectors in
    ``n_clusters`` planted Gaussian clusters (vector i = unit
    center(i % n_clusters) + sigma·noise_i), ``label`` = true cluster
    id — so the label-mean seeding of fit_ivf_centroids starts from
    ~true centers and k_centroids == n_clusters by construction.

    ``cov_rank`` switches the noise from isotropic to ANISOTROPIC
    low-rank: each cluster gets its own seeded orthonormal basis B_c
    (dim × cov_rank) and vector i = center + B_c·z_i with z ~
    N(0, sigma²·I_r), plus a small isotropic floor (sigma_floor) so no
    direction is exactly degenerate.  This is the geometry real
    embedding residuals show (correlated, concentrated in a few
    directions per region — the regime classical IVFADC papers report
    residual-encoding wins in, Jégou et al. TPAMI 2011 §V) and the
    fourth regime of the residual-encoding evidence table: the three
    r13 regimes were all isotropic Gaussians, where a per-dim-spread
    argument predicted (and measurement confirmed) flat ≈ residual.

    Deterministic under ANY partitioning: every center, basis, and
    noise vector is derived from a per-id or per-cluster seeded
    generator, not from a partition-level stream — the same
    (n, n_clusters, seed, cov_rank) always yields the same corpus,
    which is what lets recall floors be pinned in pytest.  Generation
    is distributed (mapInPandas over spark.range); nothing corpus-sized
    touches the driver."""
    import pandas as pd

    par = spark.sparkContext.defaultParallelism
    base = spark.range(0, n, 1, par)

    def gen(batches):
        import numpy as np

        centers: dict[int, object] = {}
        bases: dict[int, object] = {}

        def center(c: int):
            if c not in centers:
                g = np.random.default_rng((seed << 20) ^ c).standard_normal(dim)
                centers[c] = g / np.linalg.norm(g)
            return centers[c]

        def basis(c: int):
            # per-cluster orthonormal residual subspace (seeded QR)
            if c not in bases:
                g = np.random.default_rng((seed << 24) ^ c).standard_normal(
                    (dim, cov_rank)
                )
                q, _ = np.linalg.qr(g)
                bases[c] = q
            return bases[c]

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            embs = []
            labels = np.empty(len(ids), dtype="int32")
            for j, i in enumerate(ids):
                c = int(i) % n_clusters
                rng = np.random.default_rng((seed << 1) ^ (int(i) * 0x9E3779B1))
                if cov_rank is None:
                    v = center(c) + sigma * rng.standard_normal(dim)
                else:
                    z = rng.standard_normal(cov_rank)
                    v = (
                        center(c)
                        + sigma * (basis(c) @ z)
                        + sigma_floor * rng.standard_normal(dim)
                    )
                embs.append(v.astype(np.float32))
                labels[j] = c
            yield pd.DataFrame(
                {
                    "vec_id": ids.astype("int64"),
                    "embedding": embs,
                    "label": labels,
                }
            )

    df = base.mapInPandas(gen, "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")
    return n_clusters


_NP_ASSIGN_MIN_K = 64


def _nearest_centroid_np(df: DataFrame, cent_rows: list) -> DataFrame:
    """BLAS twin of the HOF argmax in _nearest_centroid, for large k:
    the centroid matrix ships once per task via the closure (k×dim
    float64 — sub-MB even at k ~ 2,000) and each Arrow batch scores
    against it with one matmul.  The HOF path evaluates k structs
    per ROW per element — fine at k ~ 10, two orders of magnitude of
    interpreted overhead at k ~ 1,400, where one BLAS call per batch
    is the shape a production assignment actually runs.  Tie semantics
    match (argmax first-occurrence over cent_id-sorted rows == the
    HOF's ties-to-lowest-id); pinned equal to the HOF on a fixed
    corpus in tests/test_scale_patterns.py."""
    import numpy as np

    cent_rows = sorted(cent_rows, key=lambda r: int(r.cent_id))
    cent_ids = [int(r.cent_id) for r in cent_rows]
    cmat = np.asarray([list(r.centroid) for r in cent_rows], dtype=np.float64)
    norms = np.linalg.norm(cmat, axis=1, keepdims=True)
    cmat = cmat / np.where(norms == 0, 1.0, norms)

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields) + [StructField("cent_id", LongType())]
    )

    def run(batches):
        import numpy as np
        import pandas as pd

        ids_np = np.asarray(cent_ids, dtype=np.int64)
        for pdf in batches:
            out = pdf.copy()
            if pdf.empty:
                out["cent_id"] = np.array([], dtype=np.int64)
                yield out
                continue
            x = np.asarray(list(pdf["embedding"]), dtype=np.float64)
            xn = np.linalg.norm(x, axis=1, keepdims=True)
            x = x / np.where(xn == 0, 1.0, xn)
            out["cent_id"] = ids_np[np.argmax(x @ cmat.T, axis=1)]
            yield out

    return df.mapInPandas(run, out_schema)


def nearest_centroid(
    df: DataFrame, cent: DataFrame, rows: list | None = None
) -> DataFrame:
    """Assignment dispatcher: the inline HOF argmax below
    _NP_ASSIGN_MIN_K centroids (shuffle-free, whole-stage), the BLAS
    mapInPandas path at realistic k (the matmul wins once per-row HOF
    interpretation costs more than one Arrow hop).  Both are
    deterministic with identical tie semantics, so which side of the
    threshold a corpus lands on never changes an assignment.

    ``rows`` (r18): callers that already hold ``cent.collect()`` (the
    append path derives k, the residual map, and this dispatch from the
    same rows) pass it in to skip the duplicate collect — values are
    the same rows either way."""
    if rows is None:
        rows = cent.collect()  # bounded: k×dim, both paths need them
    if len(rows) >= _NP_ASSIGN_MIN_K:
        return _nearest_centroid_np(df, rows)
    return _nearest_centroid(df, cent)


def exact_topk_np(
    corpus: DataFrame, query_rows: list, top_k: int = _TOP_K
) -> DataFrame:
    """Exact brute-force cosine top-k that scales to millions of
    vectors: per-partition vectorized scoring (one matmul per Arrow
    batch, queries broadcast via the closure) keeps each partition's
    top-k per query, a global window cuts the final k — the same
    partial-topk + global-cut shape as pq_shortlist but over RAW
    vectors, so it is the TRUTH side for recall at scales where the
    SQL cross-join baseline (similarity_topk's oracle) is impractical.
    Emits (q_id, c_id, rnk) with similarity_topk's tie order
    (sim desc, c_id asc)."""
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    q_list = [(int(q), list(v)) for q, v in query_rows]

    def run(batches):
        import numpy as np

        qm = np.asarray([v for _, v in q_list], dtype=np.float64)
        qn = np.linalg.norm(qm, axis=1, keepdims=True)
        qm = qm / np.where(qn == 0, 1.0, qn)
        q_ids = [q for q, _ in q_list]
        best: list[list] = [[] for _ in q_ids]
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.asarray(list(pdf["embedding"]), dtype=np.float64)
            xn = np.linalg.norm(x, axis=1, keepdims=True)
            x = x / np.where(xn == 0, 1.0, xn)
            sims = x @ qm.T  # (rows, q)
            ids = pdf["vec_id"].to_numpy()
            for qi in range(len(q_ids)):
                s = sims[:, qi]
                order = np.lexsort((ids, -s))[:top_k]
                best[qi].append((ids[order], s[order]))
        out_q, out_c, out_s = [], [], []
        for qi, parts in enumerate(best):
            if not parts:
                continue
            ids = np.concatenate([p[0] for p in parts])
            s = np.concatenate([p[1] for p in parts])
            order = np.lexsort((ids, -s))[:top_k]
            out_q.extend([q_ids[qi]] * len(order))
            out_c.extend(ids[order].tolist())
            out_s.extend(s[order].tolist())
        yield pd.DataFrame({"q_id": out_q, "c_id": out_c, "sim": out_s})

    scored = corpus.select("vec_id", "embedding").mapInPandas(
        run,
        StructType(
            [
                StructField("q_id", LongType()),
                StructField("c_id", LongType()),
                StructField("sim", DoubleType()),
            ]
        ),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "c_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select("q_id", "c_id", F.col("rn").cast("long").alias("rnk"))
    )


@query("similarity_ivfpq_clustered_recall", oracle=None)
def similarity_ivfpq_clustered_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF-PQ recall measured in its HONEST regime: a planted-cluster
    corpus (the data shape IVF assumes) with k_centroids = floor(sqrt(n))
    (the production fan-out rule), built through the REAL materialized
    index (partitioned codes + literal PartitionFilters probe) and
    scored per query against the exact numpy brute force.  The recall
    matrix above prices every tier on the driver's structureless corpus
    at k ~ 10; this row prices the composition where the nprobe/k
    pruning fraction is a real number (nprobe=3 of k=22 at sf0.01,
    3 of ~1,414 at d3 — see SCALE_REHEARSAL_RECALL.json
    "d3_clustered").  Approximate input -> rows-only; the recall floor
    is pinned in pytest on the same seeded generator.

    Scale shape: generation and assignment are embarrassingly parallel
    (one matmul per Arrow batch at realistic k via nearest_centroid's
    BLAS path); the probe reads nprobe/k of the code relation through
    partition pruning; truth is the partial-topk brute force whose
    shuffle is |q|·k rows per partition, never the corpus."""
    import math as _math
    import shutil
    import tempfile

    n = table(spark, sf_dir, "embeddings").count()
    k = max(_N_QUERIES + 2, _math.isqrt(n))
    root = tempfile.mkdtemp(prefix="ivfpq_clustered_")
    try:
        generate_clustered_embeddings(spark, root, n, k)
        idx = f"{root}/idx"
        build_ivfpq_index(spark, root, idx, store_vectors=False)
        emb = table(spark, root, "embeddings")
        corpus = emb.filter(F.col("vec_id") >= _N_QUERIES).select(
            "vec_id", "embedding"
        )
        qdf = _query_frame(emb)
        q_rows = [(r.q_id, list(r.qe)) for r in qdf.collect()]
        truth = exact_topk_np(corpus, q_rows, _TOP_K).select("q_id", "c_id")
        got = query_ivfpq_index(spark, idx, qdf, vectors=corpus).select(
            "q_id", "c_id"
        )
        out = (
            qdf.select("q_id")
            .join(_hit_counts(got, truth), "q_id", "left")
            .select(
                "q_id",
                F.lit(k).cast("long").alias("k_centroids"),
                *_recall_columns(),
            )
            .orderBy("q_id")
            .localCheckpoint()  # sever lineage from the temp corpus
        )
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query("similarity_ivfpq_lowrank_residual_gain", oracle=None)
def similarity_ivfpq_lowrank_residual_gain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Residual (true-IVFADC) vs flat PQ on an ANISOTROPIC corpus — the
    regime classical IVFADC papers report wins in, and the fourth row
    of the residual-encoding evidence table (SCALE.md r14): per-cluster
    residuals planted in seeded low-rank subspaces
    (generate_clustered_embeddings cov_rank=8, sigma=0.3 — residual
    norm ~0.63 of vector norm), both modes built through the REAL
    materialized index and queried at the deliberately STARVED
    shortlist (x=8), where per-slot ADC resolution is what separates
    them.  At d3l (2M vectors, k=1,414) this measures flat 0.80 /
    residual 0.90 recall@5; at the driver's sf the gap narrows (both
    near-perfect — the regime bites at realistic fan-out), so the row
    reports BOTH modes per query and the floor pinned in pytest is
    range+shape, with the direction claim owned by the campaign row.
    Approximate by construction -> rows-only.

    Scale shape: identical to similarity_ivfpq_clustered_recall —
    distributed seeded generation, BLAS assignment, pruned ADC probe,
    partial-topk numpy truth; the residual build adds per-probed-
    centroid LUTs (KBs per query), not data movement."""
    import math as _math

    n = table(spark, sf_dir, "embeddings").count()
    x8 = {"shortlist_x": _PQ_SHORTLIST_X}
    return _variant_recall(
        spark, "ivfpq_lowrank_", n, max(_N_QUERIES + 2, _math.isqrt(n)),
        {"sigma": 0.3, "cov_rank": 8},
        (
            ("flat", {"store_vectors": False}, x8),
            ("residual", {"store_vectors": False, "mode": "residual"}, x8),
        ),
        rerank=True,
    )


@query("similarity_ivfpq_opq_gain", oracle=None)
def similarity_ivfpq_opq_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ vs plain PQ inside the composed index (r15): both modes
    built through the REAL materialized path
    (build_ivfpq_index(mode="opq") — fit_opq's learned orthogonal
    rotation, Ge et al. CVPR 2013) on a seeded ANISOTROPIC corpus
    (cov_rank=8: correlated dims are exactly what an axis-aligned
    subspace split wastes codes on), queried at the deliberately
    STARVED x=8 shortlist where per-slot ADC resolution separates
    modes.  Measured at n=4k/k=63: OPQ recall@5 0.400 vs flat 0.275 —
    the direction is pytest-pinned with margin
    (test_opq_rotation_pays_on_anisotropic_corpus); this row reports
    both modes per query with exact numpy truth.  Approximate by
    construction -> rows-only.

    Scale shape: identical to similarity_ivfpq_lowrank_residual_gain —
    distributed seeded generation, BLAS assignment, pruned ADC probe,
    partial-topk numpy truth.  The rotation adds ONE d×d matmul per
    Arrow batch at encode and one per LUT at query (microseconds);
    codes stay m bytes — OPQ buys recall at zero scan-cost delta,
    which is why it's the standard next rung above plain PQ."""
    n = table(spark, sf_dir, "embeddings").count()
    # CROWDED clusters (~200 members each), not sqrt(n) fan-out: OPQ's
    # per-slot ADC resolution only binds when a probed cluster holds
    # many near-identical-ADC distractors competing for starved slots —
    # at sqrt(n) fan-out both modes saturate and the row measures
    # nothing (the lowrank residual row has the same property).
    # No re-rank (pure ADC ranking on store_vectors=False indexes) —
    # deliberately: the exact re-rank would erase the code-resolution
    # difference at fixture scale (the shortlist rarely misses here),
    # and code resolution is exactly what OPQ improves.  Measured:
    # flat 0.275 / OPQ 0.400 recall@5.
    x8 = {"shortlist_x": 8}
    return _variant_recall(
        spark, "ivfpq_opq_", n, max(_N_QUERIES + 2, n // 200),
        {"sigma": 0.3, "cov_rank": 8},
        (
            ("flat", {"store_vectors": False}, x8),
            ("opq", {"store_vectors": False, "mode": "opq"}, x8),
        ),
    )


@query("similarity_sq8_rerank_parity", oracle=None)
def similarity_sq8_rerank_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8-quantized refine tier under the driver gate (r16): two
    composed indexes built through the REAL materialized path on the
    same seeded clustered corpus — one storing the index-resident
    re-rank relation as raw floats (store_vectors=True), one
    scalar-quantized (store_vectors="sq8": per-vector affine uint8
    over the unit vector, sq8_encode) — and each query's top-k served
    through its OWN index-resident re-rank (vectors=None).  The row
    reports per-query hits against exact numpy truth for both; parity
    is the claim: quantization error per component is ≤ 1/255 of the
    component range, far below the similarity gaps the re-rank
    resolves (at this crowded tiny-fixture scale an occasional
    shortlist-boundary near-tie may flip a single hit; the d3-scale
    row measures recall 1.0 = float's at 2M vectors),
    while the vectors relation (a full corpus copy inside
    the index) and every probed re-rank read shrink ~3× on disk
    (8× raw; snappy already ~2×-compresses the double pages —
    fixture-pinned at ≥2.8×, d3-scale row in SCALE.md r16).
    Approximate by construction -> rows-only.

    Scale shape: identical to the other composed-index rows —
    distributed seeded generation, BLAS assignment, pruned ADC probe,
    manifest-backed zero-listing scans; the decode is a JVM transform
    lambda inside the re-rank stage (no Python round-trip on the
    serving path)."""
    n = table(spark, sf_dir, "embeddings").count()
    return _variant_recall(
        spark, "ivfpq_sq8_", n, max(_N_QUERIES + 2, n // 200), {},
        (
            ("float", {"store_vectors": True}, {}),
            ("sq8", {"store_vectors": "sq8"}, {}),
        ),
    )


def _variant_recall(
    spark: SparkSession,
    prefix: str,
    n: int,
    k: int,
    gen_kw: dict,
    variants: tuple,
    rerank: bool = False,
) -> DataFrame:
    """The A/B recall harness of the two-variant gain rows: a seeded
    clustered corpus of ``n`` vectors in ``k`` clusters
    (generate_clustered_embeddings with ``gen_kw``) in a temp dir, its
    exact numpy truth, ONE Lloyd fit and ONE assignment pass shared by
    both variant builds (deterministic derivations, so sharing is
    bit-identical to per-build fits), then per ``(name, build_kw,
    query_kw)`` variant a build_ivfpq_index + query_ivfpq_index and
    its per-query hits.  ``rerank`` re-ranks each shortlist exactly
    against the generated corpus.  Returns (q_id, k_centroids,
    n_hits_{a}, n_hits_{b}, recall_{a}_e2, recall_{b}_e2), materialized
    before the temp dir goes."""
    import shutil
    import tempfile

    from data_integration_system_spark.operators._common import parallelize_scan

    root = tempfile.mkdtemp(prefix=prefix)
    try:
        generate_clustered_embeddings(spark, root, n, k, **gen_kw)
        emb = table(spark, root, "embeddings")
        corpus = emb.filter(F.col("vec_id") >= _N_QUERIES).select(
            "vec_id", "embedding"
        )
        qdf = _query_frame(emb)
        q_rows = [(r.q_id, list(r.qe)) for r in qdf.collect()]
        truth = exact_topk_np(corpus, q_rows, _TOP_K).select("q_id", "c_id")
        truth = truth.localCheckpoint()
        cent = fit_ivf_centroids(spark, root, _LLOYD_ITERS)
        assigned = nearest_centroid(parallelize_scan(corpus), cent).localCheckpoint()
        out = qdf.select("q_id")
        for name, build_kw, query_kw in variants:
            idx = f"{root}/idx_{name}"
            build_ivfpq_index(
                spark, root, idx, centroids=cent, assigned=assigned, **build_kw
            )
            if rerank:
                query_kw = {**query_kw, "vectors": corpus}
            got = query_ivfpq_index(spark, idx, qdf, **query_kw)
            hits = _hit_counts(got.select("q_id", "c_id"), truth, f"n_hits_{name}")
            out = out.join(hits, "q_id", "left")
        cols = [_recall_columns(f"_{name}") for name, _, _ in variants]
        return (
            out.select(
                "q_id",
                F.lit(k).cast("long").alias("k_centroids"),
                *[c[0] for c in cols],
                *[c[1] for c in cols],
            )
            .orderBy("q_id")
            .localCheckpoint()  # sever lineage from the temp corpus
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query("similarity_ann_delete_visibility", oracle=None)
def similarity_ann_delete_visibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index DELETE lifecycle under the driver gate (r16): planted
    twins of every query are APPENDED to a built composed index (twin =
    the query vector itself under a fresh id -> exact re-rank puts it
    at rank 1), then DELETED (delete_from_ivfpq_index — tombstones,
    reference analog: direct row deletes in db/postgres_store.py), then
    RE-APPENDED (upsert semantics: the append drops its ids'
    tombstones).  One row per (phase, q_id) reports whether the twin is
    visible and at what rank — the exact visibility contract:
    rank 1 / absent-with-full-k-results / rank 1 again.  The deleted
    phase also proves a tombstone frees its top-k SLOT (k results
    still come back, none of them the twin).  Deterministic ids and
    ranks, but index semantics aren't SQL-expressible -> rows-only.

    Scale shape: a delete is one tiny tombstone append (no index
    rewrite); every query path anti-joins the broadcast tombstone set
    before the top-k cut; re-appends rewrite the KB-sized relation;
    the scheduled rebuild compacts deletes physically.  Bounded by
    deletes-per-rebuild-cycle, not corpus size."""
    import shutil
    import tempfile

    n = table(spark, sf_dir, "embeddings").count()
    k = max(_N_QUERIES + 2, n // 200)
    root = tempfile.mkdtemp(prefix="ivfpq_del_")
    try:
        generate_clustered_embeddings(spark, root, n, k)
        emb = table(spark, root, "embeddings")
        qdf = _query_frame(emb).localCheckpoint()
        idx = f"{root}/idx"
        build_ivfpq_index(spark, root, idx)
        twin_base = 900_000_000
        twins = qdf.select(
            (F.col("q_id") + twin_base).cast("long").alias("vec_id"),
            F.col("qe").alias("embedding"),
        )
        append_ivfpq_index(spark, idx, twins)
        twin_ids = [r.q_id + twin_base for r in qdf.select("q_id").collect()]

        def phase(name: str, ordinal: int) -> DataFrame:
            res = query_ivfpq_index(spark, idx, qdf)
            # materialize NOW: the next phase rewrites the tombstones
            # relation this plan reads (lazy evaluation would race the
            # overwrite and read deleted files)
            return res.groupBy("q_id").agg(
                F.lit(ordinal).cast("long").alias("phase_ord"),
                F.lit(name).alias("phase"),
                F.max(
                    (F.col("c_id") == F.col("q_id") + twin_base).cast("long")
                ).alias("twin_visible"),
                F.coalesce(
                    F.min(
                        F.when(
                            F.col("c_id") == F.col("q_id") + twin_base,
                            F.col("rnk"),
                        )
                    ),
                    F.lit(0),
                ).cast("long").alias("twin_rank"),
                F.count("*").cast("long").alias("n_results"),
            ).localCheckpoint()
        out1 = phase("appended", 1)
        delete_from_ivfpq_index(spark, idx, twin_ids)
        out2 = phase("deleted", 2)
        append_ivfpq_index(spark, idx, twins)  # un-delete (upsert)
        out3 = phase("restored", 3)
        return (
            out1.unionByName(out2)
            .unionByName(out3)
            .select(
                "phase_ord", "phase", "q_id",
                "twin_visible", "twin_rank", "n_results",
            )
            .orderBy("phase_ord", "q_id")
            .localCheckpoint()  # sever lineage from the temp index
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query("similarity_filtered_topk", oracle=None)
def similarity_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN under the driver gate (r16): top-k among only the
    vectors satisfying a metadata predicate (here vec_id parity — a
    cluster-uncorrelated half of the corpus), served through
    query_ivfpq_index(allowed=...)'s TRUE PRE-FILTER: the pruned codes
    scan is semi-joined with the allowed set BEFORE shortlisting, so
    every shortlist slot goes to an allowed candidate and
    recall-within-the-filter survives any selectivity (post-filtering
    an unfiltered shortlist starves exactly when the predicate is
    selective).  The row reports per-query hits against exact numpy
    truth computed over the FILTERED corpus, plus a disjointness proof
    column (no returned id may violate the predicate).  Approximate by
    construction -> rows-only.

    Scale shape: the semi-join touches only the nprobe/k-pruned codes
    slice (m bytes/vector), never the corpus; a small allowed set
    broadcasts under AQE.  Operating rule (fixture-measured): a
    SELECTIVE predicate thins per-cluster candidates, so scale nprobe
    with selectivity — at 1-in-16 selectivity, nprobe=3 bounds
    filtered recall at ~0.5 (filter-blind probes) while nprobe=10
    recovers ≥0.9; post-filtering an unfiltered top-k measured 0.0
    there.  A predicate CORRELATED with the cluster structure (whole
    clusters excluded) shifts the burden entirely to probe selection —
    filter-aware probing is the next refinement rung, not shipped."""
    import shutil
    import tempfile

    n = table(spark, sf_dir, "embeddings").count()
    k = max(_N_QUERIES + 2, n // 200)
    root = tempfile.mkdtemp(prefix="ivfpq_filt_")
    try:
        generate_clustered_embeddings(spark, root, n, k)
        emb = table(spark, root, "embeddings")
        corpus = emb.filter(F.col("vec_id") >= _N_QUERIES).select(
            "vec_id", "embedding"
        )
        allowed = corpus.filter(F.col("vec_id") % 2 == 0).select("vec_id")
        qdf = _query_frame(emb)
        q_rows = [(r.q_id, list(r.qe)) for r in qdf.collect()]
        truth = exact_topk_np(
            corpus.filter(F.col("vec_id") % 2 == 0), q_rows, _TOP_K
        ).select("q_id", "c_id").localCheckpoint()
        idx = f"{root}/idx"
        build_ivfpq_index(spark, root, idx)
        got = query_ivfpq_index(spark, idx, qdf, allowed=allowed).select(
            "q_id", "c_id"
        )
        violations = got.filter(F.col("c_id") % 2 != 0).groupBy("q_id").agg(
            F.count("*").cast("long").alias("n_violations")
        )
        out = (
            qdf.select("q_id")
            .join(_hit_counts(got, truth), "q_id", "left")
            .join(violations, "q_id", "left")
            .select(
                "q_id",
                F.lit(k).cast("long").alias("k_centroids"),
                *_recall_columns(),
                F.coalesce("n_violations", F.lit(0))
                .cast("long")
                .alias("n_predicate_violations"),
            )
            .orderBy("q_id")
            .localCheckpoint()  # sever lineage from the temp corpus
        )
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


class IvfPqIndexHandle:
    """An OPENED composed index — the one serving path: a one-shot
    `query_ivfpq_index` is open + one `.query(...)`, and a serving
    process opens once and queries many times (SCALE.md r13: a cold
    read of a partitioned codes relation once paid a distributed
    file-LISTING job over every partition dir, 1,414 tasks ≈ 4 s at
    d3c, while the ADC scan of the pruned files was milliseconds).  The
    open reads the committed manifest, the frozen state (centroids,
    meta, codebooks, rotation — through the manifest's file lists when
    it has them) and the tombstone set; every `.query(...)` is probe
    selection + pruning + ADC + re-rank only — the codes scan is built
    per query from the manifest's explicit probed-file list, so no
    listing job exists to cache.  Pre-manifest indexes keep the r13
    shape: one held full-codes read whose InMemoryFileIndex caches the
    listing (the open pays it once).

    Staleness contract (the standard serving cadence): rows appended
    to the index AFTER open are invisible through the open-time
    manifest — `reopen()` (or a fresh open) picks them up; scheduled
    rebuilds swap in a new handle.  At 100 TB the manifest's role is
    played by a metastore/table format; in-process, the handle holding
    it IS the cache.

    Thread safety: open once, share freely — `.query(...)` only READS
    handle state (manifest dict, centroid rows, codebooks), and the
    one session-global conf window its reads pass
    through (the manifest reader's discovery-threshold raise) is
    serialized under index_manifest._DISCOVERY_CONF_LOCK.  The measured
    16-thread ladder (SCALE.md r14: 0.83/2.37/2.75 batches/s at 1/4/16
    threads) is the supported shape; `reopen()` is NOT safe concurrent
    with queries — swap in a fresh handle instead (open-new-then-replace)."""

    def __init__(self, spark: SparkSession, index_path: str):
        self.spark = spark
        self.index_path = index_path
        self._open()

    def _open(self) -> None:
        from data_integration_system_spark.operators.tombstones import (
            load_tombstones,
        )
        from data_integration_system_spark.pipeline import index_manifest as im

        spark, index_path = self.spark, self.index_path
        self.manifest = im.read_manifest(spark, index_path)
        (
            _, self.cent_rows, self.books, self.residual_centroids,
            self.rotation,
        ) = _load_frozen_state(spark, index_path, self.manifest)
        if self.manifest is not None and "codes" in self.manifest.get(
            "relations", {}
        ):
            self.codes = None
        else:
            self.codes = spark.read.parquet(f"{index_path}/codes")
        # open-time tombstone snapshot (same staleness contract as the
        # manifest: deletes landed after open become visible on reopen);
        # small sets snapshot as a plain id list — the InSet fast path
        self.tombstones = load_tombstones(spark, index_path, "vec_id")

    def reopen(self) -> "IvfPqIndexHandle":
        """Refresh the cached listing (after appends/rebuilds)."""
        self._open()
        return self

    def query(
        self,
        queries: DataFrame,
        vectors: DataFrame | None = None,
        top_k: int = _TOP_K,
        nprobe: int = _IVFPQ_NPROBE,
        shortlist_x: int | None = None,
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """Serve top-k for ``queries`` (q_id, qe): each query's
        ``nprobe`` nearest centroids prune the codes scan; the
        per-query probe mask inside pq_shortlist keeps each query's
        candidates to its OWN probes; the shortlist re-ranks exactly
        against ``vectors`` when supplied — and when it is None,
        against the INDEX-RESIDENT vectors relation (r14+ builds
        co-locate the raw vectors with their codes), which reads only
        the probed partitions.  Pre-vectors indexes with
        ``vectors=None`` keep pure-ADC ranking.  ``allowed`` is a true
        pre-filter: only its vec_ids compete for shortlist slots.

        With a committed manifest the shortlist defaults to the
        candidate-aware size (candidate_aware_shortlist) from the
        manifest's probed row counts; pre-manifest indexes keep the
        literal PartitionFilters and the fixed x-floor shortlist.
        Tombstoned ids are masked before the top-k cut."""
        q_rows = [(r[0], list(r[1])) for r in queries.collect()]
        sets = _probe_sets(q_rows, self.cent_rows, nprobe)
        probed = sorted({c for s in sets.values() for c in s})
        if self.codes is None:
            codes = _index_relation(
                self.spark, self.index_path, "codes", self.manifest, probed
            )
        else:
            codes = self.codes.filter(F.col("cent_id").isin(probed))
        if allowed is not None:
            codes = codes.join(
                allowed.select("vec_id").distinct(), "vec_id", "left_semi"
            )
        if vectors is None:
            vectors = _index_resident_vectors(
                self.spark, self.index_path, self.manifest, probed
            )
        tomb = self.tombstones
        short = pq_shortlist(
            codes,
            q_rows,
            self.books,
            candidate_aware_shortlist(
                top_k, _probed_candidates(self.manifest, sets), shortlist_x
            ),
            probe_sets=sets,
            residual_centroids=self.residual_centroids,
            rotation=self.rotation,
            exclude_ids=tomb if isinstance(tomb, list) else None,
        )
        if tomb is not None and not isinstance(tomb, list):
            from data_integration_system_spark.operators.tombstones import (
                exclude_tombstoned,
            )

            short = exclude_tombstoned(short, tomb, "vec_id")  # huge sets
        return _finish_topk(short, queries, vectors, top_k)


def open_ivfpq_index(spark: SparkSession, index_path: str) -> IvfPqIndexHandle:
    """Open a built IVF-PQ index for repeated serving (see
    IvfPqIndexHandle).  ``query_ivfpq_index`` is this open followed by
    one ``.query(...)``, so the two forms cannot diverge."""
    return IvfPqIndexHandle(spark, index_path)

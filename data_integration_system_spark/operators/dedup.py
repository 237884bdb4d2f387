"""Deduplication family (SURVEY §2B Q7/Q12/Q14/Q28 + north-star
SimHash / n-gram-Jaccard / embedding near-dup).

The reference's signature move is hash-keyed dedup/upsert
(D1-D8, SURVEY §2A): in-memory visited sets, content-hash skip
(filesystem_store.py:112-114), changed-rows upsert
(db/postgres_store.py:126-184), global first-writer-wins
(db/postgres_store.py:88).  Here each becomes a declarative pattern that
scales: window keep-one, outer-join classification, groupBy-hash dedup.

Near-dup additions are pure JVM higher-order expressions (shingle →
xxhash64 → min) + a bucket self-join — the MinHash/LSH shape that runs on
100 TB corpora: the only shuffle is on (band_id, band_hash), candidate
verification touches candidate pairs only, never the n² pair space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_system_spark.catalog import table
from data_integration_system_spark.functions.hashing import content_hash, normalize_ws
from data_integration_system_spark.operators._common import (
    drop_hot_keys,
    local_rows_df,
)
from data_integration_system_spark.pipeline import bucket_index
from data_integration_system_spark.registry import query


@query(
    "dedup_exact",
    oracle=r"""
    WITH h AS (
      SELECT doc_id,
             sha256(substr(trim(regexp_replace(text, '\s+', ' ', 'g')), 1, 24)) AS content_key
      FROM documents
    ), r AS (
      SELECT doc_id, content_key,
             row_number() OVER (PARTITION BY content_key ORDER BY doc_id) AS rn
      FROM h
    )
    SELECT doc_id, content_key FROM r WHERE rn = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 — D6 first-writer-wins content dedup (ON CONFLICT (content_hash)
    DO NOTHING, db/postgres_store.py:88), made deterministic as
    min-doc_id-per-hash. Key is the hash of a normalized prefix so
    collisions actually occur in the synthetic corpus.

    At 100 TB: a single shuffle on the hash key; since the key is already
    uniform, no salting needed — this is the cheapest possible dedup.
    """
    docs = table(spark, sf_dir, "documents")
    key = F.sha2(F.substring(normalize_ws(F.col("text")), 1, 24), 256)
    w = Window.partitionBy("content_key").orderBy("doc_id")
    return (
        docs.select("doc_id", key.alias("content_key"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "dedup_exact_full",
    oracle=r"""
    WITH h AS (
      SELECT doc_id,
             sha256(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS content_key
      FROM documents
    ), r AS (
      SELECT doc_id, content_key,
             row_number() OVER (PARTITION BY content_key ORDER BY doc_id) AS rn
      FROM h
    )
    SELECT doc_id, content_key FROM r WHERE rn = 1
    """,
)
def dedup_exact_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 fidelity variant: first-writer-wins dedup keyed on the COMPLETE
    P3 content hash (whitespace-normalized sha256, utils.py:15-20) — the
    reference's exact `ON CONFLICT (content_hash) DO NOTHING` semantics
    (db/postgres_store.py:88).  dedup_exact's prefix key stays as the
    synthetic-corpus collision demo; this one is byte-for-byte D6.

    Same scale shape: one shuffle on a uniform hash key."""
    docs = table(spark, sf_dir, "documents")
    key = F.sha2(normalize_ws(F.col("text")), 256)
    w = Window.partitionBy("content_key").orderBy("doc_id")
    return (
        docs.select("doc_id", key.alias("content_key"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "dedup_keep_latest",
    oracle="""
    SELECT user_id, event_id, ts, event_type FROM (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 — D4/T6 keep-newest-version upsert (filesystem_store.py:95-128:
    re-seen page with changed hash overwrites). Window keep-one with a
    total-order tie-break; one shuffle on the key. This exact pattern is
    the batch form of streaming dropDuplicates-within-watermark."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )


# Q14 derives a "current" store and an "incoming" batch from documents so
# the three-way upsert classification is exercised deterministically:
#   current  = docs with doc_id % 3 != 0            (what's in the store)
#   incoming = docs with doc_id % 2 == 0,           (the new batch)
#              text changed when doc_id % 4 == 0    (so some hashes differ)
_UPSERT_ORACLE = r"""
WITH current AS (
  SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 3 <> 0
), incoming AS (
  SELECT doc_id,
         sha256(CASE WHEN doc_id % 4 = 0 THEN text || ' v2' ELSE text END) AS h
  FROM documents WHERE doc_id % 2 = 0
)
SELECT i.doc_id,
       CASE WHEN c.doc_id IS NULL THEN 'INSERTED'
            WHEN i.h = c.h        THEN 'SKIPPED'
            ELSE 'UPSERTED' END AS status
FROM incoming i LEFT JOIN current c ON i.doc_id = c.doc_id
"""


@query("upsert_changed_rows", oracle=_UPSERT_ORACLE)
def upsert_changed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 — D5/S11 hash-compare upsert classification, preserving the
    reference's three-way outcome (db/postgres_store.py:140-184):
    SKIPPED (same hash) / UPSERTED (changed hash) / INSERTED (new key).

    Join new-batch against current-store on the key, classify by hash
    equality. At scale this is the changed-rows-only pattern: only
    non-SKIPPED rows proceed to the writer, so an incremental re-crawl
    that changed 0.1% of pages writes 0.1% of rows (T4/T5 semantics).
    """
    docs = table(spark, sf_dir, "documents")
    current = docs.filter(F.col("doc_id") % 3 != 0).select(
        F.col("doc_id").alias("c_doc_id"), F.sha2(F.col("text"), 256).alias("c_h")
    )
    incoming = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.sha2(
            F.when(F.col("doc_id") % 4 == 0, F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text")),
            256,
        ).alias("h"),
    )
    joined = incoming.join(current, incoming.doc_id == current.c_doc_id, "left")
    status = (
        F.when(F.col("c_doc_id").isNull(), "INSERTED")
        .when(F.col("h") == F.col("c_h"), "SKIPPED")
        .otherwise("UPSERTED")
    )
    return joined.select("doc_id", status.alias("status"))


# ---------------------------------------------------------------------------
# Near-duplicate detection (north-star tier; rows-only checks)
# ---------------------------------------------------------------------------

_N_HASHES = 32          # minhash signature length
_BANDS = 8              # LSH bands (r = 4 rows/band) -> s-curve @ ~0.5 jaccard
_ROWS_PER_BAND = _N_HASHES // _BANDS


def _tokens(col):
    return F.split(F.trim(col), r"\s+")


def _shingles(tok_col, k: int = 3):
    """k-word shingles as distinct strings, via pure array expressions."""
    n = F.greatest(F.size(tok_col) - (k - 1), F.lit(0))
    idx = F.sequence(F.lit(0), n - 1)
    return F.when(
        F.size(tok_col) >= k,
        F.array_distinct(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", *[F.element_at(tok_col, (i + j + 1).cast("int")) for j in range(k)]
                ),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", tok_col)))


def _minhash_sig(base_hash_col):
    """32 minhash values from per-shingle 64-bit base hashes: sig[i] =
    min over shingles of xxhash64(base_hash, i).

    The expensive part — hashing the shingle STRING — happens once per
    shingle (in the caller's projection); the 32 signature lanes remix
    the resulting long with integer-only xxhash64, so the whole signature
    is one string pass + 32 cheap integer passes.  (The naive form,
    hashing `concat(seed, shingle)` per lane, re-evaluates the shingle
    expression per lane: 32× the work — measured 500 s -> 4 s at sf0.1.)
    """
    seeds = F.sequence(F.lit(0), F.lit(_N_HASHES - 1))
    return F.transform(
        seeds,
        lambda i: F.array_min(
            F.transform(base_hash_col, lambda h: F.xxhash64(h, i))
        ),
    )


def shingle_sets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    spread: bool = False,
) -> DataFrame:
    """(doc_id, shingles: array<long>) — distinct k-word shingles as
    64-bit xxhash64 values, hashed in the SAME pass that forms them.

    Hashes, not strings: every consumer (minhash lanes, jaccard
    intersects, inverted-index joins) only needs equality, and longs are
    ~4× cheaper to materialize, shuffle, and set-intersect than ~20-char
    strings (measured: string-shingle ckpt 0.85 s + hash pass 0.16 s →
    0.31 s fused, sf0.1).  Collisions perturb results with p ≈ n²/2⁶⁴ —
    negligible.

    Tokens are materialized BEFORE shingling: `_shingles` references its
    token argument ~3× per shingle index, and Catalyst inlines column
    aliases (CollapseProject), so feeding it the raw `split(text)`
    expression re-splits the document per reference — O(n²) per doc.
    The localCheckpoint is the evaluation barrier that keeps each stage
    once-per-row (measured 7 s -> <1 s at sf0.1 for this stage alone).

    ``spread=True`` repartitions the input across cores first
    (parallelize_scan) — worth it only when the downstream consumer is
    heavy per-row (the index builds opt in); with the barriers in place
    the derivation itself is light, and for ordinary callers 32-way
    task scheduling costs MORE than it saves (measured: contamination
    0.65 s -> 1.2 s, index probes 1.9 s -> 3.8 s with an unconditional
    spread)."""
    from data_integration_system_spark.operators._common import parallelize_scan

    if spread:
        docs = parallelize_scan(docs)
    toks = docs.select(
        F.col(id_col).alias("doc_id"), _tokens(F.col(text_col)).alias("toks")
    ).localCheckpoint()
    return toks.select(
        "doc_id",
        F.transform(
            F.array_distinct(_shingles(F.col("toks"))), lambda s: F.xxhash64(s)
        ).alias("shingles"),
    ).localCheckpoint()


def minhash_bands(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles_df: DataFrame | None = None,
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """doc -> (band_id, band_hash) rows; the LSH bucketing relation.
    Pass a precomputed `shingle_sets` result to share it with the
    verification stage, or a precomputed (doc_id, sig) signature
    relation (``sig_df``) when the caller already derived the 32 lanes —
    the signature is the expensive stage and must run once (the
    duplicated-derivation trap _minhash_sig's docstring warns about).

    Each stage (hashed shingles -> signature -> bands) is materialized
    with localCheckpoint: Catalyst's CollapseProject would otherwise
    inline the alias into every downstream reference — the shingle
    expression duplicated into 32 signature lanes × 8 band expressions
    ≈ 256 re-evaluations per row (measured: 185 s -> 2 s at sf0.1).  The
    checkpointed intermediates are tiny (id + one small array per doc).
    At 100 TB signatures are computed once at write time and stored —
    this is the batch analog."""
    if sig_df is None:
        if shingles_df is None:
            shingles_df = shingle_sets(docs, text_col, id_col)
        # shingle_sets already emits 64-bit hashes — the signature lanes
        # remix those longs directly
        sig_df = shingles_df.select(
            "doc_id", _minhash_sig(F.col("shingles")).alias("sig")
        ).localCheckpoint()
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(_BANDS - 1)),
        lambda b: F.struct(
            b.alias("band_id"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.element_at(F.col("sig"), (b * _ROWS_PER_BAND + j + 1).cast("int")).cast("string")
                        for j in range(_ROWS_PER_BAND)
                    ],
                )
            ).alias("band_hash"),
        ),
    )
    return (
        sig_df.select("doc_id", F.explode(bands).alias("b"))
        .select("doc_id", F.col("b.band_id").alias("band_id"), F.col("b.band_hash").alias("band_hash"))
    )


#: LSH bucket-size cap: buckets larger than this are dropped before the
#: self-join.  A bucket of n docs contributes n(n-1)/2 candidate pairs —
#: one boilerplate bucket of 10⁵ docs is 5×10⁹ pairs, a job-killing skew.
#: Oversized buckets ARE boilerplate (identical band signature across
#: many docs); their members are near-identical and belong to exact /
#: keep-latest dedup, not the pairwise near-dup path.
_MAX_BUCKET = 100


def lsh_candidate_pairs(bands: DataFrame, max_bucket: int | None = _MAX_BUCKET) -> DataFrame:
    """(doc_id, band_id, band_hash) -> distinct candidate (doc_a, doc_b)
    pairs via the banded self-join, with the hot-bucket defense: bucket
    counts are one co-keyed aggregation, the oversized set is tiny by
    construction, so it broadcasts into a map-side anti-join — the bands
    relation is never reshuffled."""
    if max_bucket is not None:
        bands = drop_hot_keys(bands, ["band_id", "band_hash"], max_bucket)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Materialized MinHash/LSH index: signatures computed ONCE at write time
# (the 100 TB contract the docstrings above describe), probed with
# partition pruning — the near-dup sibling of similarity.build_ivf_index.
# ---------------------------------------------------------------------------

#: bands-table partition count: band_hash pmod'ed into this many
#: directories.  A query doc touches <= _BANDS distinct buckets, so a
#: lookup scans <= _BANDS/_INDEX_BUCKETS of the index.
_INDEX_BUCKETS = 256


def _batch_bands(docs, text_col, id_col, shingles_df, bands_df):
    """(shingle sets, band rows) of a document batch — the caller's
    shared copies when given (the derivations are deterministic)."""
    if shingles_df is None:
        shingles_df = shingle_sets(docs, text_col, id_col)
    if bands_df is None:
        bands_df = minhash_bands(docs, text_col, id_col, shingles_df=shingles_df)
    return shingles_df, bands_df


def build_minhash_index(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    n_buckets: int = _INDEX_BUCKETS,
    max_bucket: int | None = _MAX_BUCKET,
) -> None:
    """Materialize the LSH bands relation as the bucketed table
    ``{index}/bands`` keyed on band_hash (pipeline/bucket_index owns the
    layout, meta and tombstone lifecycle), rows ``(band_id, band_hash,
    doc_id, shingles)``.

    Shingle sets ride along DENORMALIZED (one copy per band row): a
    lookup then needs exactly one pruned scan — candidates arrive with
    the corpus shingles attached, no second join against a full shingle
    table.  Hot (boilerplate) buckets are dropped at WRITE time, same cap
    as lsh_candidate_pairs, so the stored index can never hand back a
    quadratic bucket."""
    docs = table(spark, sf_dir, "documents")
    # spread=True: the 32-lane signature pass over the full corpus is
    # the build's CPU bill — worth the one small-input repartition
    sh = shingle_sets(docs, spread=True)
    bands = minhash_bands(docs, shingles_df=sh)
    if max_bucket is not None:
        bands = drop_hot_keys(bands, ["band_id", "band_hash"], max_bucket)
    bucket_index.build(
        spark, index_path, "bands", bands.join(sh, "doc_id"), "band_hash",
        n_buckets,
    )


def append_minhash_index(
    spark: SparkSession,
    index_path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = _INDEX_BUCKETS,
    shingles_df: DataFrame | None = None,
    bands_df: DataFrame | None = None,
) -> None:
    """Incrementally index new documents: compute their band rows with
    the SAME pipeline as build_minhash_index and append them into the
    bucket partitions.  Creates the index (meta included) when none
    exists, so a stream can start cold.

    ``shingles_df``/``bands_df`` let a caller that ALSO probes the same
    batch (near_dup_sink: append then query per trigger) derive the
    shingle sets / band rows once and share them — the derivations are
    deterministic, so sharing changes no output, it only removes the
    duplicate shingle+signature passes (measured ~2-3 s per sf0.1
    trigger, r17).

    The hot-bucket cap is deliberately NOT applied here: an append sees
    only its own batch, so a globally-hot bucket is a REBUILD concern —
    run build_minhash_index periodically (the compaction analog) to
    re-apply the cap over the full corpus."""
    sh, bands = _batch_bands(new_docs, text_col, id_col, shingles_df, bands_df)
    bucket_index.append(
        spark, index_path, "bands", bands.join(sh, "doc_id"), "band_hash",
        n_buckets, new_docs.select(F.col(id_col).alias("doc_id")),
    )


#: Logical DELETE (pipeline/bucket_index.delete): tombstoned docs stop
#: appearing as near-dup MATCHES on the next query — the takedown path
#: for the 24/7 near_dup_sink surface.
delete_from_minhash_index = bucket_index.delete


def query_minhash_index(
    spark: SparkSession,
    index_path: str,
    query_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.2,
    shingles_df: DataFrame | None = None,
    bands_df: DataFrame | None = None,
) -> DataFrame:
    """Near-dup lookup against a built index: (q_id, c_id, jaccard) for
    every indexed document sharing an LSH bucket with a query document,
    verified by exact Jaccard.

    The bucket probe (pipeline/bucket_index.probe) reads <= 8/n_buckets
    of the index — what makes this an index rather than a filtered full
    scan — and drops tombstoned candidates before the verify.  Querying
    the corpus against itself reproduces dedup_minhash_near exactly
    (pinned in tests).

    ``shingles_df``/``bands_df``: share the deterministic derivations
    with an append over the SAME batch (see append_minhash_index)."""
    qsh, qbands = _batch_bands(
        query_docs, text_col, id_col, shingles_df, bands_df
    )
    cand = bucket_index.probe(
        spark, index_path, "bands", qbands, "band_hash", on=("band_id",),
        carry=(F.col("shingles").alias("c_sh"),),
    ).dropDuplicates(["q_id", "c_id"])  # multi-band collisions verify once
    qs = qsh.select(F.col("doc_id").alias("q_id"), F.col("shingles").alias("q_sh"))
    inter = F.size(F.array_intersect("q_sh", "c_sh")).cast("double")
    uni = (F.size("q_sh") + F.size("c_sh")).cast("double") - inter
    return (
        cand.join(qs, "q_id")
        .select("q_id", "c_id", F.round(inter / uni, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


@query("dedup_minhash_near", oracle=None)
def dedup_minhash_near(
    spark: SparkSession,
    sf_dir: str,
    top_k_neighbors: int | None = None,
) -> DataFrame:
    """Q28 — MinHash+LSH near-dup candidate pairs with exact-Jaccard
    verification. shingle → 32 minhashes → 8 bands → bucket self-join →
    verify Jaccard on the candidate pairs only.

    Scale: the n² pair space is never formed; the shuffle key is
    (band_id, band_hash) which is uniform by construction, and oversized
    buckets (boilerplate) are dropped before the self-join
    (lsh_candidate_pairs) so one hot key can't quadratically explode the
    candidate set. Approx by design -> rows-only.

    ``top_k_neighbors`` completes the r12 bounded-output contract
    across the near-dup family (embedding: dedup_embedding_near's
    capped mode; online: near_dup_sink's probe-side cap): keep pair
    (a, b) iff b is among a's k highest-jaccard neighbors OR vice
    versa — the kNN-graph edge set, so every matched doc retains its
    best neighbors while a low threshold on a redundant corpus emits
    O(n·k) instead of the full pair set.  Cap >= every doc's true
    degree reproduces the uncapped set exactly (pytest-pinned)."""
    docs = table(spark, sf_dir, "documents")
    # shingle sets computed ONCE, shared by bucketing and verification;
    # both relations feed both sides of a self-join, so each is already
    # materialized (shingle_sets/minhash_bands checkpoint internally).
    # spread=True: the 32-lane signature pass over the full corpus is
    # heavy enough to beat the task-scheduling cost (measured 1.8 s ->
    # 1.0 s for the derivation at sf0.1)
    sh = shingle_sets(docs, spread=True)
    bands = minhash_bands(docs, shingles_df=sh)
    pairs = lsh_candidate_pairs(bands)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    # |union| = na + nb - |inter| (the sets are distinct): one intersect
    # pass per pair instead of intersect + union-array materialization
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    uni = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    verified = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(inter / uni, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
    )
    if top_k_neighbors is not None:
        from pyspark.sql import Window

        # kNN-graph cut on the (small) VERIFIED pair set: direct each
        # pair both ways, rank per source, keep an edge if EITHER
        # endpoint ranks it in its top k, re-canonicalize
        directed = verified.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"), "jaccard"
        ).unionByName(
            verified.select(
                F.col("doc_b").alias("src"),
                F.col("doc_a").alias("dst"),
                "jaccard",
            )
        )
        rk = F.row_number().over(
            Window.partitionBy("src").orderBy(F.col("jaccard").desc(), "dst")
        )
        verified = (
            directed.withColumn("rk", rk)
            .filter(F.col("rk") <= top_k_neighbors)
            .select(
                F.least("src", "dst").alias("doc_a"),
                F.greatest("src", "dst").alias("doc_b"),
                "jaccard",
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
    return verified.orderBy("doc_a", "doc_b")


#: expected docs per simhash chunk bucket the adaptive geometry aims for
_SIMHASH_TARGET_BUCKET = 32
#: lane plateau: chunk width w = 64m/(3m+1) asymptotes at ~21 bits, so
#: lanes beyond 4 buy almost no bucket growth — document, don't chase
_SIMHASH_MAX_LANES = 4


def _simhash_geometry(n_docs: int, target: float = _SIMHASH_TARGET_BUCKET) -> tuple[int, int, int, int]:
    """Signature geometry for a corpus of ``n_docs``: returns
    ``(lanes m, chunks c, chunk width w, accept distance D)``.

    The signature is 64·m bits (m independent xxhash64 lanes); the
    accept distance D = 3·m scales WITH the length, so "near-dup"
    means the same bit-flip RATE at every corpus size; c = D+1 chunks
    of w = floor(64m / c) bits give the pigeonhole guarantee (distance
    <= D implies one shared chunk) over the covered c·w bits, which are
    also exactly the bits the verify step compares.  m is the smallest
    lane count whose chunk width reaches log2(n/target) — buckets hold
    ~target docs, keeping candidate pairs LINEAR in n.  m=1 reproduces
    the classic 64-bit / 4×16 layout bit-for-bit, and covers corpora to
    ~2M docs; w plateaus near 21 bits (the 64m/(3m+1) asymptote), i.e.
    ~2M buckets per lane — beyond ~70M docs the next lever is a larger
    distance-budget family, documented rather than silently scaled."""
    import math as _math

    need = 0.0 if n_docs <= 0 else _math.log2(max(n_docs / target, 1.0))
    for m in range(1, _SIMHASH_MAX_LANES + 1):
        c = 3 * m + 1
        w = (64 * m) // c
        if w >= need or m == _SIMHASH_MAX_LANES:
            return m, c, w, 3 * m
    raise AssertionError("unreachable")


def _simhash_signatures(docs: DataFrame, m: int, n_bits: int) -> DataFrame:
    """(doc_id, bits: array<int>[n_bits]) — per-bit token voting over
    ``m`` independent xxhash64 lanes (lane i hashes (token, i)), first
    ``n_bits`` of the 64·m-bit signature.  Tokens are hashed ONCE per
    lane (inlining xxhash64 into the per-bit aggregate would hash every
    token 64·m times — same trap as the naive minhash); the checkpoint
    is the CollapseProject barrier for the bit lanes."""
    hashed = docs.select(
        "doc_id",
        F.transform(
            _tokens(F.col("text")),
            # lane 0 is the classic single-arg xxhash64 (so m=1 output
            # is bit-identical to the fixed-64 original); extra lanes
            # salt the hash with their index
            lambda t: F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda i: F.when(i == 0, F.xxhash64(t)).otherwise(F.xxhash64(t, i)),
            ),
        ).alias("th"),
    ).localCheckpoint()
    # SQL form because F.shiftright's Python wrapper only takes a literal
    # shift; SQL's shiftright accepts the lambda-bound bit index.
    bits = F.expr(
        f"""
        transform(sequence(0, {n_bits - 1}), b ->
          CASE WHEN aggregate(th, 0, (acc, h) ->
                 acc + CASE WHEN shiftright(element_at(h, int(b div 64) + 1),
                                            int(b % 64)) & 1 = 1
                            THEN 1 ELSE -1 END) >= 0
               THEN 1 ELSE 0 END)
        """
    )
    return hashed.select("doc_id", bits.alias("bits")).localCheckpoint()


@query("dedup_simhash", oracle=None)
def dedup_simhash(
    spark: SparkSession, sf_dir: str, target_bucket: float = _SIMHASH_TARGET_BUCKET
) -> DataFrame:
    """North-star SimHash: signature by per-bit token voting, candidate
    pairs via chunk LSH (Hamming-distance blocking), verified by exact
    Hamming distance <= D.

    All signature math is JVM higher-order expressions over the token
    array; the chunk join is the standard pigeonhole trick, and the
    accept threshold matches the blocking guarantee EXACTLY: D+1 chunks
    mean any pair at distance <= D shares at least one identical chunk,
    so recall within the accepted distance is 1.0 (no silent
    blocking/verification mismatch; pinned by a geometry-forced test).

    Chunk width is the scale lever: random signatures fill chunk
    buckets UNIFORMLY, so per-lane bucket size is ~n/2^width and
    candidate pairs grow as n²/2^width — capping hot buckets can't
    rescue narrow chunks here (unlike MinHash, where only boilerplate
    clusters; simhash buckets are ALL equally full).  The geometry now
    ADAPTS (one count() job, _simhash_geometry): signature length and
    chunk width grow with the corpus while the accept distance grows
    proportionally, so semantics stay a constant bit-flip RATE and
    candidates stay near-linear.  At the test corpora the geometry
    resolves to the classic 64-bit / 4×16 / D=3 layout — outputs
    bit-identical to the fixed version (pinned)."""
    from data_integration_system_spark.operators._common import parallelize_scan

    # bit voting is CPU-bound: spread the unsplittable small scan
    # across cores before it (serial otherwise — documents is one file)
    docs = parallelize_scan(table(spark, sf_dir, "documents"))
    m, n_chunks, width, accept_d = _simhash_geometry(docs.count(), target_bucket)
    sigs = _simhash_signatures(docs, m, n_chunks * width)
    # chunk value = `width` bits folded to a long via aggregate
    chunked = sigs.select(
        "doc_id",
        "bits",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_chunks - 1)),
                lambda cch: F.struct(
                    cch.alias("chunk_id"),
                    F.aggregate(
                        F.slice(F.col("bits"), cch * width + 1, width),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc * 2 + x,
                    ).alias("chunk_val"),
                ),
            )
        ).alias("c"),
    ).select("doc_id", "bits", F.col("c.chunk_id").alias("chunk_id"), F.col("c.chunk_val").alias("chunk_val")).localCheckpoint()
    a = chunked.alias("a")
    b = chunked.alias("b")
    ham = F.aggregate(
        F.zip_with(F.col("a.bits"), F.col("b.bits"), lambda x, y: F.when(x != y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= accept_d)
        .orderBy("doc_a", "doc_b")
    )


#: cosine threshold for "near-duplicate" embeddings. 0.3 suits the
#: synthetic corpus (max pairwise cosine ≈ 0.44 — real dup corpora use
#: 0.8+; the operator is threshold-parametric, the plan identical).
_EMB_SIM_MIN = 0.3
_LSH_TABLES = 6   # L independent hash tables…
_LSH_BITS = 6     # …of AT LEAST k sign-bits each: candidate iff ANY table
                  # matches.  Recall ≈ 1-(1-(1-θ/π)^k)^L — multi-table is
                  # what makes sign-bit LSH usable (one exact-match 8-bit
                  # bucket ≈ 2%).  k is the FLOOR: bits scale with corpus
                  # size (see _emb_lsh_bits) because fixed-k buckets grow
                  # linearly with n and candidate PAIRS quadratically —
                  # measured 208k pairs at 2k vectors -> 20.6M at 20k ->
                  # ~2B at 200k, the OOM the sf10 scale rehearsal caught.
#: expected vectors per (table, bucket) the adaptive k aims for
_EMB_TARGET_BUCKET = 32
#: skew backstop: buckets beyond 16x the EXPECTED size are dense
#: near-identical regions (the exact-dedup tier's job) — dropped before
#: the self-join, same quadratic-bucket defense as the MinHash LSH cap;
#: see _emb_max_bucket (scales with n once k hits _EMB_MAX_BITS).


def _emb_lsh_bits(n_vectors: int) -> int:
    """Bits per LSH table for a corpus of ``n_vectors``: the smallest k
    holding the EXPECTED bucket at ~_EMB_TARGET_BUCKET members, floored
    at _LSH_BITS and CAPPED at _EMB_MAX_BITS — the largest k whose
    required table count still fits under _EMB_MAX_TABLES at the design
    recall.  Constant buckets keep candidate pairs LINEAR in n — the
    price is per-table recall (1-θ/π)^k falling as k grows, which
    ``_emb_lsh_tables`` repays by raising L (the standard LSH trade).
    Past the cap (~1M vectors at target 32) the EXPECTED BUCKET grows
    with n instead: the r8 bucket-local verify made big buckets cheap
    (one B×d matmul per group, shuffle stays L·n·d), whereas letting k
    run past the L ceiling silently cut design-band recall to ~0.71 at
    2M vectors (the r8-measured clamp defect).  Corpora whose
    interesting pairs sit at LOW cosine should use the IVF-blocked
    near-dup path (build_ivf_index) instead, where block sizes are set
    by the centroid count."""
    import math as _math

    if n_vectors <= 0:
        return _LSH_BITS
    k = _math.ceil(_math.log2(max(n_vectors / _EMB_TARGET_BUCKET, 2.0)))
    return max(_LSH_BITS, min(_EMB_MAX_BITS, k))


#: the similarity a production near-dup pipeline acts on: L is sized to
#: hold recall at THIS cosine as k grows.  The r8 rehearsal measured the
#: fixed-L=6 recall collapsing with adaptive k (0.24 at k=6 -> 0.04 at
#: k=10 -> 0.01 at k=13, SCALE_REHEARSAL_RECALL.json) — exactly the
#: documented trade, now repaid instead of just documented.
_EMB_DESIGN_COS = 0.8
_EMB_TARGET_RECALL = 0.9
#: L ceiling: past ~1M vectors the k needed for constant buckets would
#: demand L beyond this to hold the design recall.  r8 measured what
#: silently riding the clamp costs: at 2M vectors k reached 16, L
#: clamped at 48, and closed-form design-band recall fell to ~0.71 vs
#: the 0.9 target.  r9 repays it structurally: _emb_lsh_bits caps k at
#: _EMB_MAX_BITS (the largest k whose UNclamped L fits here), so the
#: recall guarantee holds at every corpus size and the growth lever
#: past the cap is bucket width, not recall.
_EMB_MAX_TABLES = 48


def _emb_tables_needed(k: int) -> int:
    """UNclamped closed-form L for ``k`` bits: smallest L with
    1-(1-p^k)^L >= _EMB_TARGET_RECALL at the design cosine
    (p = 1 - arccos(c)/π)."""
    import math as _math

    p = 1.0 - _math.acos(_EMB_DESIGN_COS) / _math.pi
    per_table = p ** k
    if per_table >= 1.0:
        return _LSH_TABLES
    need = _math.log(1.0 - _EMB_TARGET_RECALL) / _math.log(1.0 - per_table)
    return _math.ceil(need)


def _emb_max_bits() -> int:
    """Largest k whose required table count fits under _EMB_MAX_TABLES
    — the k where the LSH geometry stops being able to hold the design
    recall and bucket growth takes over (resolves to 13 at the shipped
    cos 0.8 / recall 0.9 / 48-table constants)."""
    k = _LSH_BITS
    while _emb_tables_needed(k + 1) <= _EMB_MAX_TABLES:
        k += 1
    return k


_EMB_MAX_BITS = _emb_max_bits()


def _emb_lsh_tables(k: int) -> int:
    """Tables L for ``k`` bits: _emb_tables_needed floored at the
    classic 6 and clamped at _EMB_MAX_TABLES.  k=6 (small corpora)
    resolves to L=8.  Ks arriving from _emb_lsh_bits never hit the
    clamp (they are capped at _EMB_MAX_BITS); the clamp only guards
    direct callers."""
    return max(_LSH_TABLES, min(_EMB_MAX_TABLES, _emb_tables_needed(k)))


def _emb_max_bucket(n_vectors: int, k: int) -> int:
    """Hot-bucket cap for the skew backstop: 16× the EXPECTED bucket at
    this (n, k).  Below the k cap the expected bucket is
    ~_EMB_TARGET_BUCKET and this is the historical constant 512; past
    the cap the expected bucket grows as n/2^k, and a fixed cap would
    start dropping TYPICAL buckets — silently zeroing recall on exactly
    the corpora the k cap was added to protect."""
    import math as _math

    expected = max(_EMB_TARGET_BUCKET, _math.ceil(n_vectors / 2 ** k))
    return expected * 16
#: Embedding dimensionality is pipeline CONFIG (you know your embedding
#: model), not something to probe from the data — a driver-side .first()
#: during query construction would block plan building on a cluster
#: round-trip.  Matches TESTDATA.md's embeddings.parquet (64-dim).
_EMB_DIM = 64


@query("dedup_embedding_near", oracle=None)
def dedup_embedding_near(
    spark: SparkSession,
    sf_dir: str,
    dim: int = _EMB_DIM,
    top_k_neighbors: int | None = None,
) -> DataFrame:
    """North-star embedding near-dup: pairs with cosine >= threshold,
    blocked by multi-table random-hyperplane LSH (L=6 tables × k sign
    bits, planes derived from sha256 so the whole thing is
    deterministic and JVM-side); exact cosine verifies candidates.

    Scale: the self-join key is (table_id, bucket); k ADAPTS to corpus
    size (one count() job, _emb_lsh_bits) so the expected bucket stays
    constant and candidates stay LINEAR in n — the sf10 scale rehearsal
    measured fixed-k candidates growing quadratically (208k -> 20.6M ->
    ~2B pairs across two decades) and OOMing an 8 GiB heap.  Oversized
    buckets that survive adaptive k (dense near-identical regions) are
    capped like the MinHash path (the cap scales with the expected
    bucket, _emb_max_bucket).  The recall cost of larger k is the
    standard LSH trade — L rises with k to hold design-band recall, and
    k itself is CAPPED at _EMB_MAX_BITS, the largest k whose required L
    fits the table ceiling (r9: riding the L clamp instead cut recall
    to a measured ~0.7 at 2M vectors; past the cap the bucket grows
    with n, which the bucket-local verify absorbs as per-group matmul
    width, not shuffle volume).  The verify step is BUCKET-LOCAL
    (r8): pairwise cosines are computed inside each (table, bucket)
    group, so shuffle volume is L·n·d member bytes, never
    candidates × d — the d3 rehearsal measured the former pair-join
    verify spilling >70 GB at 2M vectors.  Rows-only (float
    thresholding is not oracle-stable)."""
    import hashlib

    from data_integration_system_spark.operators._common import parallelize_scan

    # spread the unsplittable small scan: the 36-plane projection, the
    # bucket self-join, and the per-pair cosine verify all inherit the
    # checkpoint's partitioning — serial end-to-end without this
    emb = parallelize_scan(table(spark, sf_dir, "embeddings"))
    # Fail FAST on a dim misconfiguration: zip_with pads the shorter
    # array with nulls, so a wrong `dim` would silently yield zero
    # candidates.  The guard lives INSIDE the embedding projection (a
    # dropped side-column would be pruned away by Catalyst) and raises
    # from the executors on the first mismatching row — no driver-side
    # probe at plan-build time.
    emb = emb.select(
        "vec_id",
        F.when(F.size("embedding") == dim, F.col("embedding"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"embedding dim mismatch: configured {dim}, found "),
                    F.size("embedding").cast("string"),
                )
            )
        )
        .alias("embedding"),
    )

    # Deterministic ±1 hyperplanes, built driver-side as ONE literal
    # matrix nested BY TABLE: a per-bit expression tree (36 nested HOF
    # aggregates over named columns) takes ~20-30 s just to
    # ANALYZE/codegen — the literal keeps the tree one node wide, and
    # the table nesting lets one transform+aggregate pass emit each
    # table's bucket as a small INT (each plane's dot product evaluated
    # exactly once).  The checkpointed row is (vec_id, embedding,
    # 6 ints) — the earlier form stored a 216-element single-char
    # string array per row (~3.5 KB/row), which is what blew an 8 GiB
    # heap at the sf10 scale rehearsal; buckets-as-ints cut the
    # checkpoint ~6x and make the self-join key an integer compare.
    def sign(t: int, p: int, j: int) -> float:
        h = hashlib.sha256(f"{t}:{p}:{j}".encode()).digest()[0]
        return 1.0 if h & 1 else -1.0

    # Adaptive bucket width: one cheap count() sizes k so the expected
    # bucket stays ~_EMB_TARGET_BUCKET members no matter the corpus —
    # candidates stay LINEAR in n (see _emb_lsh_bits; at the 2k-vector
    # test scale this resolves to the original k=6) — and L rises with
    # k (_emb_lsh_tables) so recall at the DESIGN cosine holds instead
    # of collapsing with the bucket width (measured collapse:
    # SCALE_REHEARSAL_RECALL.json).
    n_vec = emb.count()
    n_bits = _emb_lsh_bits(n_vec)
    n_tables = _emb_lsh_tables(n_bits)

    # One parsed SQL literal, NOT F.lit(nested list): F.lit recurses
    # into ~n_tables·n_bits·dim element-wise Column constructions
    # through the py4j gateway — measured 2.15 s of pure DRIVER time at
    # the shipped 8×6×64 geometry (r17) — where the parser builds the
    # identical constant array<array<array<double>>> in one call.
    planes_by_table = F.expr(
        "array(%s)"
        % ",".join(
            "array(%s)"
            % ",".join(
                "array(%s)"
                % ",".join(
                    repr(sign(t, p, j)) + "D" for j in range(dim)
                )
                for p in range(n_bits)
            )
            for t in range(n_tables)
        )
    )

    def _dot(row):
        return F.aggregate(
            F.zip_with(row, F.col("embedding"), lambda a, x: a * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    tbuckets = F.transform(
        planes_by_table,
        lambda rows: F.aggregate(
            rows,
            F.lit(0),
            lambda acc, row: acc * 2 + F.when(_dot(row) >= 0, 1).otherwise(0),
        ),
    )
    bits_df = emb.select(
        "vec_id", "embedding", tbuckets.alias("buckets")
    ).localCheckpoint()
    keyed = (
        bits_df.select("vec_id", F.posexplode("buckets").alias("tbl", "bucket"))
        .localCheckpoint()
    )
    # skew backstop: a bucket still oversized after the adaptive k is a
    # dense near-identical region — cap it before the self-join exactly
    # like the MinHash LSH path (drop_hot_keys reads keyed twice; it is
    # checkpointed above).  The cap scales with the EXPECTED bucket so
    # the past-_EMB_MAX_BITS regime (bucket grows with n) doesn't see
    # typical buckets dropped as "hot".
    keyed = drop_hot_keys(keyed, ["tbl", "bucket"], _emb_max_bucket(n_vec, n_bits))

    # BUCKET-LOCAL verify (r8): the former pair self-join + two
    # embedding joins shipped (pair + embedding) rows through shuffles —
    # candidates × ~0.5 KB, which the d3 rehearsal (2M vectors, ~190M
    # candidates at the target bucket of 32) measured as >70 GB of
    # shuffle spill: verify VOLUME scaled with candidates, not corpus.
    # Verifying inside each (table, bucket) group instead ships every
    # member embedding once per table (L·n·d bytes — ~16x less at
    # B=32) and materializes NO per-pair rows: each group computes its
    # B×B cosine matrix and emits only passing pairs.  The cosine is
    # BIT-IDENTICAL to functions/vectors.cosine: outer products
    # accumulated in dimension order reproduce the JVM aggregate's
    # left-to-right float64 adds, and Decimal(repr(x)) HALF_UP
    # reproduces F.round's BigDecimal.valueOf semantics — the rewrite
    # changes the shuffle shape, not one output bit.
    members = keyed.join(bits_df.select("vec_id", "embedding"), "vec_id")

    if top_k_neighbors is not None:
        return _emb_topk_collapse(members, top_k_neighbors)

    def verify(pdf):
        import numpy as np
        import pandas as pd
        from decimal import ROUND_HALF_UP, Decimal

        nb = len(pdf)
        empty = pd.DataFrame(
            {
                "vec_a": pd.Series(dtype="int64"),
                "vec_b": pd.Series(dtype="int64"),
                "cos_sim": pd.Series(dtype="float64"),
            }
        )
        if nb < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        mat = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
        acc = np.zeros((nb, nb))
        nrm2 = np.zeros(nb)
        for j in range(mat.shape[1]):  # dim order == the JVM fold order
            c = mat[:, j]
            acc += np.outer(c, c)
            nrm2 += c * c
        nrm = np.sqrt(nrm2)
        ia, ib = np.triu_indices(nb, 1)
        denom = nrm[ia] * nrm[ib]
        ok = denom > 0  # zero-norm -> NULL in the column form -> drop
        sims = np.divide(acc[ia, ib], denom, out=np.zeros(len(ia)), where=ok)
        # coarse pre-filter; exact HALF_UP rounding only on survivors
        keep = ok & (sims >= _EMB_SIM_MIN - 1e-4)
        if not keep.any():
            return empty
        q = Decimal("0.0001")
        va, vb, cs = [], [], []
        for i, k, s in zip(ia[keep], ib[keep], sims[keep]):
            r = float(Decimal(repr(float(s))).quantize(q, rounding=ROUND_HALF_UP))
            if r >= _EMB_SIM_MIN:
                lo, hi = sorted((int(ids[i]), int(ids[k])))
                va.append(lo)
                vb.append(hi)
                cs.append(r)
        return pd.DataFrame({"vec_a": va, "vec_b": vb, "cos_sim": cs})

    verified = members.groupBy("tbl", "bucket").applyInPandas(
        verify, "vec_a long, vec_b long, cos_sim double"
    )
    # a pair found by several tables collapses on the VERIFIED output
    # (tiny), not the candidate space; max() of bit-identical values
    return (
        verified.groupBy("vec_a", "vec_b")
        .agg(F.max("cos_sim").alias("cos_sim"))
        .orderBy("vec_a", "vec_b")
    )


def _emb_topk_collapse(members: DataFrame, cap: int) -> DataFrame:
    """Bounded-output verify for the embedding near-dup: each (table,
    bucket) group emits per MEMBER only its ``cap`` nearest passing
    neighbors (directed rows), a global per-doc window re-cuts to the
    true top-``cap`` across tables, and the directed survivors collapse
    to undirected pairs.

    Why this exists: at a noise-floor threshold (0.3 on the synthetic
    corpus) the FULL pair set is quadratic in corpus size — a data
    property any exact-verify near-dup pays to emit (SCALE.md r11:
    output exponent 2.0 with wall chasing it at 1.167).  Dedup
    semantics don't need every noise-floor pair, they need each doc's
    nearest neighbors above threshold; the cap bounds emission at
    O(L·n·cap) INSIDE the bucket groups, so wall decouples from the
    quadratic pair count.  Exactness contract (pytest-pinned): with
    cap >= the max true degree the result is IDENTICAL to the uncapped
    pair set — if b is in a's global top-cap, then in every bucket
    where they co-land b also ranks inside a's within-bucket top-cap,
    so the pre-cut loses nothing the global cut would keep.  A pair
    survives if EITHER endpoint keeps it (standard kNN-graph
    semantics); ranking uses the exact unrounded cosine, ties to the
    lower neighbor id."""
    import numpy as np
    import pandas as pd
    from decimal import ROUND_HALF_UP, Decimal

    def verify_capped(pdf):
        empty = pd.DataFrame(
            {
                "src": pd.Series(dtype="int64"),
                "dst": pd.Series(dtype="int64"),
                "cos_sim": pd.Series(dtype="float64"),
            }
        )
        nb = len(pdf)
        if nb < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        mat = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
        acc = np.zeros((nb, nb))
        nrm2 = np.zeros(nb)
        for j in range(mat.shape[1]):  # dim order == the JVM fold order
            c = mat[:, j]
            acc += np.outer(c, c)
            nrm2 += c * c
        nrm = np.sqrt(nrm2)
        ia, ib = np.triu_indices(nb, 1)
        denom = nrm[ia] * nrm[ib]
        ok = denom > 0
        sims = np.divide(acc[ia, ib], denom, out=np.zeros(len(ia)), where=ok)
        keep = ok & (sims >= _EMB_SIM_MIN - 1e-4)
        if not keep.any():
            return empty
        # directed view of the passing pairs; per-src top-cap by exact
        # cosine (desc), ties to the lower neighbor id — the SAME order
        # the global window uses, so the pre-cut composes exactly
        src = np.concatenate([ia[keep], ib[keep]])
        dst = np.concatenate([ib[keep], ia[keep]])
        s = np.concatenate([sims[keep], sims[keep]])
        order = np.lexsort((ids[dst], -s, ids[src]))  # src, -cos, dst_id
        src, dst, s = src[order], dst[order], s[order]
        starts = np.flatnonzero(
            np.r_[True, ids[src][1:] != ids[src][:-1]]
        )
        take = np.zeros(len(src), dtype=bool)
        for b, e in zip(starts, np.r_[starts[1:], len(src)]):
            take[b:min(b + cap, e)] = True
        q = Decimal("0.0001")
        out_s, out_d, out_c = [], [], []
        for i, k, v in zip(src[take], dst[take], s[take]):
            r = float(Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP))
            if r >= _EMB_SIM_MIN:
                out_s.append(int(ids[i]))
                out_d.append(int(ids[k]))
                out_c.append(r)
        return pd.DataFrame({"src": out_s, "dst": out_d, "cos_sim": out_c})

    directed = members.groupBy("tbl", "bucket").applyInPandas(
        verify_capped, "src long, dst long, cos_sim double"
    )
    # collapse across tables FIRST (max of bit-identical values), then
    # the global per-doc top-cap, then undirected pairs — all on the
    # O(L·n·cap) directed survivors, never the pair space
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), "dst")
    top = (
        directed.groupBy("src", "dst")
        .agg(F.max("cos_sim").alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
    )
    return (
        top.select(
            F.least("src", "dst").alias("vec_a"),
            F.greatest("src", "dst").alias("vec_b"),
            "cos_sim",
        )
        .groupBy("vec_a", "vec_b")
        .agg(F.max("cos_sim").alias("cos_sim"))
        .orderBy("vec_a", "vec_b")
    )


@query("dedup_embedding_topk", oracle=None)
def dedup_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-output embedding near-dup: dedup_embedding_near with the
    top_k_neighbors=3 contract — same LSH blocking, same bucket-local
    exact verify, but each doc emits at most its 3 nearest passing
    neighbors, so output (and the wall chasing it) is O(n·k) even at a
    noise-floor threshold where the full pair set is quadratic in the
    corpus (SCALE.md r11).  Rows-only (float thresholding + LSH);
    cap-equals-uncapped exactness is pytest-pinned."""
    return dedup_embedding_near(spark, sf_dir, top_k_neighbors=3)


@query(
    "dedup_ngram_jaccard",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, lang, source,
             string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id, lang, source,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(range(1, greatest(len(toks)-2,0)+1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             ELSE [array_to_string(toks, ' ')] END AS sh
      FROM t
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(a.sh || b.sh)), 4) AS jaccard
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(a.sh || b.sh)) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star EXACT n-gram Jaccard near-dup: word-3-gram sets compared
    pairwise within (lang, source) blocks — the deterministic, oracle-
    checkable sibling of Q28's MinHash approximation.

    Blocking is EXACT prefix filtering (_prefix_filter_candidates):
    candidates are pairs sharing a rare-half shingle under a global
    rarest-first order, which the smallest-common-element lemma proves
    loses no J >= 0.5 pair.  The previous length-band blocker kept pair
    space quadratic IN THE BAND — the sf10 scale rehearsal measured
    exponent 1.66 (18 s -> 823 s over one decade); prefix filtering cut
    sf10 to near-linear.  Token/shingle arrays are staged via
    localCheckpoint (CollapseProject would otherwise re-split the text
    per array reference)."""
    from data_integration_system_spark.operators._common import parallelize_scan

    # spread the unsplittable scan (1 file partition at sf0.1): the
    # tokenize+shingle+hash pass below is checkpointed at the SCAN's
    # partitioning, so without the respread it runs serial regardless
    # of core count (r18 A/B: 2.6 -> 2.2 s warm at sf0.1, 5.8 -> 5.3 s
    # at sf1; no-ops once the corpus arrives in many splits)
    docs = parallelize_scan(table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "lang", "source", _tokens(F.col("text")).alias("toks")
    ).localCheckpoint()
    # Pairwise set math runs on 64-bit shingle HASHES, not strings:
    # array_intersect over longs is far cheaper than over ~20-char
    # strings, and |union| = na + nb - |inter| needs no second set op.
    # (Hash collisions would perturb jaccard with p ≈ n²/2⁶⁴ per pair —
    # negligible against the oracle.)
    sh = toks.select(
        "doc_id", "lang", "source",
        F.transform(
            F.array_distinct(_shingles(F.col("toks"))), lambda s: F.xxhash64(s)
        ).alias("sh"),
    ).localCheckpoint()
    cand = _prefix_filter_candidates(sh.withColumn("n", F.size("sh")))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    uni = F.col("n_a") + F.col("n_b") - inter
    jac = inter / uni
    return (
        cand.select(
            "doc_a", "doc_b",
            F.round(jac, 4).alias("jaccard"),
            jac.alias("_j"),
        )
        .filter(F.col("_j") >= 0.5)
        .drop("_j")
    )


def _prefix_filter_candidates(sized: DataFrame, threshold: float = 0.5) -> DataFrame:
    """EXACT prefix-filtered self-join for J >= threshold candidates
    (Chaudhuri/Bayardo-style all-pairs similarity search).

    Input/output contract identical to _banded_block_candidates: in
    (doc_id, lang, source, sh: array<long>, n: int), out one row per
    unordered candidate pair (doc_a < doc_b, sh_a, sh_b, n_a, n_b).

    Exactness: J(a,b) >= t implies |a∩b| >= t·|a∪b| >= ceil(t·n_a) and
    >= ceil(t·n_b).  Under ANY common total order of shingles, let x be
    the SMALLEST element of a∩b: if x were outside a's prefix of
    p_a = n_a - ceil(t·n_a) + 1 elements, the whole intersection would
    sit in a's (ceil(t·n_a) - 1)-element suffix — too small.  Same for
    b.  So x lies in BOTH prefixes, and joining exploded prefixes on
    the shingle recovers every qualifying pair.  The order used is
    (document frequency asc, hash) — rarest-first, so the exploded
    posting lists are dominated by rare shingles and the join output
    stays near-linear.

    This replaces the length-band blocker for the n-gram query: bands
    bound pair space per band, but a band's pair count is still
    QUADRATIC in the band's membership — the sf10 scale rehearsal
    measured exponent 1.66 (18 s -> 823 s across one decade).  Prefix
    filtering makes candidates track the number of truly-similar pairs
    plus rare-token collisions instead of block sizes.  The size-ratio
    prune rides along as an exact in-join conjunct, same as before."""
    tok = sized.select(
        "doc_id", "lang", "source", "n", F.explode("sh").alias("t")
    )
    df_counts = tok.groupBy("t").agg(F.count("*").alias("df"))
    # rarest-first common total order; array_sort on struct<df,t> sorts
    # lexicographically, giving every document the SAME global order
    ordered = (
        tok.join(df_counts, "t")
        .groupBy("doc_id", "lang", "source", "n")
        .agg(F.array_sort(F.collect_list(F.struct("df", "t"))).alias("st"))
    )
    pref = (
        ordered.withColumn(
            "p", (F.col("n") - F.ceil(F.col("n") * F.lit(threshold)) + 1).cast("int")
        )
        .select(
            "doc_id", "lang", "source", "n",
            F.transform(F.expr("slice(st, 1, p)"), lambda s: s["t"]).alias("pref"),
        )
        .localCheckpoint()  # consumed by both sides of the self-join
    )
    inv = pref.select(
        "doc_id", "lang", "source", "n", F.explode("pref").alias("t")
    )
    a = inv.alias("a")
    b = inv.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.t") == F.col("b.t"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size-ratio prune: J <= min/max, exact conjunct as in the
            # banded blocker
            & (F.least(F.col("a.n"), F.col("b.n"))
               >= threshold * F.greatest(F.col("a.n"), F.col("b.n"))),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sized.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), F.col("n").alias("n_a")
    )
    sb = sized.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("n").alias("n_b")
    )
    return cand.join(sa, "doc_a").join(sb, "doc_b")


def _banded_block_candidates(sized: DataFrame) -> DataFrame:
    """Exact blocked self-join for J >= 0.5 candidates.

    Input: (doc_id, lang, source, sh: array<long>, n: int).  Output: one
    row per unordered candidate pair — (doc_a < doc_b, sh_a, sh_b, n_a,
    n_b) — inside (lang, source, floor(log2 n) length-band) blocks.

    Exactness: J >= 0.5 forces min(n_a, n_b) >= 0.5 * max(n_a, n_b)
    (J <= |inter|/|union| <= min/max), i.e. log2 sizes differ by <= 1, so
    floor(log2 n) bands differ by AT MOST 1.  Joining same-band plus
    adjacent-band therefore loses nothing; the oracle's unbanded
    all-pairs-in-(lang,source) form is intentionally left independent to
    verify this.  One side duplicates each row into (band, band+1) keys
    and the match condition keeps exactly one copy per unordered pair:
    bands equal -> doc_id order breaks the tie; bands adjacent -> the
    higher-band doc must sit on the non-exploded side.

    At 100 TB this is the defense against one dominant (lang, source)
    block going quadratic: pair space is bounded per LENGTH BAND, and the
    shuffle key (lang, source, band_key) spreads a hot block across
    partitions.  The size-ratio prune stays as an exact in-join conjunct.
    """
    banded = sized.withColumn(
        "band", F.floor(F.log2(F.greatest(F.col("n"), F.lit(1)))).cast("int")
    )
    a = banded.withColumn("band_key", F.col("band")).alias("a")
    b = banded.withColumn(
        "band_key", F.explode(F.array(F.col("band"), F.col("band") + F.lit(1)))
    ).alias("b")
    pair_once = (F.col("b.band") < F.col("a.band")) | (
        (F.col("b.band") == F.col("a.band"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & pair_once
            # size-ratio prune: J <= min(na,nb)/max(na,nb), so pairs whose
            # sizes differ by >2x can't reach 0.5 — drops them BEFORE the
            # intersect runs (plan: extra cheap conjunct in the join)
            & (F.least(F.col("a.n"), F.col("b.n"))
               >= 0.5 * F.greatest(F.col("a.n"), F.col("b.n"))),
        )
        .select(
            # sh_a/n_a must FOLLOW doc_a (the lesser id), not side "a" of
            # the join — for adjacent-band pairs the id order can flip
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col("a.sh"))
            .otherwise(F.col("b.sh"))
            .alias("sh_a"),
            F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col("b.sh"))
            .otherwise(F.col("a.sh"))
            .alias("sh_b"),
            F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col("a.n"))
            .otherwise(F.col("b.n"))
            .alias("n_a"),
            F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col("b.n"))
            .otherwise(F.col("a.n"))
            .alias("n_b"),
        )
    )


#: connected-components local fast path: edge sets at or under this size
#: (~3 MB collected as two longs/row) are solved driver-side with
#: union-find instead of paying O(log² n) star-contraction rounds of
#: distributed fixed cost.  Bounded operand, same class as the tombstone
#: INSET_CAP — the distributed path is the contract above the cap.
_CC_LOCAL_EDGE_CAP = 200_000


def connected_components_min_label(
    pairs: DataFrame, max_rounds: int = 25
) -> DataFrame:
    """Distributed connected components: unique undirected ``(doc_a,
    doc_b)`` pairs (``doc_a < doc_b``) -> ``(doc_id, label)`` where
    ``label`` is the smallest doc_id in the node's component.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) instead of plain
    min-label propagation: propagation needs rounds ~ graph DIAMETER
    (adversarial near-dup chains — shingled documents drifting one edit
    at a time — make that linear), while star contraction converges in
    O(log^2 n) rounds on ANY graph, each round two shuffles of the
    current edge set.  Edges stay oriented (a > b) throughout:

    * large-star: center every node c, hang each strictly-larger
      neighbor off m = min(neighbors ∪ {c});
    * small-star: group oriented edges by their larger endpoint a,
      re-point a and every smaller neighbor at m = min of the group.

    Both steps are a groupBy-min plus one join — no neighbor-list
    collection, so a hot node (a boilerplate dup cluster's hub) never
    materializes its adjacency in one task.  localCheckpoint per round
    cuts lineage exactly like the crawl loop.  Raises instead of
    returning wrong labels if the fixpoint is somehow not reached."""
    edges = (
        pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = edges.count()
    if n_edges <= _CC_LOCAL_EDGE_CAP:
        # Bounded driver-side union-find: a near-dup PAIR graph is tiny
        # relative to its corpus (|edges| ≈ duplicates, not documents),
        # and below the cap (~3 MB collected) the star-contraction
        # loop's per-round fixed cost — 2 checkpointed jobs × ~4
        # shuffles × O(log² n) rounds — dwarfs the work: measured ~2 s
        # of round machinery for a few hundred edges at sf0.1 vs ~10 ms
        # locally (r17).  Same labels by construction (min doc_id per
        # component); the distributed path takes over past the cap,
        # exactly like the tombstone INSET_CAP split.
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in edges.collect():
            a, b = row["a"], row["b"]
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict[int, int] = {}
        for node in parent:
            r = find(node)
            if r not in comp_min or node < comp_min[r]:
                comp_min[r] = node
        out = sorted((node, comp_min[find(node)]) for node in parent)
        # schema follows the INPUT pair column type (ADVICE r17): the
        # distributed path returns doc_id/label in doc_a's type, so the
        # result schema must not silently change with edge count
        id_type = edges.schema["a"].dataType.simpleString()
        return local_rows_df(
            pairs.sparkSession, out, f"doc_id {id_type}, label {id_type}"
        )
    for _ in range(max_rounds):
        # large-star
        d = edges.select(F.col("a").alias("c"), F.col("b").alias("n")).unionAll(
            edges.select(F.col("b").alias("c"), F.col("a").alias("n"))
        )
        mins = (
            d.groupBy("c")
            .agg(F.min("n").alias("mn"))
            .select("c", F.least("mn", "c").alias("m"))
        )
        edges_ls = (
            d.join(mins, "c")
            .filter(F.col("n") > F.col("c"))
            .select(F.col("n").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # small-star
        mins2 = edges_ls.groupBy("a").agg(F.min("b").alias("m"))
        joined = edges_ls.join(mins2, "a")
        new_edges = (
            joined.filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionAll(mins2.select("a", F.col("m").alias("b")))
            .distinct()
            .localCheckpoint()
        )
        n_new = new_edges.count()
        converged = n_new == n_edges and new_edges.subtract(edges).isEmpty()
        edges, n_edges = new_edges, n_new
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected components did not converge in {max_rounds} rounds"
        )
    children = edges.groupBy("a").agg(F.min("b").alias("label")).select(
        F.col("a").alias("doc_id"), "label"
    )
    roots = (
        edges.select(F.col("b").alias("doc_id"))
        .subtract(edges.select(F.col("a").alias("doc_id")))
        .withColumn("label", F.col("doc_id"))
    )
    return children.unionByName(roots)


def dedup_cluster_labels_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star dedup-cluster assignment: connected components over the
    near-duplicate pair graph (MinHash candidates verified at jaccard >=
    0.2), labels = min doc_id reachable.  The canonical "pick one
    representative per duplicate cluster" step after pair detection.
    Rows-only (iterative, not single-statement SQL)."""
    pairs = dedup_minhash_near(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components_min_label(pairs)
    # Exploded (cluster_rep, doc_id) membership rows — scalar columns only,
    # so downstream tooling can sort/hash/join the output without special
    # array handling, and it's the natural shape for the "join back to
    # documents and keep one rep per cluster" consumer.
    sizes = labels.groupBy("label").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return labels.join(sizes, "label").select(
        F.col("label").alias("cluster_rep"),
        F.col("doc_id"),
        "cluster_size",
    )


@query("dedup_clusters", oracle=None)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query surface for the cluster labels; the orderBy exists only to
    canonicalize THIS query's output — internal consumers use the
    unordered form and skip the range-partition sort."""
    return dedup_cluster_labels_unordered(spark, sf_dir).orderBy(
        "cluster_rep", "doc_id"
    )


@query("dedup_corpus_keep_reps", oracle=None)
def dedup_corpus_keep_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end near-dup removal a training-data pipeline actually
    ships: the documents table with every near-duplicate cluster reduced
    to its representative (min doc_id).  Composition of
    dedup_minhash_near -> dedup_clusters -> anti-join back to the corpus.

    Scale: the drop set is |duplicates| rows (tiny vs corpus), so the
    anti-join broadcasts; the corpus is scanned once.  Rows-only
    (inherits the iterative clustering)."""
    clusters = dedup_cluster_labels_unordered(spark, sf_dir)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_rep")).select("doc_id")
    docs = table(spark, sf_dir, "documents")
    return (
        docs.join(F.broadcast(drop), "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


@query(
    "dup_rate_by_source",
    oracle=r"""
    WITH h AS (
      SELECT source,
             sha256(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS ch
      FROM documents
    ), c AS (
      SELECT ch, count(*) AS n FROM h GROUP BY ch
    )
    SELECT h.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
           CAST(SUM(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) * 10000 // count(*)
                AS BIGINT) AS dup_rate_e4
    FROM h JOIN c USING (ch)
    GROUP BY h.source ORDER BY h.source
    """,
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication health report: per source, how many documents share
    their normalized content hash with at least one other document
    corpus-wide — the per-slice dedup pressure metric a curation
    pipeline tracks release over release.

    Scale shape: the corpus aggregates ONCE to the (ch, source) grain
    (map-side combined), and everything downstream — the corpus-wide
    per-hash counts AND the join-back — runs on that already-reduced
    relation, smaller than the corpus by the per-source duplication
    factor; the raw document rows are scanned exactly once and never
    joined.  Cross-source duplicates count in EVERY source they appear
    in, which is the operative question (how much of THIS slice is
    redundant).  Integer rate."""
    docs = table(spark, sf_dir, "documents")
    g = (
        docs.select("source", content_hash(F.col("text")).alias("ch"))
        .groupBy("ch", "source")
        .agg(F.count("*").cast("long").alias("n_src"))
    )
    return dup_rate_report(g)


def dup_rate_report(grain: DataFrame) -> DataFrame:
    """The dup-rate rollup from a ``(ch, source, n_src)`` grain relation
    — shared by the batch query above and the incremental streaming
    sink (streaming/jobs.dup_rate_sink), so the two paths cannot drift.
    ``grain`` may carry duplicate (ch, source) rows (e.g. a ledger of
    per-batch appends); they are re-summed first."""
    g = grain.groupBy("ch", "source").agg(F.sum("n_src").alias("n_src"))
    c = g.groupBy("ch").agg(F.sum("n_src").alias("n"))
    return (
        g.join(c, "ch")
        .groupBy("source")
        .agg(
            F.sum("n_src").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n") > 1, F.col("n_src")).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
        )
        .withColumn(
            "dup_rate_e4",
            F.expr("n_dup_docs * 10000 div n_docs").cast("long"),
        )
        .orderBy("source")
    )


@query(
    "cross_source_duplicate_matrix",
    oracle=r"""
    WITH h AS (
      SELECT DISTINCT source,
             sha256(substr(trim(regexp_replace(text, '\s+', ' ', 'g')), 1, 24))
               AS content_key
      FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_hashes
    FROM h a JOIN h b
      ON a.content_key = b.content_key AND a.source < b.source
    GROUP BY source_a, source_b
    """,
)
def cross_source_duplicate_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources, how
    many distinct content hashes they share — the "where do my
    duplicates come from" report that decides which source to drop when
    `dedup_corpus_keep_reps` keeps one representative (reference D6
    first-writer-wins, db/postgres_store.py:88, viewed pairwise).

    Uses the same prefix-24 normalized sha256 key as `dedup_exact`, so
    the matrix explains exactly the duplicates that query removes.

    Scale shape: the corpus reduces to DISTINCT (source, hash) first —
    one map-side combined shuffle — and the self-join runs hash-keyed on
    that reduced grain.  Per-key fanout is bounded by |sources|² (20
    sources → ≤190 pairs/key), not by document multiplicity, because the
    distinct collapses doc-grain duplicates before any pairing; the
    output is at most |sources|² rows."""
    docs = table(spark, sf_dir, "documents")
    key = F.sha2(F.substring(normalize_ws(F.col("text")), 1, 24), 256)
    h = (
        docs.select("source", key.alias("content_key"))
        .distinct()
        .localCheckpoint(eager=False)  # both join sides consume this
        # grain; the lazy checkpoint makes the corpus scan/distinct run
        # ONCE, not once per side
    )
    a = h.alias("a")
    b = h.alias("b")
    return (
        a.join(
            b,
            (F.col("a.content_key") == F.col("b.content_key"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").cast("long").alias("n_shared_hashes"))
    )


@query(
    "doc_ngram_novelty",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(range(1, greatest(len(toks)-2,0)+1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             ELSE [array_to_string(toks, ' ')] END) AS s
      FROM t
    ), fs AS (
      SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                * 10000 // count(*) AS BIGINT) AS novelty_e4
    FROM sh JOIN fs USING (s)
    GROUP BY sh.doc_id ORDER BY sh.doc_id
    """,
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty yield: the fraction of a doc's distinct
    3-gram shingles whose FIRST corpus occurrence (min doc_id) is this
    doc — the marginal-contribution curve dedup pipelines use to decide
    what an ingest batch actually added (a doc with novelty_e4 ~ 0 is
    pure boilerplate/duplication even if no single pair-wise match
    fires).

    Same token/shingle derivation as dedup_ngram_jaccard; Spark-side
    set keys are xxhash64 longs (cheap equality; collisions perturb
    counts with p ~ n²/2⁻⁶⁴ — negligible), the oracle groups the raw
    strings.

    Scale shape: explode to the (doc, shingle) grain, one shuffle on
    the shingle key for the min-doc aggregation, and AQE reuses that
    exchange for the join-back (the dup_rate_by_source pattern); the
    final per-doc rollup map-side-combines.  No pair-wise anything —
    this is linear in corpus shingles where the Jaccard family is
    blocked-quadratic."""
    docs = table(spark, sf_dir, "documents")
    # shingle_sets, not a raw explode projection: its token-stage
    # barrier is what keeps shingling O(n) per doc (CollapseProject
    # would re-split the text per shingle reference — measured 8 s vs
    # 0.7 s at sf0.1); spread=True parallelizes the corpus-wide pass
    sh = (
        shingle_sets(docs, spread=True)
        .select("doc_id", F.explode("shingles").alias("h"))
        .localCheckpoint(eager=False)  # one derivation, two consumers
    )
    first = sh.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("long")
    return (
        sh.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            novel.alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("n_novel * 10000 div n_shingles").cast("long").alias("novelty_e4"),
        )
        .orderBy("doc_id")
    )


@query("minhash_jaccard_error", oracle=None)
def minhash_jaccard_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-calibration harness: for every LSH candidate
    pair, the signature-agreement estimate of Jaccard (matching lanes /
    32) next to the EXACT shingle Jaccard — the evaluation loop that
    justifies the near-dup threshold before anyone trusts the index at
    corpus scale (sibling of similarity_recall_at_k for ANN and
    percentile_approx_check for sketches).

    Emits (doc_a, doc_b, est_e4, exact_e4, abs_err_e4) as e4-scaled
    integers.  Rows-only: the estimator operand is xxhash64-derived.
    Tests pin the mean absolute error under the binomial bound
    (sigma = sqrt(J(1-J)/32) <= 0.088), so a signature-pipeline
    regression that decalibrates the estimator fails CI.

    Scale shape: candidates come from the capped banded self-join
    (never all pairs); signatures and shingle sets are computed once
    (shared shingle_sets relation) and joined back by doc id — two
    broadcast-or-shuffle joins on the candidate relation, which is
    near-linear in docs by the LSH design."""
    docs = table(spark, sf_dir, "documents")
    sh = shingle_sets(docs, spread=True)
    sig = sh.select(
        "doc_id", _minhash_sig(F.col("shingles")).alias("sig")
    ).localCheckpoint()
    # the checkpointed sig relation feeds BOTH the banding and the
    # estimator join — the 32-lane remix runs exactly once
    pairs = lsh_candidate_pairs(minhash_bands(docs, sig_df=sig))
    payload = sh.join(sig, "doc_id")
    pa = payload.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("sig").alias("sig_a"),
    )
    pb = payload.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("sig").alias("sig_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    union = F.size("sh_a").cast("long") + F.size("sh_b").cast("long") - inter
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("long")
    est = F.expr(f"m * 10000 div {_N_HASHES}")
    exact = F.expr("i * 10000 div u")
    return (
        pairs.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select("doc_a", "doc_b", matches.alias("m"), inter.alias("i"), union.alias("u"))
        .select(
            "doc_a",
            "doc_b",
            est.alias("est_e4"),
            exact.alias("exact_e4"),
            F.abs(est - exact).cast("long").alias("abs_err_e4"),
        )
        .orderBy("doc_a", "doc_b")
    )

"""Multi-decade scale rehearsal: fixture generators and one timing loop.

The 100-TB claims in SCALE.md are plan-shape arguments verified at one
scale point (sf0.1).  This tool adds MEASURED decades: it synthesizes
sf1 (10x sf0.1, ~6M lineitem) and sf10 (100x, ~60M lineitem) by
deterministic replication of the driver's sf0.1 tables, times the
heavy queries and the index builds across each decade, and reports
scaling exponents  e = log(t_big / t_small) / log(ratio)  — near 1.0 is
linear, >1.2 deserves a plan audit.  Two decades matter: at sf0.1→sf1
fixed overheads (scheduling, broadcast builds) deflate e; the
sf1→sf10 decade is data-dominated and the honest read.

Replication preserves the star schema and distributions without
degenerate duplication:

* dims region/nation copy through; every other table gets replicas
  with all surrogate keys shifted by k * KEY_OFFSET so FK joins land
  within the replica (the join fan-outs per key stay exactly sf0.1's).
* documents.text goes through an INJECTIVE letter permutation per
  replica — alphabet rotations for the 10 sf1 replicas, the affine
  family x -> a*x + b (mod 26), a coprime to 26, for the 100 sf10
  replicas (312 distinct maps available, so no two replicas share a
  transform).  Replicas are therefore NOT near-duplicates of each
  other: shingle/minhash/simhash dedup sees a bigger corpus with
  sf0.1's duplicate RATE, not an artificial clone cluster per doc
  (which would grow pair output quadratically and measure the data
  artifact, not the plan).
* embeddings rotate their 64 dimensions by k (norm-preserving,
  in-replica geometry intact) and flip sign every 64 replicas so the
  sf10 wrap-around can't mint exact-duplicate vectors.
* events keep their time range (replica-x density per day — volume
  growth, the realistic shape), with event_id/user_id shifted.

Usage:
    python scale_rehearsal.py --generate           # build .scale/sf1
    python scale_rehearsal.py --generate-sf10      # build .scale/sf10
    python scale_rehearsal.py --generate-d3        # build .scale/d3
    python scale_rehearsal.py --generate-d3h       # build .scale/d3h (needs d3)
    python scale_rehearsal.py --generate-d3e       # build .scale/d3e (needs sf10)
    python scale_rehearsal.py --generate-d3c       # build .scale/d3c
    python scale_rehearsal.py --time sf0.1-sf1     # one named pair (PAIRS)

Each generator resumes per table through its parquet ``_SUCCESS``
markers.  ``--time`` writes its rows into the pair's section of
SCALE_REHEARSAL.json (sf0.1-sf1), SCALE_REHEARSAL_D2.json (sf1-sf10) or
SCALE_REHEARSAL_D3.json (sf10-d3 and d3h-d3: documents and embeddings
only, the corpus sizes where the adaptive LSH geometries engage), and
resumes: rows already recorded with an exponent are skipped.  The
one-off campaigns whose results SCALE.md and the other sections of
those files record were retired; git history keeps their code.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import tempfile
import time
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1 = os.path.join(HERE, ".scale", "sf1")
SF10 = os.path.join(HERE, ".scale", "sf10")
D3 = os.path.join(HERE, ".scale", "d3")
D3H = os.path.join(HERE, ".scale", "d3h")
KEY_OFFSET = 100_000_000
EMB_DIM = 64
#: d3 = documents+embeddings only, 1000x sf0.1 (5M docs / 2M vectors) —
#: one true decade above sf10 on exactly the two tables the adaptive
#: LSH operators read
D3_REPLICAS = 1000

#: the heavy tier from BENCH_DETAIL (slowest suite queries) — the ones
#: whose scaling behavior actually bounds a 100 TB run
QUERIES = (
    "dedup_embedding_near",
    "dedup_minhash_near",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "multimodal_decode_meta",
    "lone_returned_supplier_orders",
    "fingerprint_overlap_pairs",
    "doc_ngram_novelty",
    "transition_reachability",
    "tfidf_top_terms",
)

_ALPHA = "abcdefghijklmnopqrstuvwxyz"
_ALPHA_U = _ALPHA.upper()

#: multiplicative units mod 26 — the 'a' of the affine letter maps
_UNITS = (1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)


def _rotation_map(k: int) -> tuple[str, str]:
    src = _ALPHA + _ALPHA_U
    dst = (_ALPHA[k % 26:] + _ALPHA[:k % 26])
    return src, dst + dst.upper()


def _affine_map(k: int) -> tuple[str, str]:
    """k-th member of the affine letter-permutation family x -> a*x + b
    (mod 26): injective in k for k < 312, so 100 sf10 replicas never
    share a transform (two replicas sharing one would make their docs
    EXACT duplicates and quadratically distort dedup timings)."""
    a, b = _UNITS[k % 12], k // 12
    dst = "".join(_ALPHA[(a * i + b) % 26] for i in range(26))
    return _ALPHA + _ALPHA_U, dst + dst.upper()


def generate(spark, src: str, out: str, n_replicas: int, letter_map) -> None:
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table

    os.makedirs(out, exist_ok=True)
    reps = spark.range(n_replicas).select(F.col("id").cast("int").alias("__k"))
    # scale output file counts with the replica factor so the bigger
    # dataset keeps ~the same rows-per-file (scan parallelism grows)
    fanout = max(8, 8 * n_replicas // 10)

    def shift(col: str):
        return (F.col(col) + F.col("__k").cast("long") * KEY_OFFSET).alias(col)

    def write(df, name: str, n_files: int | None = None) -> None:
        tgt = f"{out}/{name}.parquet"
        if os.path.exists(f"{tgt}/_SUCCESS"):
            print(f"  {name}: exists, skipped")
            return
        df.repartition(n_files or fanout).write.mode("overwrite").parquet(tgt)
        print(f"  {name}: written")

    # dims copy through unchanged
    for name in ("region", "nation"):
        write(table(spark, src, name), name, n_files=1)

    cust = table(spark, src, "customer").crossJoin(F.broadcast(reps))
    write(cust.select(shift("c_custkey"), "c_name", "c_nationkey",
                      "c_acctbal", "c_mktsegment"), "customer")

    supp = table(spark, src, "supplier").crossJoin(F.broadcast(reps))
    write(supp.select(shift("s_suppkey"), "s_name", "s_nationkey",
                      "s_acctbal"), "supplier")

    part = table(spark, src, "part").crossJoin(F.broadcast(reps))
    write(part.select(shift("p_partkey"), "p_name", "p_brand", "p_type",
                      "p_size", "p_retailprice"), "part")

    orders = table(spark, src, "orders").crossJoin(F.broadcast(reps))
    write(orders.select(shift("o_orderkey"), shift("o_custkey"),
                        "o_orderstatus", "o_totalprice", "o_orderdate",
                        "o_orderpriority"), "orders")

    li = table(spark, src, "lineitem").crossJoin(F.broadcast(reps))
    write(li.select(shift("l_orderkey"), shift("l_partkey"),
                    shift("l_suppkey"), "l_linenumber", "l_quantity",
                    "l_extendedprice", "l_discount", "l_tax",
                    "l_returnflag", "l_linestatus", "l_shipdate"),
          "lineitem")

    ev = table(spark, src, "events").crossJoin(F.broadcast(reps))
    write(ev.select(shift("event_id"), "ts", shift("user_id"),
                    "event_type", "value", "props"), "events")

    # documents: injective letter permutation per replica (see module
    # docstring) so replicas are not near-duplicates of each other
    docs = table(spark, src, "documents").crossJoin(F.broadcast(reps))
    text = F.col("text")
    permuted = text
    for k in range(n_replicas - 1, 0, -1):
        s, d = letter_map(k)
        permuted = F.when(F.col("__k") == k, F.translate(text, s, d)).otherwise(permuted)
    write(docs.select(shift("doc_id"), permuted.alias("text"), "lang",
                      "source", "n_chars"), "documents")

    # embeddings: rotate dimensions by k (norm-preserving) and flip the
    # sign every EMB_DIM replicas so the wrap can't mint exact dups
    emb = table(spark, src, "embeddings").crossJoin(F.broadcast(reps))
    rolled = F.expr(
        "transform(sequence(0, size(embedding) - 1), "
        "i -> element_at(embedding, int(pmod(i + __k, size(embedding))) + 1)"
        f" * (1 - 2 * (int(__k / {EMB_DIM}) % 2)))"
    ).cast("array<float>")
    write(emb.select(shift("vec_id"), rolled.alias("embedding"), "label"),
          "embeddings")


def _perm_table(k: int) -> str:
    """Full seeded letter permutation for d3 replica ``k``: the affine
    family tops out at 312 distinct maps, so 1000 replicas need the
    full S26 — distinctness is asserted at generation (two replicas
    sharing a map would be exact duplicates of each other and distort
    dedup timings quadratically)."""
    import random

    rng = random.Random(0xD3 + k)
    letters = list(_ALPHA)
    rng.shuffle(letters)
    return "".join(letters)


def generate_d3(spark) -> None:
    """Build .scale/d3: documents + embeddings ONLY (the tables the
    adaptive-LSH operators read), D3_REPLICAS x sf0.1.

    * documents: seeded full letter permutation per replica, applied in
      an Arrow-batched pandas UDF (a 1000-branch translate CASE would
      fight codegen; this is a one-time generation cost).
    * embeddings: rotate dims by k (norm-preserving) AND multiply each
      dim by a per-(k, dim) deterministic sign — signs cancel inside a
      replica (s_i^2 = 1 keeps every within-replica inner product
      exact) while cross-replica cosines scramble, so 1000 replicas
      never mint near-duplicate vectors (the rotation family alone
      wraps at 128 distinct transforms)."""
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table

    os.makedirs(D3, exist_ok=True)
    n = D3_REPLICAS
    perms = [_perm_table(k) for k in range(n)]
    assert len(set(perms)) == n, "replica letter maps must be distinct"
    tables = [str.maketrans(_ALPHA + _ALPHA_U, p + p.upper()) for p in perms]
    reps = spark.range(n).select(F.col("id").cast("int").alias("__k"))

    def shift(col: str):
        return (F.col(col) + F.col("__k").cast("long") * KEY_OFFSET).alias(col)

    tgt = f"{D3}/documents.parquet"
    if not os.path.exists(f"{tgt}/_SUCCESS"):
        docs = (
            table(spark, SF01, "documents")
            .crossJoin(F.broadcast(reps))
            .select(shift("doc_id"), "text", "lang", "source", "n_chars", "__k")
            .repartition(64)
        )
        out_schema = docs.drop("__k").schema

        def permute_batches(batches):
            for pdf in batches:
                pdf = pdf.copy()
                pdf["text"] = [
                    t.translate(tables[int(k)])
                    for t, k in zip(pdf["text"], pdf["__k"])
                ]
                yield pdf.drop(columns="__k")

        docs.mapInPandas(permute_batches, out_schema).write.mode(
            "overwrite"
        ).parquet(tgt)
        print("  documents: written")
    else:
        print("  documents: exists, skipped")

    tgt = f"{D3}/embeddings.parquet"
    if not os.path.exists(f"{tgt}/_SUCCESS"):
        emb = table(spark, SF01, "embeddings").crossJoin(F.broadcast(reps))
        rolled = F.expr(
            "transform(sequence(0, size(embedding) - 1), "
            "i -> element_at(embedding, int(pmod(i + __k, size(embedding))) + 1)"
            " * (1 - 2 * pmod(hash(__k, i), 2)))"
        ).cast("array<float>")
        (
            emb.select(shift("vec_id"), rolled.alias("embedding"), "label")
            .repartition(64)
            .write.mode("overwrite").parquet(tgt)
        )
        print("  embeddings: written")
    else:
        print("  embeddings: exists, skipped")


#: the adaptive-LSH surfaces D3 re-times in their ENGAGED regimes
QUERIES_D3 = (
    "dedup_simhash",
    "dedup_embedding_near",
    # r9 (VERDICT r8 #5): the remaining heavy operators with sf10 rows
    # but no third decade — PPJoin's prefix-filter candidate count and
    # the large-star/small-star round count are the untested claims
    "dedup_ngram_jaccard",
    "dedup_clusters",
)


def _annotate_geometry(spark, result: dict, pairs) -> None:
    """Record which adaptive geometry each scale actually used, so the
    JSON is self-describing about WHICH regime got measured."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.dedup import (
        _emb_lsh_bits,
        _simhash_geometry,
    )

    geo: dict[str, dict] = {}
    for tag, d in pairs:
        n_docs = table(spark, d, "documents").count()
        n_vecs = table(spark, d, "embeddings").count()
        m, c, w, dd = _simhash_geometry(n_docs)
        geo[tag] = {
            "n_docs": n_docs,
            "simhash_lanes_m": m,
            "simhash_chunks_c": c,
            "simhash_chunk_width_w": w,
            "simhash_accept_distance": dd,
            "n_vectors": n_vecs,
            "emb_lsh_bits_k": _emb_lsh_bits(n_vecs),
        }
    result.setdefault("adaptive_geometry", {}).update(geo)


def generate_d3h(spark) -> None:
    """The within-regime half-point: the first 500 replicas of d3
    (2.5M docs / 1M vectors) — still PAST the adaptive thresholds
    (m=2 engages at ~2.1M docs; emb k=15 at 1M vectors), so the
    d3h -> d3 pair isolates within-regime scaling from the one-time
    lane-step cost that dominates the cross-regime sf10 -> d3 decade."""
    from pyspark.sql import functions as F

    os.makedirs(D3H, exist_ok=True)
    cut = (D3_REPLICAS // 2) * KEY_OFFSET
    for name, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        tgt = f"{D3H}/{name}.parquet"
        if os.path.exists(f"{tgt}/_SUCCESS"):
            print(f"  {name}: exists, skipped")
            continue
        (
            spark.read.parquet(f"{D3}/{name}.parquet")
            .filter(F.col(key) < cut)
            .repartition(32)
            .write.mode("overwrite").parquet(tgt)
        )
        print(f"  {name}: written")


D3E = os.path.join(HERE, ".scale", "d3e")


def generate_d3e(spark) -> None:
    """Build .scale/d3e: events ONLY, 10 x sf10 (100M rows, ~2 GB) —
    the third decade for the EVENTS-side write paths (z-order layout,
    skewed-partition compaction), which d3 cannot serve (it carries
    documents+embeddings only).  Keys shift per replica exactly like
    generate_d3's documents so event_id/user_id stay unique/disjoint
    while the user_id skew shape (hash-mod) is preserved per replica."""
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table

    os.makedirs(D3E, exist_ok=True)
    tgt = f"{D3E}/events.parquet"
    if os.path.exists(f"{tgt}/_SUCCESS"):
        print("  d3e events: exists, skipped")
        return
    reps = spark.range(10).select(F.col("id").cast("long").alias("__k"))
    ev = table(spark, SF10, "events").crossJoin(F.broadcast(reps))
    out = ev.select(
        (F.col("event_id") + F.col("__k") * KEY_OFFSET).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("__k") * KEY_OFFSET).alias("user_id"),
        "event_type",
        "value",
        "props",
    ).repartition(128)
    out.write.mode("overwrite").parquet(tgt)
    print("  d3e events: written")


D3C = os.path.join(HERE, ".scale", "d3c")
D3C_N = 2_000_000
D3C_K = 1414  #: floor(sqrt(2M)) — the production fan-out rule at this n


def generate_d3c(spark) -> None:
    """Planted-cluster corpus at d3 scale: 2M vectors in 1,414 Gaussian
    clusters (operators/similarity.generate_clustered_embeddings) — the
    data shape IVF assumes, at the centroid count production IVFADC
    would run.  Resumable via the parquet _SUCCESS marker."""
    if os.path.exists(os.path.join(D3C, "embeddings.parquet", "_SUCCESS")):
        print("  d3c: present, skipped")
        return
    from data_integration_system_spark.operators.similarity import (
        generate_clustered_embeddings,
    )

    t0 = time.perf_counter()
    generate_clustered_embeddings(spark, D3C, D3C_N, D3C_K)
    print(f"  d3c generated in {time.perf_counter() - t0:.1f}s")


TWIN_OFFSET = 900_000_000_000
#: twins planted at the DESIGN cosine the adaptive L targets
TWIN_COS = 0.9
N_TWINS = 200


def plant_twin_corpus(
    spark, src_dir: str, out_dir: str, n: int = N_TWINS, cos: float = TWIN_COS
) -> int:
    """Write ``out_dir/embeddings.parquet`` = the corpus plus ``n``
    planted twins of its first vectors at EXACTLY ``cos`` similarity
    (rotate each unit vector toward a seeded random orthogonal
    direction, preserve the norm).  The synthetic corpus has no pairs
    above ~0.44 cosine, so design-band recall is unmeasurable on it —
    planted twins make the band real at any corpus scale.  Returns the
    number of twins planted; truth = {(vec_id, vec_id + TWIN_OFFSET)}."""
    import numpy as np
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table

    base = table(spark, src_dir, "embeddings")
    sample = base.orderBy("vec_id").limit(n).collect()
    rng = np.random.default_rng(0xD15E)
    twins = []
    for r in sample:
        v = np.asarray(r.embedding, dtype=np.float64)
        nv = float(np.linalg.norm(v))
        if nv == 0:
            continue
        u = v / nv
        g = rng.standard_normal(len(v))
        w = g - (g @ u) * u
        wn = float(np.linalg.norm(w))
        if wn == 0:
            continue
        w /= wn
        t = (cos * u + math.sqrt(1.0 - cos * cos) * w) * nv
        twins.append((int(r.vec_id) + TWIN_OFFSET, [float(x) for x in t], r.label))
    twin_df = spark.createDataFrame(twins, base.schema)
    os.makedirs(out_dir, exist_ok=True)
    base.unionByName(twin_df).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )
    return len(twins)


def planted_twin_recall(spark, d: str) -> dict:
    """Design-band recall at full corpus scale: plant N_TWINS twins at
    TWIN_COS into a temp copy of the corpus, run the operator, count
    the recovered (orig, twin) pairs.  This is the number the adaptive
    L (_emb_lsh_tables) is sized to hold; recall at the 0.3 corpus
    threshold is adversarially low for sign-LSH by theory."""
    import shutil

    from pyspark.sql import functions as F

    from data_integration_system_spark.operators.dedup import dedup_embedding_near

    root = tempfile.mkdtemp(prefix="recall_twins_")
    try:
        n = plant_twin_corpus(spark, d, root)
        got = (
            dedup_embedding_near(spark, root)
            .filter(
                (F.col("vec_b") >= TWIN_OFFSET)
                & (F.col("vec_a") == F.col("vec_b") - TWIN_OFFSET)
            )
            .count()
        )
        return {
            "planted": n,
            "found": got,
            "recall_design_band": round(got / max(1, n), 4),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


class Pair(NamedTuple):
    """One named ``--time`` pair: the (tag, dir) of its small and big
    fixture, the queries timed across them, the JSON file and section
    their rows land in, the data-size ratio between the two fixtures,
    and the query run once on SF01 first so the small side doesn't pay
    JVM startup."""

    sides: tuple[tuple[str, str], tuple[str, str]]
    queries: tuple[str, ...]
    out_file: str
    section: str
    ratio: float
    warm_up: str


PAIRS = {
    "sf0.1-sf1": Pair((("sf0.1", SF01), ("sf1", SF1)), QUERIES,
                      "SCALE_REHEARSAL.json", "queries", 10.0,
                      "multiway_star_join"),
    "sf1-sf10": Pair((("sf1", SF1), ("sf10", SF10)), QUERIES,
                     "SCALE_REHEARSAL_D2.json", "queries", 10.0,
                     "multiway_star_join"),
    "sf10-d3": Pair((("sf10", SF10), ("d3", D3)), QUERIES_D3,
                    "SCALE_REHEARSAL_D3.json", "queries", 10.0,
                    "dedup_simhash"),
    # the within-regime half-point: both sides past the adaptive
    # thresholds, so the slope excludes the one-time lane step
    "d3h-d3": Pair((("d3h", D3H), ("d3", D3)), QUERIES_D3,
                   "SCALE_REHEARSAL_D3.json", "queries_within_regime", 2.0,
                   "dedup_simhash"),
}


def _time_row(sides, run, ratio: float) -> dict:
    """Wall time of ``run(dir)`` on each side of a pair and the scaling
    exponent between them; a failure is recorded as the row's error."""
    row: dict = {}
    try:
        for tag, d in sides:
            t0 = time.perf_counter()
            n = run(d)
            row[tag] = round(time.perf_counter() - t0, 3)
            if n is not None:
                # output rows: linear output across a decade is the cheap
                # witness that the pair/candidate space didn't explode
                row[f"{tag}_rows"] = n
        (small, _), (big, _) = sides
        row["exponent"] = round(
            math.log(row[big] / row[small]) / math.log(ratio), 3
        )
    except Exception as ex:
        row["error"] = f"{type(ex).__name__}: {ex}"[:300]
    return row


def time_pair(spark, name: str) -> None:
    """Time the named pair into its JSON file.  Every other section of
    the file is carried through untouched.  Each row is flushed as soon
    as it is measured, and a re-run skips rows already recorded with an
    exponent, so a long pair survives process timeouts and resumes
    where it left off.  The full-catalog decades also time the three
    index builds; the documents/embeddings-only d3 pairs record the
    adaptive geometry each side ran instead."""
    from data_integration_system_spark.operators.dedup import build_minhash_index
    from data_integration_system_spark.operators.similarity import build_ivf_index
    from data_integration_system_spark.operators.textops import build_fingerprint_index
    from data_integration_system_spark.registry import get_queries

    pair = PAIRS[name]
    path = os.path.join(HERE, pair.out_file)
    result: dict = {}
    if os.path.exists(path):
        with open(path) as fh:
            result = json.load(fh)

    def flush() -> None:
        with open(path + ".tmp", "w") as fh:
            json.dump(result, fh, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)

    def record(rows: dict, key: str, run) -> None:
        if "exponent" in rows.get(key, {}):
            return
        rows[key] = _time_row(pair.sides, run, pair.ratio)
        print(f"  {key}: {rows[key]}")
        flush()

    decade = pair.queries is QUERIES
    if not decade:
        _annotate_geometry(spark, result, pair.sides)
    queries = get_queries()
    queries[pair.warm_up](spark, SF01).count()
    print(f"timing {name} queries")
    rows = result.setdefault(pair.section, {})
    for q in pair.queries:
        record(rows, q, lambda d, fn=queries[q]: fn(spark, d).count())
    if decade:
        print(f"timing {name} index builds")
        builds = result.setdefault("index_build", {})
        for key, build in (
            ("minhash_index_build", build_minhash_index),
            ("ivf_index_build", build_ivf_index),
            ("fingerprint_index_build", build_fingerprint_index),
        ):
            with tempfile.TemporaryDirectory(prefix="scale_idx_") as root:
                record(builds, key, lambda d, fn=build, root=root: fn(
                    spark, d, tempfile.mkdtemp(dir=root) + "/idx"))
    flush()
    print(f"wrote {pair.out_file}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    for flag, what in (
        ("--generate", "build .scale/sf1 (10x sf0.1)"),
        ("--generate-sf10", "build .scale/sf10 (100x sf0.1)"),
        ("--generate-d3", "build .scale/d3 (documents+embeddings, 1000x sf0.1)"),
        ("--generate-d3h", "build .scale/d3h (the first half of d3)"),
        ("--generate-d3e", "build .scale/d3e (events only, 10x sf10)"),
        ("--generate-d3c", "build .scale/d3c (2M-vector planted-cluster corpus)"),
    ):
        ap.add_argument(flag, action="store_true", help=what)
    ap.add_argument("--time", choices=sorted(PAIRS), metavar="PAIR",
                    help="time one named pair: " + ", ".join(PAIRS))
    args = ap.parse_args()

    from data_integration_system_spark.session import get_spark

    spark = get_spark("scale-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")

    if args.generate:
        print("generating", SF1)
        generate(spark, SF01, SF1, 10, _rotation_map)
    if args.generate_sf10:
        print("generating", SF10)
        generate(spark, SF01, SF10, 100, _affine_map)
    if args.generate_d3:
        print("generating", D3)
        generate_d3(spark)
    if args.generate_d3h:
        print("generating", D3H)
        generate_d3h(spark)
    if args.generate_d3e:
        generate_d3e(spark)
    if args.generate_d3c:
        generate_d3c(spark)
    if args.time:
        time_pair(spark, args.time)


if __name__ == "__main__":
    main()

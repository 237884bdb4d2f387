"""Multi-decade scale rehearsal (VERDICT r6 next-round #4, extended).

The 100-TB claims in SCALE.md are plan-shape arguments verified at one
scale point (sf0.1).  This tool adds MEASURED decades: it synthesizes
sf1 (10x sf0.1, ~6M lineitem) and sf10 (100x, ~60M lineitem) by
deterministic replication of the driver's sf0.1 tables, times the
heavy queries and the index builds across each decade, and reports
scaling exponents  e = log(t_big / t_small) / log(10)  — near 1.0 is
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
    python scale_rehearsal.py --generate          # build .scale/sf1
    python scale_rehearsal.py --time              # sf0.1 vs sf1
    python scale_rehearsal.py --generate-sf10     # build .scale/sf10
    python scale_rehearsal.py --time-sf10         # sf1 vs sf10
    python scale_rehearsal.py --generate-d3       # build .scale/d3
    python scale_rehearsal.py --time-d3           # sf10 vs d3 (LSH regimes)
    python scale_rehearsal.py --recall            # LSH recall vs brute force
    python scale_rehearsal.py --time-writes       # write-path decade rows
Writes SCALE_REHEARSAL.json (first decade; --time-writes adds its
"write_paths" section), SCALE_REHEARSAL_D2.json, SCALE_REHEARSAL_D3.json
(documents/embeddings-only third decade — the corpus sizes where the
adaptive LSH geometries ENGAGE: _simhash_geometry switches to m=2 lanes
past ~2M docs and _emb_lsh_bits reaches k=16 at 2M vectors; VERDICT r7
noted the committed D2 simhash row predates the adaptive rewrite, so
the near-linear claim in the engaged regime was unmeasured), and
SCALE_REHEARSAL_RECALL.json (VERDICT r7 #3: the r7 speed fixes traded
candidate count against recall — price the recall at rehearsal scale,
not just the wall clock).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1 = os.path.join(HERE, ".scale", "sf1")
SF10 = os.path.join(HERE, ".scale", "sf10")
D3 = os.path.join(HERE, ".scale", "d3")
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


def time_index_builds(spark, pairs, done: dict | None = None) -> dict:
    import shutil
    import tempfile

    from data_integration_system_spark.operators.dedup import build_minhash_index
    from data_integration_system_spark.operators.similarity import build_ivf_index
    from data_integration_system_spark.operators.textops import build_fingerprint_index

    builds = {
        "minhash_index_build": build_minhash_index,
        "ivf_index_build": build_ivf_index,
        "fingerprint_index_build": build_fingerprint_index,
    }
    out: dict[str, dict] = {}
    for name, fn in builds.items():
        if done and "exponent" in done.get(name, {}):
            out[name] = done[name]  # resume: keep the recorded row
            continue
        row: dict = {}
        try:
            for tag, d in pairs:
                root = tempfile.mkdtemp(prefix="scale_idx_")
                try:
                    t0 = time.perf_counter()
                    fn(spark, d, f"{root}/idx")
                    row[tag] = round(time.perf_counter() - t0, 3)
                finally:
                    shutil.rmtree(root, ignore_errors=True)
            small, big = pairs[0][0], pairs[1][0]
            row["exponent"] = round(
                math.log(row[big] / row[small]) / math.log(10), 3
            )
        except Exception as ex:
            row["error"] = f"{type(ex).__name__}: {ex}"[:300]
        out[name] = row
        print(f"  {name}: {row}")
    return out


def _run_timing(spark, pairs, out_file: str) -> None:
    """Incremental: each completed surface is flushed to ``out_file``
    immediately, and a re-run skips surfaces already recorded with an
    exponent — so a long campaign survives process timeouts and resumes
    where it left off."""
    from data_integration_system_spark.registry import get_queries

    path = os.path.join(HERE, out_file)
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    # warmup so the small scale doesn't pay JVM startup — on the run's
    # own small side, so SPARK_GRAFT_SF_DIR relocations keep working
    get_queries()["multiway_star_join"](spark, pairs[0][1]).count()
    result = dict(prev)  # carry through write_paths etc.
    result.setdefault("queries", {})
    result.setdefault("index_build", {})

    def flush():
        with open(path, "w") as fh:
            json.dump(result, fh, indent=1, sort_keys=True)

    print("timing queries")
    for name in QUERIES:
        got = time_queries_one(spark, pairs, name, result["queries"])
        if got:
            result["queries"][name] = got
            flush()
    print("timing index builds")
    result["index_build"] = time_index_builds(spark, pairs, result["index_build"])
    flush()
    print(f"wrote {out_file}")


def time_queries_one(spark, pairs, name: str, done: dict, ratio: float = 10.0) -> dict | None:
    """Time one query across the pair, or None when already recorded.
    ``ratio`` is the data-size ratio between the pair (10 for the
    decades; 2 for the within-regime half-points)."""
    if "exponent" in done.get(name, {}):
        return None
    from data_integration_system_spark.registry import get_queries

    fn = get_queries()[name]
    row: dict = {}
    try:
        for tag, d in pairs:
            t0 = time.perf_counter()
            n = fn(spark, d).count()
            row[tag] = round(time.perf_counter() - t0, 3)
            # output rows: linear output across a decade is the cheap
            # witness that the pair/candidate space didn't explode
            row[f"{tag}_rows"] = n
        small, big = pairs[0][0], pairs[1][0]
        row["exponent"] = round(
            math.log(row[big] / row[small]) / math.log(ratio), 3
        )
    except Exception as ex:
        row["error"] = f"{type(ex).__name__}: {ex}"[:300]
    print(f"  {name}: {row}")
    return row


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
    result["adaptive_geometry"] = geo


def run_d3_timing(spark) -> None:
    """sf10 vs d3 (a true decade on documents/embeddings): time the two
    adaptive-LSH operators in their engaged regimes, resumable like the
    other decades."""
    from data_integration_system_spark.registry import get_queries

    path = os.path.join(HERE, "SCALE_REHEARSAL_D3.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    pairs = [("sf10", SF10), ("d3", D3)]
    # preserve the OTHER campaign sections (queries_within_regime,
    # index_builds) — rebuilding from just "queries" silently wiped
    # them (caught r9 when --time-d3 dropped the d3h rows)
    result = dict(prev)
    result.setdefault("queries", {})
    _annotate_geometry(spark, result, pairs)
    # warmup on the small side of THIS run
    get_queries()["dedup_simhash"](spark, "/root/testdata/sf0.01").count()
    for name in QUERIES_D3:
        got = time_queries_one(spark, pairs, name, result["queries"])
        if got:
            result["queries"][name] = got
        with open(path, "w") as fh:
            json.dump(result, fh, indent=1, sort_keys=True)
    print("wrote SCALE_REHEARSAL_D3.json")


D3H = os.path.join(HERE, ".scale", "d3h")


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


def run_d3h_timing(spark) -> None:
    """d3h vs d3 (2x, both in the engaged regime): the exponent here is
    the honest within-regime slope; exponent over ratio=2."""
    from data_integration_system_spark.registry import get_queries

    path = os.path.join(HERE, "SCALE_REHEARSAL_D3.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    pairs = [("d3h", D3H), ("d3", D3)]
    result = dict(prev)
    result.setdefault("queries_within_regime", {})
    get_queries()["dedup_simhash"](spark, "/root/testdata/sf0.01").count()
    for name in QUERIES_D3:
        got = time_queries_one(
            spark, pairs, name, result["queries_within_regime"], ratio=2.0
        )
        if got:
            result["queries_within_regime"][name] = got
        with open(path, "w") as fh:
            json.dump(result, fh, indent=1, sort_keys=True)
    print("updated SCALE_REHEARSAL_D3.json queries_within_regime")


#: planted twin ids live far above every replica's key range
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
    L (_emb_lsh_tables) is sized to hold — the corpus-threshold recall
    in measure_recall prices the adversarially-low 0.3 band instead."""
    import shutil
    import tempfile

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


def measure_recall_embedding(spark, d: str) -> dict:
    """Embedding-LSH blocking recall vs brute force on the replica-0
    stratum (the original sf0.1 rows, present verbatim at every
    rehearsal scale, so truth is comparable while the OPERATOR runs at
    full-corpus geometry — exactly the question: what did the adaptive
    k/geometry cost at this n?).

    Truth = all stratum pairs at cosine >= 0.3 (the operator's own
    threshold + rounding); recall reported overall AND on the cosine
    >= 0.8 band (the near-dup band a production pipeline actually acts
    on — the 0.3 corpus threshold is adversarially low for sign-LSH,
    see test_embedding_lsh_recall_floor)."""
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.functions.vectors import cosine
    from data_integration_system_spark.operators.dedup import (
        _emb_lsh_bits,
        _emb_lsh_tables,
        dedup_embedding_near,
    )

    row: dict[str, dict] = {}

    emb = table(spark, d, "embeddings")
    n_vec = emb.count()
    strat = emb.filter(F.col("vec_id") < KEY_OFFSET).localCheckpoint()
    a = strat.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = strat.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    truth_rows = (
        a.join(b, F.col("va") < F.col("vb"))
        .select("va", "vb", F.round(cosine("ea", "eb"), 4).alias("c"))
        .filter(F.col("c") >= 0.3)
        .collect()
    )
    got = {
        (r.vec_a, r.vec_b)
        for r in dedup_embedding_near(spark, d)
        .filter((F.col("vec_a") < KEY_OFFSET) & (F.col("vec_b") < KEY_OFFSET))
        .collect()
    }
    want = {(r.va, r.vb) for r in truth_rows}
    want_hi = {(r.va, r.vb) for r in truth_rows if r.c >= 0.8}
    row["embedding"] = {
        "n_vectors": n_vec,
        "k_bits": _emb_lsh_bits(n_vec),
        "tables_L": _emb_lsh_tables(_emb_lsh_bits(n_vec)),
        "truth_pairs": len(want),
        "recall": round(len(want & got) / max(1, len(want)), 4),
        "truth_pairs_cos80": len(want_hi),
        "recall_cos80": round(len(want_hi & got) / max(1, len(want_hi)), 4),
    }
    row["embedding"].update(planted_twin_recall(spark, d))
    print(f"  embedding @{d}: {row['embedding']}")
    return row["embedding"]


def measure_recall_simhash(spark, d: str) -> dict:
    """Simhash blocking recall vs brute force on (half of) the
    replica-0 stratum: truth = all stratum pairs at Hamming <= D over
    the same signatures the operator uses; the pigeonhole guarantee
    makes blocking exact, so anything below 1.0 is the hot-bucket
    cap's doing (priced here, not assumed)."""
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators._common import parallelize_scan
    from data_integration_system_spark.operators.dedup import (
        _simhash_geometry,
        _simhash_signatures,
        dedup_simhash,
    )

    row: dict[str, dict] = {}

    docs = table(spark, d, "documents")
    n_docs = docs.count()
    m, c, w, dd = _simhash_geometry(n_docs)
    # half the stratum (~2.5k docs, ~3M brute-force pairs) keeps the
    # truth join tractable at every scale
    sd = docs.filter(
        (F.col("doc_id") < KEY_OFFSET) & (F.col("doc_id") % 2 == 0)
    )
    sigs = _simhash_signatures(parallelize_scan(sd), m, c * w)
    sa = sigs.select(F.col("doc_id").alias("da"), F.col("bits").alias("ba"))
    sb = sigs.select(F.col("doc_id").alias("db"), F.col("bits").alias("bb"))
    ham = F.aggregate(
        F.zip_with("ba", "bb", lambda x, y: F.when(x != y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    truth = {
        (r.da, r.db)
        for r in sa.join(sb, F.col("da") < F.col("db"))
        .select("da", "db", ham.alias("h"))
        .filter(F.col("h") <= dd)
        .collect()
    }
    got_s = {
        (r.doc_a, r.doc_b)
        for r in dedup_simhash(spark, d)
        .filter(
            (F.col("doc_a") < KEY_OFFSET)
            & (F.col("doc_b") < KEY_OFFSET)
            & (F.col("doc_a") % 2 == 0)
            & (F.col("doc_b") % 2 == 0)
        )
        .collect()
    }
    row["simhash"] = {
        "n_docs": n_docs,
        "lanes_m": m,
        "truth_pairs": len(truth),
        "recall": round(len(truth & got_s) / max(1, len(truth)), 4),
    }
    print(f"  simhash @{d}: {row['simhash']}")
    return row["simhash"]


def run_recall(spark) -> None:
    """Resumable at COMPONENT granularity: the d3 embedding pass alone
    runs >1h, so each (tag, component) flushes to the JSON the moment
    it lands and a killed campaign re-runs only what is missing."""
    path = os.path.join(HERE, "SCALE_REHEARSAL_RECALL.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}

    def _flush() -> None:
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)

    parts = (
        ("embedding", measure_recall_embedding),
        ("simhash", measure_recall_simhash),
    )
    for tag, d in (("sf1", SF1), ("sf10", SF10), ("d3", D3)):
        row = prev.get(tag) or {}
        if all(part in row for part, _ in parts):
            print(f"  {tag}: recorded, skipped")
            continue
        if not os.path.exists(d):
            print(f"  {tag}: no data at {d}, skipped")
            continue
        prev[tag] = row
        for part, fn in parts:
            if part in row:
                print(f"  {tag}/{part}: recorded, skipped")
                continue
            row[part] = fn(spark, d)
            _flush()
    print("wrote SCALE_REHEARSAL_RECALL.json")


def time_write_paths(spark, pairs, done: dict | None = None) -> dict:
    """Decade rows for the WRITE paths (VERDICT r7 #6): the composed
    release pipeline, selective partition compaction on a skewed
    64-partition store, and both lake-layout builds.  File counts scale
    with the data so each scale writes ~constant rows-per-file (the
    knob a real deployment turns with volume)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.pipeline.curate import release_corpus
    from data_integration_system_spark.pipeline.layout import (
        compact_partitions,
        write_clustered,
        write_zordered,
    )
    from data_integration_system_spark.pipeline.snapshots import write_snapshot

    def t_release(d: str) -> float:
        root = tempfile.mkdtemp(prefix="scale_rel_")
        try:
            t0 = time.perf_counter()
            release_corpus(
                spark, d, f"{root}/corpus", export_path=f"{root}/export",
                split_weights={"train": 9800, "val": 100, "test": 100},
            ).collect()
            return time.perf_counter() - t0
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def t_hash_layout(d: str) -> float:
        root = tempfile.mkdtemp(prefix="scale_lay_")
        try:
            docs = table(spark, d, "documents").select(
                "doc_id", F.md5(F.encode("text", "UTF-8")).alias("content_hash")
            )
            n_files = max(4, docs.count() // 12_500)
            t0 = time.perf_counter()
            write_clustered(
                docs, f"{root}/by_hash", ["doc_id"], n_files=n_files,
                bloom_cols=["content_hash"],
            )
            return time.perf_counter() - t0
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def t_zorder_layout(d: str) -> float:
        root = tempfile.mkdtemp(prefix="scale_zo_")
        try:
            ev = table(spark, d, "events").select("event_id", "user_id", "value")
            n_files = max(4, ev.count() // 250_000)
            t0 = time.perf_counter()
            write_zordered(
                ev, f"{root}/by_uv", "user_id", "value",
                n_files=n_files, rowgroup_bytes=128 * 1024,
            )
            return time.perf_counter() - t0
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def t_compact(d: str) -> float:
        # skewed store: 64 hive partitions, the largest holding ~17x an
        # average one (hash mod 80 capped at 63); a 256-way pre-spread
        # fragments every partition so the rewrite plan touches all of
        # them — the claimed bound is "wall ~ largest partition", which
        # only shows up when partitions genuinely differ in size
        root = tempfile.mkdtemp(prefix="scale_cmp_")
        try:
            ev = table(spark, d, "events").withColumn(
                "pk", F.least(F.pmod(F.hash("user_id"), F.lit(80)), F.lit(63))
            )
            write_snapshot(ev.repartition(256), f"{root}/store", partition_by="pk")
            t0 = time.perf_counter()
            rep = compact_partitions(
                spark, f"{root}/store", target_file_bytes=32 * 1024 * 1024
            )
            dt = time.perf_counter() - t0
            assert rep["compacted"], "rehearsal store must need compaction"
            return dt
        finally:
            shutil.rmtree(root, ignore_errors=True)

    surfaces = {
        "release_corpus": t_release,
        "hash_layout_build": t_hash_layout,
        "zorder_layout_build": t_zorder_layout,
        "compact_partitions_repair": t_compact,
    }
    out: dict[str, dict] = {}
    for name, fn in surfaces.items():
        if done and "exponent" in done.get(name, {}):
            out[name] = done[name]
            continue
        row: dict = {}
        try:
            for tag, d in pairs:
                row[tag] = round(fn(d), 3)
            small, big = pairs[0][0], pairs[1][0]
            row["exponent"] = round(
                math.log(row[big] / row[small]) / math.log(10), 3
            )
        except Exception as ex:
            row["error"] = f"{type(ex).__name__}: {ex}"[:300]
        out[name] = row
        print(f"  {name}: {row}")
    return out


def run_write_timing(spark) -> None:
    path = os.path.join(HERE, "SCALE_REHEARSAL.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    pairs = [("sf0.1", SF01), ("sf1", SF1)]
    prev["write_paths"] = time_write_paths(
        spark, pairs, prev.get("write_paths", {})
    )
    with open(path, "w") as fh:
        json.dump(prev, fh, indent=1, sort_keys=True)
    print("updated SCALE_REHEARSAL.json write_paths")


def run_write_timing_d2(spark) -> None:
    """Decade-2 write rows (VERDICT r8 #6): the decade-1 write paths
    were overhead-dominated (e ~ 0.0-0.17) — release at 500k docs and
    the skewed-partition repair at 10x the bytes is where the
    data-dominated regime should begin."""
    path = os.path.join(HERE, "SCALE_REHEARSAL.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    pairs = [("sf1", SF1), ("sf10", SF10)]
    prev["write_paths_d2"] = time_write_paths(
        spark, pairs, prev.get("write_paths_d2", {})
    )
    with open(path, "w") as fh:
        json.dump(prev, fh, indent=1, sort_keys=True)
    print("updated SCALE_REHEARSAL.json write_paths_d2")


def run_write_timing_d3(spark) -> None:
    """Decade-3 write rows for the DOCUMENT-side write paths (d3 has
    documents+embeddings only, so the events-side surfaces — z-order,
    compaction — stop at decade 2): release at 5M docs is where the
    decade-2 verdict 'fixed costs dominate through 500k docs' gets its
    falsification shot."""
    path = os.path.join(HERE, "SCALE_REHEARSAL.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    pairs = [("sf10", SF10), ("d3", D3)]
    done = dict(prev.get("write_paths_d3", {}))
    # mask the events-side surfaces UP FRONT so time_write_paths never
    # attempts them (ADVICE r9: the old post-hoc error filter paid the
    # full sf10 timing cost before erroring at d3, and left no record
    # of the skip — the d3e masking pattern is the right one)
    masked = {"zorder_layout_build", "compact_partitions_repair"}
    for name in masked:
        done.setdefault(name, {"exponent": None, "skipped": "no events at d3"})
    full = time_write_paths(spark, pairs, done)
    prev["write_paths_d3"] = {k: v for k, v in full.items() if k not in masked}
    with open(path, "w") as fh:
        json.dump(prev, fh, indent=1, sort_keys=True)
    print("updated SCALE_REHEARSAL.json write_paths_d3")


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


def run_write_timing_d3e(spark) -> None:
    """Decade-3 rows for the EVENTS-side write paths (sf10 vs d3e):
    z-order layout build and the skewed-partition compaction repair —
    the two surfaces whose decade-2 verdict was 'fixed costs rule
    through 60M events'."""
    path = os.path.join(HERE, "SCALE_REHEARSAL.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    done = dict(prev.get("write_paths_d3e", {}))
    # mask the document-side surfaces so time_write_paths skips them
    # (d3e carries no documents table)
    masked = {"release_corpus", "hash_layout_build"}
    for name in masked:
        done.setdefault(name, {"exponent": None, "skipped": "no documents at d3e"})
    full = time_write_paths(spark, [("sf10", SF10), ("d3e", D3E)], done)
    prev["write_paths_d3e"] = {k: v for k, v in full.items() if k not in masked}
    with open(path, "w") as fh:
        json.dump(prev, fh, indent=1, sort_keys=True)
    print("updated SCALE_REHEARSAL.json write_paths_d3e")


def run_index_build_timing(spark) -> None:
    """Third-decade rows for the three materialized-index BUILDS
    (VERDICT r8 #5): minhash LSH bands, IVF centroids+assignments, and
    winnowing fingerprints, each built to a temp dir at sf10 then d3.
    Build = the one-time write path whose exponent says whether the
    index keeps being buildable as the corpus grows."""
    import shutil
    import tempfile

    from data_integration_system_spark.operators.dedup import build_minhash_index
    from data_integration_system_spark.operators.similarity import build_ivf_index
    from data_integration_system_spark.operators.textops import (
        build_fingerprint_index,
    )

    path = os.path.join(HERE, "SCALE_REHEARSAL_D3.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    done = prev.get("index_builds", {})
    pairs = [("sf10", SF10), ("d3", D3)]
    builders = {
        "minhash_index_build": build_minhash_index,
        "ivf_index_build": build_ivf_index,
        "fingerprint_index_build": build_fingerprint_index,
    }
    for name, build in builders.items():
        if "exponent" in done.get(name, {}):
            print(f"  {name}: recorded, skipped")
            continue
        row: dict = {}
        try:
            for tag, d in pairs:
                root = tempfile.mkdtemp(prefix="scale_idx_")
                try:
                    t0 = time.perf_counter()
                    build(spark, d, f"{root}/idx")
                    row[tag] = round(time.perf_counter() - t0, 3)
                finally:
                    shutil.rmtree(root, ignore_errors=True)
            row["exponent"] = round(
                math.log(row["d3"] / row["sf10"]) / math.log(10), 3
            )
        except Exception as ex:
            row["error"] = f"{type(ex).__name__}: {ex}"[:300]
        done[name] = row
        prev["index_builds"] = done
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)
        print(f"  {name}: {row}")
    print("updated SCALE_REHEARSAL_D3.json index_builds")


_CRAWL_BRANCH = 8
_CRAWL_DOMAINS = 64


def _crawl_url_of(i: int) -> str:
    return f"http://site{i % _CRAWL_DOMAINS}.test/p{i}"


def _crawl_site_fetch(n_pages: int, fail_from: int | None = None):
    """Synthetic-site FetchFn: page i links to its ``_CRAWL_BRANCH``
    children in an n_pages-node tree spread across ``_CRAWL_DOMAINS``
    domains (so the crawl's domain repartition actually fans out).
    ``fail_from`` injects a mid-crawl kill: fetching any page >= it
    raises, failing the generation's Spark job exactly like an executor
    crash — the resume-from-kill scenario."""

    def fetch(url: str):
        i = int(url.rsplit("p", 1)[1])
        if fail_from is not None and i >= fail_from:
            raise RuntimeError("injected mid-crawl kill")
        lo = i * _CRAWL_BRANCH + 1
        kids = range(lo, min(lo + _CRAWL_BRANCH, n_pages))
        links = "".join(f'<a href="{_crawl_url_of(k)}">k</a>' for k in kids)
        body = f"<html><body><p>page {i} {'w ' * 30}</p>{links}</body></html>"
        return body.encode(), "text/html"

    return fetch


def _crawl_cfg(n_pages: int):
    from data_integration_system_spark.pipeline.crawl import CrawlConfig

    return CrawlConfig(
        root_domain="site0.test",
        same_domain_only=False,  # the synthetic site spans 64 domains
        max_depth=64,
        max_pages_total=n_pages + 1,
        max_retries=0,  # injected kills must fail the job, not retry-loop
    )


def run_crawl_timing(spark) -> None:
    """Decade rows for the crawl WRITE path (VERDICT r9 #5 — the last
    library write surface with no scale row): the generation-
    checkpointed durable-frontier BFS (pipeline/crawl.py) over a
    synthetic in-process site at 20k / 200k / 2M pages (10x / 100x),
    plus a kill-and-resume at the middle scale.  Wall includes every
    per-generation commit (pages, frontier, visited, state) — the
    durable-frontier tax is exactly what this row prices."""
    import shutil
    import tempfile

    from data_integration_system_spark.pipeline.crawl import crawl

    path = os.path.join(HERE, "SCALE_REHEARSAL.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    section = dict(prev.get("crawl", {}))

    def flush() -> None:
        prev["crawl"] = section
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)

    legs = [("d1_20k", 20_000), ("d2_200k", 200_000), ("d3_2m", 2_000_000)]
    for tag, n in legs:
        if "wall_sec" in section.get(tag, {}):
            print(f"  crawl {tag}: recorded, skipped")
            continue
        root = tempfile.mkdtemp(prefix=f"scale_crawl_{tag}_")
        try:
            t0 = time.perf_counter()
            pages = crawl(
                spark, [_crawl_url_of(0)], _crawl_cfg(n),
                _crawl_site_fetch(n), checkpoint_dir=f"{root}/ckpt",
            )
            n_pages = pages.count()
            row = {
                "wall_sec": round(time.perf_counter() - t0, 3),
                "n_pages": n_pages,
                "generations": len(
                    [d for d in os.listdir(f"{root}/ckpt/pages")]
                ),
            }
            section[tag] = row
            print(f"  crawl {tag}: {row}")
            flush()
        finally:
            shutil.rmtree(root, ignore_errors=True)
    for a, b in (("d1_20k", "d2_200k"), ("d2_200k", "d3_2m")):
        if "wall_sec" in section.get(a, {}) and "wall_sec" in section.get(b, {}):
            section[b]["exponent_vs_prev"] = round(
                math.log(section[b]["wall_sec"] / section[a]["wall_sec"])
                / math.log(10), 3,
            )
    flush()

    # kill-and-resume at the middle scale: gens 0..5 commit (37k pages),
    # the kill lands mid-generation-6, resume finishes from the last
    # committed state and the page count must match the clean run
    tag, n = "resume_200k", 200_000
    if "resume_wall_sec" not in section.get(tag, {}):
        root = tempfile.mkdtemp(prefix="scale_crawl_resume_")
        try:
            row = {}
            t0 = time.perf_counter()
            try:
                crawl(
                    spark, [_crawl_url_of(0)], _crawl_cfg(n),
                    _crawl_site_fetch(n, fail_from=100_000),
                    checkpoint_dir=f"{root}/ckpt",
                )
                raise AssertionError("injected kill did not fire")
            except AssertionError:
                # ADVICE r10 (low): the guard used to sit inside the
                # broad except, so a NON-firing kill silently recorded
                # a bogus kill time — re-raise it past the swallow.
                raise
            except Exception:
                row["killed_after_sec"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            pages = crawl(
                spark, [_crawl_url_of(0)], _crawl_cfg(n),
                _crawl_site_fetch(n), checkpoint_dir=f"{root}/ckpt",
                resume=True,
            )
            row["resumed_n_pages"] = pages.count()
            row["resume_wall_sec"] = round(time.perf_counter() - t0, 3)
            row["pages_match_clean"] = (
                row["resumed_n_pages"] == section.get("d2_200k", {}).get("n_pages")
            )
            section[tag] = row
            print(f"  crawl {tag}: {row}")
            flush()
        finally:
            shutil.rmtree(root, ignore_errors=True)
    print("updated SCALE_REHEARSAL.json crawl")


def run_streaming_timing(spark) -> None:
    """Decade rows for the streaming MACHINERY surfaces (r10): the four
    driver-gated snapshots that exercise real stateful execution —
    built-in tumbling aggregation, merging session windows, the
    applyInPandasWithState EWMA recurrence, and the stream-stream
    interval join — each replayed end-to-end at sf0.1 then sf1 (10x
    events).  The exponent separates per-trigger fixed cost (checkpoint
    dirs, 3 triggers, ledger writes) from state/shuffle growth."""
    from data_integration_system_spark.registry import get_queries

    qs = get_queries()
    names = [
        "streaming_tumbling_counts_snapshot",
        "streaming_session_windows_snapshot",
        "streaming_user_ewma_snapshot",
        "streaming_funnel_pairs_snapshot",
    ]
    path = os.path.join(HERE, "SCALE_REHEARSAL.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    section = dict(prev.get("streaming", {}))
    for name in names:
        row = dict(section.get(name, {}))
        if "exponent" in row:
            print(f"  {name}: recorded, skipped")
            continue
        try:
            for tag, d in (("sf0.1", SF01), ("sf1", SF1)):
                if tag in row:
                    continue
                t0 = time.perf_counter()
                n = qs[name](spark, d).count()
                row[tag] = round(time.perf_counter() - t0, 3)
                row[f"{tag}_rows"] = n
            row["exponent"] = round(
                math.log(row["sf1"] / row["sf0.1"]) / math.log(10), 3
            )
        except Exception as ex:
            row["error"] = f"{type(ex).__name__}: {ex}"[:300]
        section[name] = row
        prev["streaming"] = section
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)
        print(f"  {name}: {row}")
    print("updated SCALE_REHEARSAL.json streaming")


def run_streaming_timing_d2(spark) -> None:
    """SECOND streaming decade (VERDICT r10 #7): sf1 vs sf10 (100x the
    driver scale) for the two surfaces where data, not per-trigger
    overhead, is the visible cost — the applyInPandasWithState EWMA
    (first-decade data term 0.455) and the stream-stream interval join
    (pair-output-heavy).  Confirms the claim that per-trigger overhead
    amortizes and state stays bounded where data actually dominates.
    The EWMA row includes its fixture's global ts-order ntile sort
    (single-task by construction — the replay-order contract), which is
    fixture cost, not machinery cost; the machinery signal is that the
    exponent stays ~<= 1.

    The sf10 EWMA replay legitimately exceeds the snapshots' 600 s
    driver-scale drain guard (the r11 first attempt hit it), so the
    campaign raises SPARK_GRAFT_STREAM_DRAIN_S for its own process."""
    os.environ.setdefault("SPARK_GRAFT_STREAM_DRAIN_S", "5400")
    from data_integration_system_spark.registry import get_queries

    qs = get_queries()
    names = [
        "streaming_user_ewma_snapshot",
        "streaming_funnel_pairs_snapshot",
    ]
    path = os.path.join(HERE, "SCALE_REHEARSAL.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    section = dict(prev.get("streaming_d2", {}))
    for name in names:
        row = dict(section.get(name, {}))
        if "exponent" in row:
            print(f"  {name}: recorded, skipped")
            continue
        row.pop("error", None)  # a retried leg must not keep a stale error
        try:
            for tag, d in (("sf1", SF1), ("sf10", SF10)):
                if tag in row:
                    continue
                t0 = time.perf_counter()
                n = qs[name](spark, d).count()
                row[tag] = round(time.perf_counter() - t0, 3)
                row[f"{tag}_rows"] = n
            row["exponent"] = round(
                math.log(row["sf10"] / row["sf1"]) / math.log(10), 3
            )
        except Exception as ex:
            row["error"] = f"{type(ex).__name__}: {ex}"[:300]
        section[name] = row
        prev["streaming_d2"] = section
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)
        print(f"  {name}: {row}")
    print("updated SCALE_REHEARSAL.json streaming_d2")


def run_tokenize_timing(spark) -> None:
    """Decade rows for the tokenizer-exact counting pass (r10,
    operators/tokenize.py): per-doc counts + per-source budget rollup
    on the regex tier at sf10 (~500k docs) and d3 (5M docs).  The pass
    is an Arrow-batched CPU map at scan parallelism — the expected
    shape is ~linear in corpus bytes with negligible shuffle (the
    rollup joins the narrow count grain only)."""
    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.tokenize import (
        regex_tokenizer,
        token_budget_report,
        token_counts,
    )

    path = os.path.join(HERE, "SCALE_REHEARSAL_D3.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    section = dict(prev.get("tokenize", {}))
    for tag, d in (("sf10", SF10), ("d3", D3)):
        if tag in section:
            print(f"  tokenize {tag}: recorded, skipped")
            continue
        docs = table(spark, d, "documents")
        t0 = time.perf_counter()
        counts = token_counts(docs, tokenizer_factory=regex_tokenizer, spread=True)
        n = token_budget_report(counts, docs, by="source").count()
        section[tag] = {"wall_sec": round(time.perf_counter() - t0, 3), "groups": n}
        print(f"  tokenize {tag}: {section[tag]}")
    if "sf10" in section and "d3" in section:
        section["exponent"] = round(
            math.log(section["d3"]["wall_sec"] / section["sf10"]["wall_sec"])
            / math.log(10), 3,
        )
    prev["tokenize"] = section
    with open(path, "w") as fh:
        json.dump(prev, fh, indent=1, sort_keys=True)
    print("updated SCALE_REHEARSAL_D3.json tokenize")


def run_retime_minhash_build(spark, tag: str) -> None:
    """Separate-process re-time of ONE leg of the minhash index build
    (VERDICT r9 #1): the recorded d3 exponent 1.122 came from a paired
    session, and both r9 same-session artifacts (ivf 1.311→0.622,
    clusters 1.84→1.01) biased UPWARD — so each scale is re-timed in
    its OWN process (`python scale_rehearsal.py --retime-minhash-build
    sf10` then, in a fresh process, `... d3`).  Rows land under
    ``index_builds_retime`` with a method note; the exponent is
    computed once both legs exist."""
    import shutil
    import tempfile

    from data_integration_system_spark.operators.dedup import build_minhash_index

    path = os.path.join(HERE, "SCALE_REHEARSAL_D3.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    section = dict(prev.get("index_builds_retime", {}))
    row = dict(
        section.get(
            "minhash_index_build",
            {"method": "one scale per process, fresh JVM (anti paired-session bias)"},
        )
    )
    d = {"sf10": SF10, "d3": D3}[tag]
    root = tempfile.mkdtemp(prefix="scale_idx_rt_")
    try:
        t0 = time.perf_counter()
        build_minhash_index(spark, d, f"{root}/idx")
        row[tag] = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if "sf10" in row and "d3" in row:
        row["exponent"] = round(math.log(row["d3"] / row["sf10"]) / math.log(10), 3)
    section["minhash_index_build"] = row
    prev["index_builds_retime"] = section
    with open(path, "w") as fh:
        json.dump(prev, fh, indent=1, sort_keys=True)
    print(f"  minhash_index_build retime: {row}")


def run_online_sink_cadence(spark) -> None:
    """r15 (VERDICT r14 #8): per-micro-batch cost of the minhash /
    fingerprint ONLINE sinks at a D3-SCALE index (5M docs) — the
    24/7-serving cadence question their r11 sf0.1 rows left open.  For
    each tier: build (or resume) the index over .scale/d3, then drive
    the sink's foreachBatch callable directly with 3 batches of 400
    re-ingested docs (shifted ids, identical text — guaranteed matches,
    output bounded by top_k / min_shared), timing append, probe, and
    total per batch.  Rows land in SCALE_REHEARSAL_D3.json under
    ``online_sink_cadence_d3``; a tier already recorded is skipped
    (resume contract).  Needs the 48g campaign env
    (SPARK_GRAFT_DRIVER_MEM=48g SPARK_GRAFT_SHUFFLE_PARTITIONS=128)."""
    import glob as _glob

    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.dedup import build_minhash_index
    from data_integration_system_spark.operators.textops import (
        build_fingerprint_index,
    )
    from data_integration_system_spark.streaming.jobs import (
        fingerprint_overlap_sink,
        near_dup_sink,
    )

    path = os.path.join(HERE, "SCALE_REHEARSAL_D3.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    section = dict(prev.get("online_sink_cadence_d3", {}))

    def flush() -> None:
        prev["online_sink_cadence_d3"] = section
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)

    docs = table(spark, D3, "documents")
    n_docs = docs.count()

    def batches(n_batches: int = 3, per_batch: int = 400):
        from data_integration_system_spark.operators._common import local_rows_df

        base = docs.orderBy("doc_id").limit(n_batches * per_batch).collect()
        for b in range(n_batches):
            rows = [
                (int(r.doc_id) + 9_000_000_000_000 + b * 1_000_000, r.text)
                for r in base[b * per_batch:(b + 1) * per_batch]
            ]
            yield local_rows_df(spark, rows, "doc_id long, text string")

    tiers = {
        "minhash_near_dup_sink": {
            "idx_rel": "bands",
            "idx": os.path.join(HERE, ".scale", "d3_minhash_online"),
            "build": lambda idx: build_minhash_index(spark, D3, idx),
            "sink": lambda idx, pairs: near_dup_sink(
                spark, idx, pairs, top_k_neighbors=4
            ),
        },
        "fingerprint_overlap_sink": {
            "idx_rel": "fps",
            "idx": os.path.join(HERE, ".scale", "d3_fp_online"),
            "build": lambda idx: build_fingerprint_index(spark, D3, idx),
            "sink": lambda idx, pairs: fingerprint_overlap_sink(
                spark, idx, pairs
            ),
        },
    }
    import shutil
    import tempfile

    for tier, spec in tiers.items():
        if tier in section:
            print(f"  {tier}: already recorded, skipping")
            continue
        idx = spec["idx"]
        rel_root = os.path.join(idx, spec["idx_rel"])
        row: dict = {"corpus_docs": int(n_docs), "batch_docs": 400}
        if not _glob.glob(os.path.join(rel_root, "**", "_SUCCESS")) and not (
            os.path.exists(os.path.join(rel_root, "_SUCCESS"))
        ):
            t0 = time.perf_counter()
            spec["build"](idx)
            row["build_sec"] = round(time.perf_counter() - t0, 3)
        row["index_files"] = len(
            _glob.glob(f"{rel_root}/**/*.parquet", recursive=True)
        )
        pairs = tempfile.mkdtemp(prefix=f"online_{tier}_") + "/pairs"
        apply = spec["sink"](idx, pairs)
        walls = []
        for i, batch in enumerate(batches()):
            t0 = time.perf_counter()
            apply(batch, i)
            walls.append(round(time.perf_counter() - t0, 3))
        row["batch_walls_sec"] = walls
        row["pairs_emitted"] = int(spark.read.parquet(pairs).count())
        shutil.rmtree(os.path.dirname(pairs), ignore_errors=True)
        section[tier] = row
        flush()
        print(f"  {tier}: {row}")


def run_online_sink_batchsize(spark) -> None:
    """r16 (VERDICT r15 #7): the online minhash sink's BATCH-SIZE lever
    at the 5M-doc index.  The r15 cadence rows showed the per-batch
    machinery floor dominating at 400-doc triggers (~15 s steady,
    ~37 ms/doc); this scales the trigger 400 → 4k → 40k docs on the
    SAME index so the 24/7 operating point (docs/s vs batch latency)
    is a measured curve, not a point.  Two batches per size — the
    second is the steady-state number (the first carries plan/JVM
    warmup).  Section ``online_sink_batchsize_d3`` in
    SCALE_REHEARSAL_D3.json; resumes per size.  Needs the 48g campaign
    env."""
    import shutil
    import tempfile

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators._common import local_rows_df
    from data_integration_system_spark.streaming.jobs import near_dup_sink

    path = os.path.join(HERE, "SCALE_REHEARSAL_D3.json")
    with open(path) as fh:
        prev = json.load(fh)
    prev = dict(prev)
    section = dict(prev.get("online_sink_batchsize_d3", {}))

    def flush() -> None:
        prev["online_sink_batchsize_d3"] = section
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)

    docs = table(spark, D3, "documents")
    idx = os.path.join(HERE, ".scale", "d3_minhash_online")
    for per_batch in (400, 4_000, 40_000):
        key = f"minhash_batch{per_batch}"
        if key in section:
            print(f"  {key}: already recorded, skipping")
            continue
        base = docs.orderBy("doc_id").limit(2 * per_batch).collect()
        pairs = tempfile.mkdtemp(prefix=f"sinkbs_{per_batch}_") + "/pairs"
        apply = near_dup_sink(spark, idx, pairs, top_k_neighbors=4)
        walls = []
        for b in range(2):
            rows = [
                # fresh id range per (size, batch): no collisions with
                # the r15 cadence appends living in the same index
                (int(r.doc_id) + 9_500_000_000_000
                 + per_batch * 100 + b * 1_000_000, r.text)
                for r in base[b * per_batch:(b + 1) * per_batch]
            ]
            batch = local_rows_df(spark, rows, "doc_id long, text string")
            t0 = time.perf_counter()
            apply(batch, b)
            walls.append(round(time.perf_counter() - t0, 3))
        section[key] = {
            "batch_docs": per_batch,
            "batch_walls_sec": walls,
            "steady_ms_per_doc": round(walls[-1] * 1000 / per_batch, 2),
            "steady_docs_per_sec": round(per_batch / walls[-1], 1),
            "pairs_emitted": int(spark.read.parquet(pairs).count()),
        }
        shutil.rmtree(os.path.dirname(pairs), ignore_errors=True)
        flush()
        print(f"  {key}: {section[key]}")


def run_online_sink_geometry(spark) -> None:
    """r15 follow-up to --online-sink-cadence: the per-batch probe cost
    at 5M docs is dominated by how much of the bands relation the
    batch's probe buckets cover — 400 docs × 8 bands over 256 fixed
    buckets covers ~all of them, so the probe SCAN tracks corpus size
    (the r8 geometry rule, resurfacing at the index tier: bucket count
    must scale with data).  Quantify both levers on the minhash sink:
    batch size (400 vs 40 docs) × bucket count (256 — the existing
    cadence index — vs 4096).  Rows land under
    ``online_sink_geometry_d3`` (resume: recorded rows are skipped)."""
    from data_integration_system_spark.operators._common import local_rows_df
    from data_integration_system_spark.operators.dedup import build_minhash_index
    from data_integration_system_spark.streaming.jobs import near_dup_sink

    path = os.path.join(HERE, "SCALE_REHEARSAL_D3.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    section = dict(prev.get("online_sink_geometry_d3", {}))

    def flush() -> None:
        prev["online_sink_geometry_d3"] = section
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)

    from data_integration_system_spark.catalog import table

    docs = table(spark, D3, "documents")
    base = docs.orderBy("doc_id").limit(1200).collect()

    def batch_df(per_batch: int, b: int, id_base: int):
        rows = [
            (int(r.doc_id) + id_base + b * 1_000_000, r.text)
            for r in base[b * per_batch:(b + 1) * per_batch]
        ]
        return local_rows_df(spark, rows, "doc_id long, text string")

    import glob as _glob
    import shutil
    import tempfile

    idx256 = os.path.join(HERE, ".scale", "d3_minhash_online")
    idx4k = os.path.join(HERE, ".scale", "d3_minhash_online4k")
    cases = {
        "minhash_256_batch40": (idx256, 256, 40, 9_100_000_000_000),
        "minhash_4096_batch400": (idx4k, 4096, 400, 9_200_000_000_000),
        "minhash_4096_batch40": (idx4k, 4096, 40, 9_300_000_000_000),
    }
    for name, (idx, n_buckets, per_batch, id_base) in cases.items():
        if name in section:
            print(f"  {name}: already recorded, skipping")
            continue
        row: dict = {"n_buckets": n_buckets, "batch_docs": per_batch}
        rel_root = os.path.join(idx, "bands")
        if not _glob.glob(os.path.join(rel_root, "**", "_SUCCESS")) and not (
            os.path.exists(os.path.join(rel_root, "_SUCCESS"))
        ):
            t0 = time.perf_counter()
            build_minhash_index(spark, D3, idx, n_buckets=n_buckets)
            row["build_sec"] = round(time.perf_counter() - t0, 3)
        pairs = tempfile.mkdtemp(prefix=f"geom_{name}_") + "/pairs"
        apply = near_dup_sink(spark, idx, pairs, top_k_neighbors=4)
        walls = []
        for b in range(3):
            t0 = time.perf_counter()
            apply(batch_df(per_batch, b, id_base), b)
            walls.append(round(time.perf_counter() - t0, 3))
        row["batch_walls_sec"] = walls
        row["pairs_emitted"] = int(spark.read.parquet(pairs).count())
        shutil.rmtree(os.path.dirname(pairs), ignore_errors=True)
        section[name] = row
        flush()
        print(f"  {name}: {row}")


def run_pq_recall(spark) -> None:
    """Design-band recall for the PQ tier at d3 (2M vectors), via the
    planted-twin protocol the sign-LSH campaign uses: plant N_TWINS
    twins at cos 0.9 into a temp copy of the corpus, PQ-search with the
    original vectors, count twins recovered in the exact-re-ranked
    top-5.  With corpus background pairs topping out ~0.44 cosine, a
    healthy shortlist recovers essentially all twins; a broken codebook
    or LUT shows up as recall collapse, not a subtle drift."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        fit_pq_codebooks,
        pq_encode,
        pq_shortlist,
    )
    from data_integration_system_spark.functions.vectors import cosine
    from pyspark.sql import Window

    path = os.path.join(HERE, "SCALE_REHEARSAL_RECALL.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    row = dict(prev.get("d3", {}))
    if "pq" in row:
        print("  d3/pq: recorded, skipped")
        return
    out = tempfile.mkdtemp(prefix="scale_pq_recall_")
    try:
        n = plant_twin_corpus(spark, D3, out)
        emb = spark.read.parquet(f"{out}/embeddings.parquet")
        corpus = emb.filter(F.col("vec_id") >= _N_QUERIES).select(
            "vec_id", "embedding"
        )
        books = fit_pq_codebooks(corpus)
        codes = pq_encode(corpus, books).localCheckpoint()
        q_rows = [
            (int(r.vec_id), list(r.embedding))
            for r in emb.filter(F.col("vec_id") < TWIN_OFFSET)
            .orderBy("vec_id")
            .limit(N_TWINS)
            .collect()
        ]
        top_k = 5
        short = pq_shortlist(codes, q_rows, books, 8 * top_k)
        qdf = spark.createDataFrame(
            q_rows, "q_id long, qe array<float>"
        )
        w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "c_id")
        hits = (
            short.join(
                corpus.select("vec_id", F.col("embedding").alias("ce")), "vec_id"
            )
            .join(F.broadcast(qdf), "q_id")
            .select("q_id", F.col("vec_id").alias("c_id"), cosine("qe", "ce").alias("sim"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= top_k)
            .filter(F.col("c_id") == F.col("q_id") + TWIN_OFFSET)
            .count()
        )
        row["pq"] = {
            "design_band_recall_at_5": round(hits / n, 4),
            "n_twins": n,
            "twin_cos": TWIN_COS,
        }
        prev["d3"] = row
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)
        print(f"  d3/pq recall: {row['pq']}")
    finally:
        shutil.rmtree(out, ignore_errors=True)


def run_pq_timing(spark) -> None:
    """Decade rows for the PQ tier (r11, operators/similarity.py): build
    (deterministic fit + 32x-compressed encode + write) and query (ADC
    shortlist + exact re-rank) at sf10 (~500k vectors) and d3 (2M).
    Expected shape: build ~linear in corpus (one encode pass; the fit's
    collect is sample-capped so it goes FLAT across decades); query
    ~linear in codes bytes with a constant re-rank (shortlist size is
    corpus-independent)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        build_pq_index,
        query_pq_index,
    )

    path = os.path.join(HERE, "SCALE_REHEARSAL_D3.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    section = dict(prev.get("pq", {}))
    for tag, d in (("sf10", SF10), ("d3", D3)):
        if tag in section:
            print(f"  pq {tag}: recorded, skipped")
            continue
        root = tempfile.mkdtemp(prefix="scale_pq_")
        try:
            emb = table(spark, d, "embeddings")
            queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
                F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
            )
            corpus = emb.filter(F.col("vec_id") >= _N_QUERIES).select(
                "vec_id", "embedding"
            )
            t0 = time.perf_counter()
            build_pq_index(spark, d, f"{root}/pq")
            build_s = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            n = query_pq_index(
                spark, f"{root}/pq", queries, vectors=corpus
            ).count()
            query_s = round(time.perf_counter() - t0, 3)
            section[tag] = {"build_sec": build_s, "query_sec": query_s, "rows": n}
            print(f"  pq {tag}: {section[tag]}")
        finally:
            shutil.rmtree(root, ignore_errors=True)
        prev["pq"] = section
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)
    if "sf10" in section and "d3" in section and "build_exponent" not in section:
        # d3 embeddings = 2M vs sf10 = 200k: a true decade
        section["build_exponent"] = round(
            math.log(section["d3"]["build_sec"] / section["sf10"]["build_sec"])
            / math.log(10), 3,
        )
        section["query_exponent"] = round(
            math.log(section["d3"]["query_sec"] / section["sf10"]["query_sec"])
            / math.log(10), 3,
        )
        prev["pq"] = section
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)
    print("updated SCALE_REHEARSAL_D3.json pq")


def run_retime_embedding_near(spark, tag: str) -> None:
    """Separate-process re-time of ONE leg of the dedup_embedding_near
    within-regime pair (VERDICT r10 #6): the recorded 1.05 came from a
    paired session (which biases the BIG leg upward — three artifacts
    in two rounds), and the stored d3h row predates the r9 k-cap
    geometry.  Run `--retime-embedding-near d3h` then, in a FRESH
    process, `--retime-embedding-near d3`; rows land under
    ``queries_within_regime_retime`` and the exponent is computed once
    both legs exist (ratio 2 → exponent = log2(t_d3/t_d3h))."""
    path = os.path.join(HERE, "SCALE_REHEARSAL_D3.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    section = dict(prev.get("queries_within_regime_retime", {}))
    row = dict(
        section.get(
            "dedup_embedding_near",
            {"method": "one scale per process, fresh JVM (anti paired-session bias), r9 k-cap geometry both legs"},
        )
    )
    from data_integration_system_spark.registry import get_queries

    fn = get_queries()["dedup_embedding_near"]
    d = {"d3h": D3H, "d3": D3}[tag]
    t0 = time.perf_counter()
    n = fn(spark, d).count()
    row[tag] = round(time.perf_counter() - t0, 3)
    row[f"{tag}_rows"] = n
    if "d3h" in row and "d3" in row:
        row["exponent"] = round(math.log(row["d3"] / row["d3h"]) / math.log(2), 3)
    section["dedup_embedding_near"] = row
    prev["queries_within_regime_retime"] = section
    with open(path, "w") as fh:
        json.dump(prev, fh, indent=1, sort_keys=True)
    print(f"  dedup_embedding_near retime: {row}")


def run_pq_curve(spark) -> None:
    """The PQ operating curve (VERDICT r11 #6): sweep shortlist_x over
    {4, 8, 16, 32} at d3 (2M vectors) under the planted-twin protocol,
    recording twin recall@5 AND the shortlist+re-rank wall per point —
    the recall/latency trade a serving layer actually picks from (the
    sign-LSH tier's geometry table is the precedent).  Fit + encode are
    shared across points (they don't depend on shortlist_x), so the
    per-point wall isolates exactly the knob being swept."""
    import shutil
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_integration_system_spark.functions.vectors import cosine
    from data_integration_system_spark.operators.similarity import (
        fit_pq_codebooks,
        pq_encode,
        pq_shortlist,
    )

    path = os.path.join(HERE, "SCALE_REHEARSAL_RECALL.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    row = dict(prev.get("d3", {}))
    curve = dict(row.get("pq_curve", {}))
    todo = [x for x in (4, 8, 16, 32) if str(x) not in curve]
    if not todo:
        print("  d3/pq_curve: recorded, skipped")
        return
    out = tempfile.mkdtemp(prefix="scale_pq_curve_")
    try:
        n = plant_twin_corpus(spark, D3, out)
        emb = spark.read.parquet(f"{out}/embeddings.parquet")
        corpus = emb.filter(F.col("vec_id") >= 8).select("vec_id", "embedding")
        books = fit_pq_codebooks(corpus)
        codes = pq_encode(corpus, books).localCheckpoint()
        codes.count()  # materialize encode OUTSIDE the per-point timers
        q_rows = [
            (int(r.vec_id), list(r.embedding))
            for r in emb.filter(F.col("vec_id") < TWIN_OFFSET)
            .orderBy("vec_id")
            .limit(N_TWINS)
            .collect()
        ]
        qdf = spark.createDataFrame(q_rows, "q_id long, qe array<float>")
        top_k = 5
        w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "c_id")
        for x in todo:
            t0 = time.perf_counter()
            short = pq_shortlist(codes, q_rows, books, x * top_k)
            hits = (
                short.join(
                    corpus.select("vec_id", F.col("embedding").alias("ce")),
                    "vec_id",
                )
                .join(F.broadcast(qdf), "q_id")
                .select(
                    "q_id",
                    F.col("vec_id").alias("c_id"),
                    cosine("qe", "ce").alias("sim"),
                )
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= top_k)
                .filter(F.col("c_id") == F.col("q_id") + TWIN_OFFSET)
                .count()
            )
            curve[str(x)] = {
                "recall_at_5": round(hits / n, 4),
                "query_sec": round(time.perf_counter() - t0, 3),
            }
            row["pq_curve"] = curve
            prev["d3"] = row
            with open(path, "w") as fh:
                json.dump(prev, fh, indent=1, sort_keys=True)
            print(f"  d3/pq_curve x={x}: {curve[str(x)]}")
    finally:
        shutil.rmtree(out, ignore_errors=True)


def run_ivfpq_timing(spark) -> None:
    """Decade rows for the IVF-PQ composed index (r12): build (centroid
    fit + codebook fit + partitioned encode write) and query (probe ->
    literal-PartitionFilters ADC scan of nprobe/k of the CODES + exact
    re-rank) at sf10 (~200k eligible vectors) and d3 (2M).  The claim
    under test: the probed-codes bytes per query batch grow as
    nprobe/k * corpus (both prunings multiply), so the query wall
    should sit WELL under the flat-PQ ADC scan's at the same scale
    (SCALE_REHEARSAL_D3.json "pq" section is the comparator)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        build_ivfpq_index,
        query_ivfpq_index,
    )

    path = os.path.join(HERE, "SCALE_REHEARSAL_D3.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    section = dict(prev.get("ivfpq", {}))
    for tag, d in (("sf10", SF10), ("d3", D3)):
        if tag in section:
            print(f"  ivfpq {tag}: recorded, skipped")
            continue
        root = tempfile.mkdtemp(prefix="scale_ivfpq_")
        try:
            emb = table(spark, d, "embeddings")
            queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
                F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
            )
            corpus = emb.filter(F.col("vec_id") >= _N_QUERIES).select(
                "vec_id", "embedding"
            )
            t0 = time.perf_counter()
            build_ivfpq_index(spark, d, f"{root}/ivfpq")
            build_s = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            n = query_ivfpq_index(
                spark, f"{root}/ivfpq", queries, vectors=corpus
            ).count()
            query_s = round(time.perf_counter() - t0, 3)
            section[tag] = {"build_sec": build_s, "query_sec": query_s, "rows": n}
            print(f"  ivfpq {tag}: {section[tag]}")
        finally:
            shutil.rmtree(root, ignore_errors=True)
        prev["ivfpq"] = section
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)
    if "sf10" in section and "d3" in section and "build_exponent" not in section:
        section["build_exponent"] = round(
            math.log(section["d3"]["build_sec"] / section["sf10"]["build_sec"])
            / math.log(10), 3,
        )
        section["query_exponent"] = round(
            math.log(section["d3"]["query_sec"] / section["sf10"]["query_sec"])
            / math.log(10), 3,
        )
        prev["ivfpq"] = section
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)
    print("updated SCALE_REHEARSAL_D3.json ivfpq")


def run_ivfpq_recall(spark) -> None:
    """Planted-twin recall@5 for the composed index at d3 — the honest
    scale-recall row next to the pytest pin (which uses a CLUSTERED
    corpus where IVF's assumption holds; this one measures the
    structureless-corpus floor where probe misses are real)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from data_integration_system_spark.operators.similarity import (
        build_ivfpq_index,
        query_ivfpq_index,
    )

    path = os.path.join(HERE, "SCALE_REHEARSAL_RECALL.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    row = dict(prev.get("d3", {}))
    if "ivfpq" in row:
        print("  d3/ivfpq: recorded, skipped")
        return
    out = tempfile.mkdtemp(prefix="scale_ivfpq_recall_")
    idx = tempfile.mkdtemp(prefix="scale_ivfpq_idx_")
    try:
        n = plant_twin_corpus(spark, D3, out)
        build_ivfpq_index(spark, out, idx)
        emb = spark.read.parquet(f"{out}/embeddings.parquet")
        queries = (
            emb.filter(F.col("vec_id") < TWIN_OFFSET)
            .orderBy("vec_id")
            .limit(N_TWINS)
            .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))
        )
        corpus = emb.filter(F.col("vec_id") >= 8).select("vec_id", "embedding")
        hits = (
            query_ivfpq_index(spark, idx, queries, vectors=corpus)
            .filter(F.col("c_id") == F.col("q_id") + TWIN_OFFSET)
            .count()
        )
        row["ivfpq"] = {
            "design_band_recall_at_5": round(hits / n, 4),
            "n_twins": n,
            "twin_cos": TWIN_COS,
        }
        prev["d3"] = row
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)
        print(f"  d3/ivfpq recall: {row['ivfpq']}")
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(idx, ignore_errors=True)


def run_retime_embedding_topk(spark, tag: str) -> None:
    """Separate-process within-regime timing of the BOUNDED-OUTPUT
    near-dup (VERDICT r11 #4): dedup_embedding_topk (top_k_neighbors=3)
    at d3h then, in a FRESH process, d3.  The uncapped re-time measured
    output exponent 2.0 with wall 1.167 chasing it; the capped mode's
    output is O(n*k), so both row count and wall should come back
    ~linear (exponent ~1 over the 2x corpus ratio)."""
    path = os.path.join(HERE, "SCALE_REHEARSAL_D3.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    section = dict(prev.get("queries_within_regime_retime", {}))
    row = dict(
        section.get(
            "dedup_embedding_topk",
            {"method": "one scale per process, fresh JVM; top_k_neighbors=3 bounded-output mode"},
        )
    )
    from data_integration_system_spark.registry import get_queries

    fn = get_queries()["dedup_embedding_topk"]
    d = {"d3h": D3H, "d3": D3}[tag]
    t0 = time.perf_counter()
    n = fn(spark, d).count()
    row[tag] = round(time.perf_counter() - t0, 3)
    row[f"{tag}_rows"] = n
    if "d3h" in row and "d3" in row:
        row["exponent"] = round(math.log(row["d3"] / row["d3h"]) / math.log(2), 3)
        row["output_exponent"] = round(
            math.log(row["d3_rows"] / row["d3h_rows"]) / math.log(2), 3
        )
    section["dedup_embedding_topk"] = row
    prev["queries_within_regime_retime"] = section
    with open(path, "w") as fh:
        json.dump(prev, fh, indent=1, sort_keys=True)
    print(f"  dedup_embedding_topk retime: {row}")


def run_passjoin_timing(spark) -> None:
    """PassJoin vs blocked-quadratic ED join on a SINGLE-block synthetic
    name corpus (the adversarial case for blocking: one brand, so the
    quadratic has no block structure to hide behind).  Deterministic
    corpus: 25-hex-char sha2 names; every 10th id pair is a planted
    ed=1 twin ('z' never appears in hex, so the substitution is exactly
    one edit), all other names are independent hashes — sparse matches,
    the regime a real dirty catalog at 100 TB lives in (the sf0.1 part
    corpus is the OTHER regime: 220k dense pairs).

    Legs (each timed in THIS process, plan warmed by the smallest leg):
    quadratic at {20k, 63k} — its pair count is n²/2, so 200k would
    already be ~2e10 banded-ED calls; PassJoin at {20k, 63k, 200k,
    632k, 2M}.  Exactness cross-checked at 20k (set equality) and by
    planted-twin counts at every leg.  Writes SCALE_REHEARSAL_D3.json
    section 'passjoin'."""
    from pyspark.sql import functions as F

    from data_integration_system_spark.operators.joins import (
        ed2_segment_candidates,
    )

    path = os.path.join(HERE, "SCALE_REHEARSAL_D3.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    section = dict(prev.get("passjoin", {}))
    if section.get("done"):
        print("  passjoin: recorded, skipped")
        return

    def corpus(n: int):
        ids = spark.range(n).select(F.col("id").alias("p_partkey"))
        g = F.expr("p_partkey div 2")
        twin = (F.col("p_partkey") % 2 == 1) & (g % 10 == 0)
        base = F.substring(F.sha2(F.conv(g.cast("string"), 10, 16), 256), 1, 25)
        far = F.substring(
            F.sha2(F.conv((g + F.lit(10**12)).cast("string"), 10, 16), 256),
            1, 25,
        )
        name = (
            F.when(F.col("p_partkey") % 2 == 0, base)
            .when(twin, F.concat(F.lit("z"), F.substring(base, 2, 24)))
            .otherwise(far)
        )
        return ids.select(
            "p_partkey", F.lit("B").alias("p_brand"), name.alias("p_name")
        ).repartition(spark.sparkContext.defaultParallelism).localCheckpoint()

    def passjoin_pairs(df):
        cand = ed2_segment_candidates(df)
        d = F.levenshtein(F.col("name_a"), F.col("name_b"), 2)
        return (
            cand.select("part_a", "part_b", d.cast("long").alias("edit_dist"))
            .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= 2))
        )

    def quadratic_pairs(df):
        a, b = df.alias("a"), df.alias("b")
        d = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 2)
        return (
            a.join(
                b,
                (F.col("a.p_brand") == F.col("b.p_brand"))
                & (F.col("a.p_partkey") < F.col("b.p_partkey"))
                & (
                    F.abs(
                        F.length(F.col("a.p_name"))
                        - F.length(F.col("b.p_name"))
                    )
                    <= 2
                ),
            )
            .select(
                F.col("a.p_partkey").alias("part_a"),
                F.col("b.p_partkey").alias("part_b"),
                d.cast("long").alias("edit_dist"),
            )
            .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= 2))
        )

    # warm both plan classes on a throwaway corpus (r12 note: single-
    # process sweeps are warmth-confounded on the first point)
    warm = corpus(2_000)
    passjoin_pairs(warm).count()
    quadratic_pairs(warm).count()

    # exactness cross-check at 20k before any timing
    c20 = corpus(20_000)
    got = {tuple(r) for r in passjoin_pairs(c20).collect()}
    want = {tuple(r) for r in quadratic_pairs(c20).collect()}
    if got != want:
        raise AssertionError(
            f"passjoin != quadratic at 20k: {len(got)} vs {len(want)}"
        )
    section["crosscheck_20k"] = {"pairs": len(want), "equal": True}

    for tag, n in (("q20k", 20_000), ("q63k", 63_000)):
        if tag in section:
            continue
        df = corpus(n)
        t0 = time.perf_counter()
        cnt = quadratic_pairs(df).count()
        section[tag] = {
            "n": n, "pairs": cnt,
            "wall_sec": round(time.perf_counter() - t0, 3),
        }
        print(f"  quadratic {tag}: {section[tag]}")
    for tag, n in (
        ("p20k", 20_000), ("p63k", 63_000), ("p200k", 200_000),
        ("p632k", 632_000), ("p2m", 2_000_000),
    ):
        if tag in section:
            continue
        df = corpus(n)
        expect = (n // 2 + 9) // 10  # planted twins: one per g % 10 == 0
        t0 = time.perf_counter()
        cnt = passjoin_pairs(df).count()
        section[tag] = {
            "n": n, "pairs": cnt, "planted": expect,
            "wall_sec": round(time.perf_counter() - t0, 3),
        }
        if cnt != expect:
            raise AssertionError(
                f"passjoin {tag}: {cnt} pairs != {expect} planted"
            )
        print(f"  passjoin {tag}: {section[tag]}")
    section["done"] = True
    prev["passjoin"] = section
    with open(path, "w") as fh:
        json.dump(prev, fh, indent=1, sort_keys=True)


def run_ewma_jvm_split(spark) -> None:
    """The JVM-fold EWMA drain at sf10, same protocol as
    run_ewma_fixture_split's drain leg (pre-staged trisected fixture,
    staging outside the drain timer): the r12 split found the
    applyInPandasWithState drain pays ~96% of its 1,346 s wall in the
    Arrow round-trip + per-key Python fold + state store; ewma_jvm_sink
    is the fold-expressible escape hatch (Catalyst HOF fold, lake-
    resident supersede state), and this row prices the SAME recurrence
    over the SAME fixture through it.  Answer parity with the batch
    operator is asserted inside the run — a fast wrong drain would be
    worthless."""
    import shutil
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.streaming.jobs import (
        _pin_batch_mtimes,
        ewma_jvm_sink,
        read_ewma_jvm_state,
    )

    os.environ.setdefault("SPARK_GRAFT_STREAM_DRAIN_S", "5400")
    from data_integration_system_spark.streaming.jobs import _drain_deadline_s

    path = os.path.join(HERE, "SCALE_REHEARSAL.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    section = dict(prev.get("streaming_d2_split", {}))
    if "streaming_user_ewma_jvm_snapshot" in section:
        print("  ewma jvm split: recorded, skipped")
        return
    root = tempfile.mkdtemp(prefix="scale_ewma_jvm_split_")
    try:
        t0 = time.perf_counter()
        ev = table(spark, SF10, "events").select(
            "event_id", "ts", "user_id", "value"
        )
        tercile = F.ntile(3).over(Window.orderBy("ts", "event_id"))
        staged = ev.withColumn("b", tercile).localCheckpoint()
        src = f"{root}/in"
        for b in (1, 2, 3):
            staged.filter(F.col("b") == b).drop("b").coalesce(1).write.mode(
                "append"
            ).parquet(src)
            _pin_batch_mtimes(src, b)
        staging_s = round(time.perf_counter() - t0, 3)

        t0 = time.perf_counter()
        stream = (
            spark.readStream.schema(staged.drop("b").schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        state_root = f"{root}/state"
        q = (
            stream.writeStream.foreachBatch(ewma_jvm_sink(spark, state_root))
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{root}/ckpt")
            .start()
        )
        try:
            if not q.awaitTermination(_drain_deadline_s()):
                raise TimeoutError("ewma jvm split drain deadline")
        finally:
            q.stop()
        state = read_ewma_jvm_state(spark, state_root).localCheckpoint()
        n = state.count()
        drain_s = round(time.perf_counter() - t0, 3)

        # answer parity vs the batch JVM operator (outside the timer)
        from data_integration_system_spark.operators.groupops import (
            user_value_ewma_jvm,
        )

        diff = (
            state.select("user_id", "n_events", "ewma_e2")
            .exceptAll(user_value_ewma_jvm(spark, SF10))
            .count()
        )
        if diff:
            raise AssertionError(f"jvm drain diverged from batch: {diff} rows")

        section["streaming_user_ewma_jvm_snapshot"] = {
            "sf": "sf10",
            "staging_sec": staging_s,
            "drain_sec": drain_s,
            "users": n,
            "parity": "exceptAll vs user_value_ewma_jvm == 0 rows",
            "note": "same fixture + drain protocol as the pandas-state split row; the fold never leaves the JVM (ewma_jvm_sink)",
        }
        prev["streaming_d2_split"] = section
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)
        print(f"  ewma jvm split: {section['streaming_user_ewma_jvm_snapshot']}")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_ewma_fixture_split(spark) -> None:
    """Fixture-vs-machinery split for the sf10 EWMA decade row (VERDICT
    r11 #7): the recorded 1,330 s includes the fixture's global
    (ts, event_id) ntile sort — single-task BY CONTRACT (the
    replay-order guarantee), i.e. fixture cost.  Stage the trisected,
    pre-sorted input ONCE (timed), then time ONLY the streaming drain
    (applyInPandasWithState EWMA through the ledger) against the
    pre-staged files.  If the drain still dominates, the machinery is
    the cost after all — either way the split is the finding."""
    import shutil
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.streaming.jobs import (
        _pin_batch_mtimes,
        ewma_state_stream,
    )

    os.environ.setdefault("SPARK_GRAFT_STREAM_DRAIN_S", "5400")
    from data_integration_system_spark.streaming.jobs import _drain_deadline_s

    path = os.path.join(HERE, "SCALE_REHEARSAL.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    section = dict(prev.get("streaming_d2_split", {}))
    if "streaming_user_ewma_snapshot" in section:
        print("  ewma split: recorded, skipped")
        return
    root = tempfile.mkdtemp(prefix="scale_ewma_split_")
    try:
        t0 = time.perf_counter()
        ev = table(spark, SF10, "events").select(
            "event_id", "ts", "user_id", "value"
        )
        tercile = F.ntile(3).over(Window.orderBy("ts", "event_id"))
        staged = ev.withColumn("b", tercile).localCheckpoint()
        src = f"{root}/in"
        for b in (1, 2, 3):
            staged.filter(F.col("b") == b).drop("b").coalesce(1).write.mode(
                "append"
            ).parquet(src)
            _pin_batch_mtimes(src, b)
        staging_s = round(time.perf_counter() - t0, 3)

        t0 = time.perf_counter()
        stream = (
            spark.readStream.schema(staged.drop("b").schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        ledger = f"{root}/ledger"

        def land(batch, batch_id):
            batch.coalesce(1).write.mode("overwrite").parquet(
                f"{ledger}/batch_id={batch_id}"
            )

        q = (
            ewma_state_stream(stream)
            .writeStream.foreachBatch(land)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{root}/ckpt")
            .start()
        )
        try:
            if not q.awaitTermination(_drain_deadline_s()):
                raise TimeoutError("ewma split drain deadline")
        finally:
            q.stop()
        n = (
            spark.read.option("basePath", ledger).parquet(ledger)
            .groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"))
            .count()
        )
        drain_s = round(time.perf_counter() - t0, 3)
        section["streaming_user_ewma_snapshot"] = {
            "sf": "sf10",
            "staging_sec": staging_s,
            "drain_sec": drain_s,
            "users": n,
            "note": "staging includes the single-task-by-contract global ntile sort; drain is the stateful machinery + ledger",
        }
        prev["streaming_d2_split"] = section
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)
        print(f"  ewma split: {section['streaming_user_ewma_snapshot']}")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_ivfpq_curve(spark) -> None:
    """The IVF-PQ nprobe operating curve (the composed tier's twin of
    the PQ shortlist_x curve): build the index ONCE on the planted-twin
    d3 corpus, sweep nprobe over {1, 3, 5, 10}, record twin recall@5
    and query wall per point.  nprobe multiplies the probed-codes bytes
    (nprobe/k of the corpus) and the per-query candidate pool — the
    recall/cost knob a serving layer turns."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from data_integration_system_spark.operators.similarity import (
        build_ivfpq_index,
        query_ivfpq_index,
    )

    path = os.path.join(HERE, "SCALE_REHEARSAL_RECALL.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    row = dict(prev.get("d3", {}))
    curve = dict(row.get("ivfpq_curve", {}))
    todo = [p for p in (1, 3, 5, 10) if str(p) not in curve]
    if not todo:
        print("  d3/ivfpq_curve: recorded, skipped")
        return
    out = tempfile.mkdtemp(prefix="scale_ivfpq_curve_")
    idx = tempfile.mkdtemp(prefix="scale_ivfpq_curve_idx_")
    try:
        n = plant_twin_corpus(spark, D3, out)
        build_ivfpq_index(spark, out, idx)
        emb = spark.read.parquet(f"{out}/embeddings.parquet")
        queries = (
            emb.filter(F.col("vec_id") < TWIN_OFFSET)
            .orderBy("vec_id")
            .limit(N_TWINS)
            .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))
            .localCheckpoint()
        )
        corpus = emb.filter(F.col("vec_id") >= 8).select("vec_id", "embedding")
        # warm the plan class so the first swept point isn't cold-biased
        query_ivfpq_index(spark, idx, queries, vectors=corpus, nprobe=3).count()
        for p in todo:
            t0 = time.perf_counter()
            hits = (
                query_ivfpq_index(spark, idx, queries, vectors=corpus, nprobe=p)
                .filter(F.col("c_id") == F.col("q_id") + TWIN_OFFSET)
                .count()
            )
            curve[str(p)] = {
                "recall_at_5": round(hits / n, 4),
                "query_sec": round(time.perf_counter() - t0, 3),
            }
            row["ivfpq_curve"] = curve
            prev["d3"] = row
            with open(path, "w") as fh:
                json.dump(prev, fh, indent=1, sort_keys=True)
            print(f"  d3/ivfpq_curve nprobe={p}: {curve[str(p)]}")
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(idx, ignore_errors=True)


D3C = os.path.join(HERE, ".scale", "d3c")
D3C_IDX = os.path.join(HERE, ".scale", "d3c_idx")
D3C_IDX_RES = os.path.join(HERE, ".scale", "d3c_idx_res")
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


def run_ivfpq_clustered(spark) -> None:
    """The honest-regime IVF-PQ campaign (VERDICT r12 #1): recall,
    query wall, and PROBED FRACTION at k=1,414 centroids over the
    2M-vector clustered corpus — the regime where the nprobe/k pruning
    fraction is a real number instead of 3-of-10.  Every earlier d3
    recall row ran ~10 weakly-separated centroids on structureless
    noise; this one measures the composition where it is designed to
    win.  Truth = exact_topk_np (numpy brute force, itself timed — the
    wall the index is avoiding).  Rows land in
    SCALE_REHEARSAL_RECALL.json under "d3_clustered"; each sub-step
    resumes independently."""
    import glob
    import statistics

    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _TOP_K,
        build_ivfpq_index,
        exact_topk_np,
        query_ivfpq_index,
    )
    from data_integration_system_spark.plans.metrics import executed_nodes

    path = os.path.join(HERE, "SCALE_REHEARSAL_RECALL.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    row = dict(prev.get("d3_clustered", {}))
    row.setdefault("n", D3C_N)
    row.setdefault("k_centroids", D3C_K)

    def flush() -> None:
        prev["d3_clustered"] = row
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)

    # --- build (resumable: skip when timed AND the index is on disk) ---
    built = os.path.exists(os.path.join(D3C_IDX, "codes", "_SUCCESS"))
    if "build_sec" not in row or not built:
        t0 = time.perf_counter()
        build_ivfpq_index(spark, D3C, D3C_IDX)
        row["build_sec"] = round(time.perf_counter() - t0, 3)
        flush()
        print(f"  build: {row['build_sec']}s")

    emb = table(spark, D3C, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 8).select("vec_id", "embedding")
    qdf = (
        emb.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))
        .localCheckpoint()
    )
    q_rows = [(r.q_id, list(r.qe)) for r in qdf.collect()]

    # --- exact truth (timed: the brute-force wall the index avoids) ---
    if "truth" not in row:
        t0 = time.perf_counter()
        truth_rows = exact_topk_np(corpus, q_rows, _TOP_K).collect()
        row["truth"] = {
            "exact_bruteforce_sec": round(time.perf_counter() - t0, 3),
            "pairs": sorted((int(r.q_id), int(r.c_id)) for r in truth_rows),
        }
        flush()
        print(f"  exact truth: {row['truth']['exact_bruteforce_sec']}s")
    truth = {tuple(p) for p in row["truth"]["pairs"]}

    # --- nprobe operating points: recall + median-of-3 query wall ---
    curve = dict(row.get("nprobe_curve", {}))
    warm_done = False
    for nprobe in (1, 3, 10):
        key = str(nprobe)
        if key in curve:
            continue
        if not warm_done:  # warm the plan class (r12 sweep lesson)
            query_ivfpq_index(spark, D3C_IDX, qdf, nprobe=3).collect()
            warm_done = True
        walls = []
        got: set = set()
        for _ in range(3):
            t0 = time.perf_counter()
            res = query_ivfpq_index(
                spark, D3C_IDX, qdf, vectors=corpus, nprobe=nprobe
            ).collect()
            walls.append(round(time.perf_counter() - t0, 3))
            got = {(int(r.q_id), int(r.c_id)) for r in res}
        curve[key] = {
            "recall_at_5": round(len(got & truth) / len(truth), 4),
            "query_sec_med3": statistics.median(walls),
            "query_sec_runs": walls,
        }
        row["nprobe_curve"] = curve
        flush()
        print(f"  nprobe={nprobe}: {curve[key]}")

    # --- shortlist-dilution check (flat mode, nprobe=3): the nprobe
    # INVERSION (recall 0.45 -> 0.375 -> 0.30 as nprobe grows) is
    # explained by a fixed 40-slot shortlist over ADC scores that barely
    # resolve intra-cluster structure — more probes add candidates with
    # near-identical ADC and dilute the cut.  If recall recovers with a
    # larger shortlist, the inversion is dilution, not a probe bug. ---
    sl = dict(row.get("shortlist_check", {}))
    for x in (32, 128):
        key = str(x)
        if key in sl:
            continue
        res = query_ivfpq_index(
            spark, D3C_IDX, qdf, vectors=corpus, nprobe=3, shortlist_x=x
        ).collect()
        got = {(int(r.q_id), int(r.c_id)) for r in res}
        sl[key] = {"recall_at_5": round(len(got & truth) / len(truth), 4)}
        row["shortlist_check"] = sl
        flush()
        print(f"  shortlist_x={x}: {sl[key]}")

    # --- residual (true-IVFADC) leg: codes encode x_norm - c_norm
    # against residual-fitted books.  The r12 residual REJECTION was
    # measured at ~10 weak centroids on noise (residual ~ raw there);
    # this is the regime the technique was designed for. ---
    res_row = dict(row.get("residual", {}))
    res_built = os.path.exists(os.path.join(D3C_IDX_RES, "codes", "_SUCCESS"))
    if "build_sec" not in res_row or not res_built:
        t0 = time.perf_counter()
        build_ivfpq_index(spark, D3C, D3C_IDX_RES, mode="residual")
        res_row["build_sec"] = round(time.perf_counter() - t0, 3)
        row["residual"] = res_row
        flush()
        print(f"  residual build: {res_row['build_sec']}s")
    res_curve = dict(res_row.get("nprobe_curve", {}))
    warm_res = False
    for nprobe in (1, 3, 10):
        key = str(nprobe)
        if key in res_curve:
            continue
        if not warm_res:
            query_ivfpq_index(spark, D3C_IDX_RES, qdf, nprobe=3).collect()
            warm_res = True
        walls = []
        got = set()
        for _ in range(3):
            t0 = time.perf_counter()
            res = query_ivfpq_index(
                spark, D3C_IDX_RES, qdf, vectors=corpus, nprobe=nprobe
            ).collect()
            walls.append(round(time.perf_counter() - t0, 3))
            got = {(int(r.q_id), int(r.c_id)) for r in res}
        res_curve[key] = {
            "recall_at_5": round(len(got & truth) / len(truth), 4),
            "query_sec_med3": statistics.median(walls),
            "query_sec_runs": walls,
        }
        res_row["nprobe_curve"] = res_curve
        row["residual"] = res_row
        flush()
        print(f"  residual nprobe={nprobe}: {res_curve[key]}")

    # --- residual-mode shortlist sweep + the recall-recovering flat
    # operating point TIMED: the numpy replication (SCALE.md r13) shows
    # both modes are shortlist-bound (recall -> 1.0 at 640); record the
    # engine rows for the matrix and the med3 wall of flat x=128, the
    # configuration an operator would actually run. ---
    rsl = dict(res_row.get("shortlist_check", {}))
    for x in (32, 128):
        key = str(x)
        if key in rsl:
            continue
        res = query_ivfpq_index(
            spark, D3C_IDX_RES, qdf, vectors=corpus, nprobe=3, shortlist_x=x
        ).collect()
        got = {(int(r.q_id), int(r.c_id)) for r in res}
        rsl[key] = {"recall_at_5": round(len(got & truth) / len(truth), 4)}
        res_row["shortlist_check"] = rsl
        row["residual"] = res_row
        flush()
        print(f"  residual shortlist_x={x}: {rsl[key]}")

    if "flat_x128_operating_point" not in row:
        walls = []
        got = set()
        for _ in range(3):
            t0 = time.perf_counter()
            res = query_ivfpq_index(
                spark, D3C_IDX, qdf, vectors=corpus, nprobe=3, shortlist_x=128
            ).collect()
            walls.append(round(time.perf_counter() - t0, 3))
            got = {(int(r.q_id), int(r.c_id)) for r in res}
        row["flat_x128_operating_point"] = {
            "recall_at_5": round(len(got & truth) / len(truth), 4),
            "query_sec_med3": statistics.median(walls),
            "query_sec_runs": walls,
            "nprobe": 3,
        }
        flush()
        print(f"  flat x=128 operating point: {row['flat_x128_operating_point']}")

    # --- serving-handle leg: open once, query repeatedly — prices what
    # the cached FileIndex saves vs the cold path's per-query listing
    # job (the catalog-tier motivation, measured) ---
    if "handle_serving" not in row:
        from data_integration_system_spark.operators.similarity import (
            open_ivfpq_index,
        )

        h = open_ivfpq_index(spark, D3C_IDX)
        h.query(qdf, nprobe=3).collect()  # warm the handle's plan class
        walls = []
        got = set()
        for _ in range(5):
            t0 = time.perf_counter()
            res = h.query(qdf, vectors=corpus, nprobe=3).collect()
            walls.append(round(time.perf_counter() - t0, 3))
            got = {(int(r.q_id), int(r.c_id)) for r in res}
        row["handle_serving"] = {
            "query_sec_med": statistics.median(walls),
            "query_sec_runs": walls,
            "recall_at_5": round(len(got & truth) / len(truth), 4),
            "vs_cold_path_med3": row["nprobe_curve"]["3"]["query_sec_med3"],
        }
        flush()
        print(f"  handle serving: {row['handle_serving']}")

    # --- probed fraction on EXECUTED files-read metrics (nprobe=3) ---
    if "probed_fraction" not in row:
        df = query_ivfpq_index(spark, D3C_IDX, qdf, nprobe=3)
        df.collect()
        scans = [
            nd
            for nd in executed_nodes(df)
            if nd.cls.startswith("FileSourceScanExec") and "/codes" in nd.detail
        ]
        files_read = sum(nd.metrics.get("numFiles", 0) for nd in scans)
        files_total = len(glob.glob(f"{D3C_IDX}/codes/cent_id=*/*.parquet"))
        row["probed_fraction"] = {
            "files_read": int(files_read),
            "files_total": int(files_total),
            "fraction": round(files_read / max(1, files_total), 5),
            "nprobe": 3,
            "n_queries": len(q_rows),
        }
        flush()
        print(f"  probed fraction: {row['probed_fraction']}")


D3T = os.path.join(HERE, ".scale", "d3t")
D3T_SIGMA = 0.05


def run_ivfpq_tight(spark) -> None:
    """The third residual regime (completes SCALE.md r13's open cell):
    TIGHT clusters (sigma=0.05 -> members at cos ~0.99 from center,
    residual norm ~0.08 vs ~0.85 on d3c) — the geometry where IVFADC's
    residual encoding classically wins, because flat codebooks are
    sized to inter-cluster spread and cannot resolve near-identical
    members, while residual books are sized to the tiny residual ball.
    Generates .scale/d3t (2M x 1,414, seeded), builds BOTH modes,
    records recall@5 vs exact truth at the default and recovered
    shortlists.  Rows land under "d3_tight" in
    SCALE_REHEARSAL_RECALL.json; every sub-step resumes."""
    import shutil
    import statistics
    import tempfile

    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _TOP_K,
        build_ivfpq_index,
        exact_topk_np,
        generate_clustered_embeddings,
        query_ivfpq_index,
    )

    path = os.path.join(HERE, "SCALE_REHEARSAL_RECALL.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    row = dict(prev.get("d3_tight", {}))
    row.setdefault("n", D3C_N)
    row.setdefault("k_centroids", D3C_K)
    row.setdefault("sigma", D3T_SIGMA)

    def flush() -> None:
        prev["d3_tight"] = row
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)

    if not os.path.exists(os.path.join(D3T, "embeddings.parquet", "_SUCCESS")):
        t0 = time.perf_counter()
        generate_clustered_embeddings(
            spark, D3T, D3C_N, D3C_K, sigma=D3T_SIGMA
        )
        print(f"  d3t generated in {time.perf_counter() - t0:.1f}s")

    emb = table(spark, D3T, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 8).select("vec_id", "embedding")
    qdf = (
        emb.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))
        .localCheckpoint()
    )
    q_rows = [(r.q_id, list(r.qe)) for r in qdf.collect()]

    if "truth" not in row:
        t0 = time.perf_counter()
        truth_rows = exact_topk_np(corpus, q_rows, _TOP_K).collect()
        row["truth"] = {
            "exact_bruteforce_sec": round(time.perf_counter() - t0, 3),
            "pairs": sorted((int(r.q_id), int(r.c_id)) for r in truth_rows),
        }
        flush()
        print(f"  exact truth: {row['truth']['exact_bruteforce_sec']}s")
    truth = {tuple(p) for p in row["truth"]["pairs"]}

    for mode in ("flat", "residual"):
        mrow = dict(row.get(mode, {}))
        idx = os.path.join(HERE, ".scale", f"d3t_idx_{mode}")
        built = os.path.exists(os.path.join(idx, "codes", "_SUCCESS"))
        if "build_sec" not in mrow or not built:
            t0 = time.perf_counter()
            build_ivfpq_index(spark, D3T, idx, mode=mode)
            mrow["build_sec"] = round(time.perf_counter() - t0, 3)
            row[mode] = mrow
            flush()
            print(f"  {mode} build: {mrow['build_sec']}s")
        for x in (8, 128):
            key = f"recall_x{x}"
            if key in mrow:
                continue
            res = query_ivfpq_index(
                spark, idx, qdf, vectors=corpus, nprobe=3, shortlist_x=x
            ).collect()
            got = {(int(r.q_id), int(r.c_id)) for r in res}
            mrow[key] = round(len(got & truth) / len(truth), 4)
            row[mode] = mrow
            flush()
            print(f"  {mode} x={x}: recall {mrow[key]}")


def run_ivfpq_manifest(spark) -> None:
    """The r14 campaign: the committed manifest + candidate-aware
    shortlist DEFAULT, priced in the regime that motivated both
    (VERDICT r13 #1/#2/#7).  Backfills manifests onto the existing d3c /
    d3t indexes (the sidecar needs no rebuild), then records:

    * d3c DEFAULT-knob recall + med3 wall — Done-bar: recall >= the r13
      x=128 point (0.80) at a wall within noise of the r13 x=8 default,
      and the computed default shortlist itself (the knee re-stated
      under the candidate-count rule);
    * COLD one-shot wall vs handle steady-state — Done-bar: ~equal, the
      1,414-task listing job being gone (pinned via max-stage-task-count
      and the codes scan's executed numFiles);
    * d3t flat/residual default-knob recall (the tight regime re-check);
    * handle concurrency: queries/sec at 1/4/16 threads sharing one
      IvfPqIndexHandle (the held state is read-only; the shared local
      Spark scheduler is the expected ceiling).

    Rows land under "d3_manifest" in SCALE_REHEARSAL_RECALL.json; every
    sub-step resumes."""
    import statistics

    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _IVFPQ_NPROBE,
        _TOP_K,
        _probe_sets,
        candidate_aware_shortlist,
        open_ivfpq_index,
        query_ivfpq_index,
    )
    from data_integration_system_spark.pipeline import index_manifest as im
    from data_integration_system_spark.plans.metrics import executed_nodes

    path = os.path.join(HERE, "SCALE_REHEARSAL_RECALL.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    row = dict(prev.get("d3_manifest", {}))

    def flush() -> None:
        prev["d3_manifest"] = row
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)

    # --- manifest backfill onto the four existing d3-scale indexes ---
    back = dict(row.get("backfill", {}))
    for tag, idx in (
        ("d3c_flat", D3C_IDX),
        ("d3c_residual", D3C_IDX_RES),
        ("d3t_flat", os.path.join(HERE, ".scale", "d3t_idx_flat")),
        ("d3t_residual", os.path.join(HERE, ".scale", "d3t_idx_residual")),
    ):
        if tag in back or not os.path.exists(idx):
            continue
        if im.read_manifest(spark, idx) is None:
            t0 = time.perf_counter()
            im.write_manifest(
                spark,
                idx,
                {"codes": "cent_id", "centroids": None, "codebooks": None,
                 "meta": None},
            )
            back[tag] = round(time.perf_counter() - t0, 3)
        else:
            back[tag] = "present"
        row["backfill"] = back
        flush()
        print(f"  backfill {tag}: {back[tag]}")

    def _dataset(d: str):
        emb = table(spark, d, "embeddings")
        corpus = emb.filter(F.col("vec_id") >= 8).select("vec_id", "embedding")
        qdf = (
            emb.filter(F.col("vec_id") < 8)
            .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))
            .localCheckpoint()
        )
        return corpus, qdf

    corpus, qdf = _dataset(D3C)
    truth = {
        tuple(p) for p in prev["d3_clustered"]["truth"]["pairs"]
    }

    # --- the knee under the new rule: the computed default shortlist ---
    if "default_shortlist" not in row:
        man = im.read_manifest(spark, D3C_IDX)
        cent_rows = spark.read.parquet(f"{D3C_IDX}/centroids").collect()
        q_rows = [(r.q_id, list(r.qe)) for r in qdf.collect()]
        sets = _probe_sets(q_rows, cent_rows, _IVFPQ_NPROBE)
        per_q = [im.partition_rows(man, "codes", s) for s in sets.values()]
        row["default_shortlist"] = {
            "max_per_query_candidates": max(per_q),
            "min_per_query_candidates": min(per_q),
            "shortlist_slots": candidate_aware_shortlist(_TOP_K, max(per_q)),
            "r13_fixed_default_slots": 8 * _TOP_K,
            "rule": "max(8*top_k, ceil(15% of probed candidates))",
        }
        flush()
        print(f"  default shortlist: {row['default_shortlist']}")

    # --- d3c default-knob: recall + med3 wall + listing-job absence ---
    if "d3c_default" not in row:
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        walls, got = [], set()
        max_tasks, codes_files = 0, None
        for i in range(3):
            group = f"ivfpq-manifest-default-{i}"
            sc.setJobGroup(group, "d3c default-knob one-shot")
            t0 = time.perf_counter()
            df = query_ivfpq_index(spark, D3C_IDX, qdf, vectors=corpus, nprobe=3)
            res = df.collect()
            walls.append(round(time.perf_counter() - t0, 3))
            got = {(int(r.q_id), int(r.c_id)) for r in res}
            for jid in tracker.getJobIdsForGroup(group):
                ji = tracker.getJobInfo(jid)
                for sid in ji.stageIds:
                    si = tracker.getStageInfo(sid)
                    if si is not None:
                        max_tasks = max(max_tasks, si.numTasks)
            if codes_files is None:
                codes_files = sum(
                    nd.metrics.get("numFiles", 0)
                    for nd in executed_nodes(df)
                    if nd.cls.startswith("FileSourceScanExec")
                    and "/codes" in nd.detail
                )
        sc.setJobGroup("", "")
        row["d3c_default"] = {
            "recall_at_5": round(len(got & truth) / len(truth), 4),
            "query_sec_med3": statistics.median(walls),
            "query_sec_runs": walls,
            "codes_files_read": int(codes_files),
            "max_stage_tasks": int(max_tasks),
            "r13_x8_cold_med3": prev["d3_clustered"]["nprobe_curve"]["3"][
                "query_sec_med3"
            ],
            "r13_x128_recall": prev["d3_clustered"]["shortlist_check"]["128"][
                "recall_at_5"
            ],
        }
        flush()
        print(f"  d3c default: {row['d3c_default']}")

    # --- handle steady-state at the default knob ---
    if "d3c_handle" not in row:
        h = open_ivfpq_index(spark, D3C_IDX)
        h.query(qdf, nprobe=3).collect()  # warm the plan class
        walls, got = [], set()
        for _ in range(5):
            t0 = time.perf_counter()
            res = h.query(qdf, vectors=corpus, nprobe=3).collect()
            walls.append(round(time.perf_counter() - t0, 3))
            got = {(int(r.q_id), int(r.c_id)) for r in res}
        row["d3c_handle"] = {
            "query_sec_med": statistics.median(walls),
            "query_sec_runs": walls,
            "recall_at_5": round(len(got & truth) / len(truth), 4),
            "r13_handle_med": prev["d3_clustered"]["handle_serving"][
                "query_sec_med"
            ],
        }
        flush()
        print(f"  d3c handle: {row['d3c_handle']}")

    # --- residual default-knob on d3c (dilution gone: does the r13
    # 'loses on wide clusters' verdict survive an adequate shortlist?) ---
    if "d3c_residual_default" not in row:
        res = query_ivfpq_index(
            spark, D3C_IDX_RES, qdf, vectors=corpus, nprobe=3
        ).collect()
        got = {(int(r.q_id), int(r.c_id)) for r in res}
        row["d3c_residual_default"] = {
            "recall_at_5": round(len(got & truth) / len(truth), 4),
            "r13_x128_recall": prev["d3_clustered"]["residual"][
                "shortlist_check"
            ]["128"]["recall_at_5"],
        }
        flush()
        print(f"  d3c residual default: {row['d3c_residual_default']}")

    # --- d3t re-check at the default knob ---
    if "d3t_default" not in row and os.path.exists(D3T):
        t_corpus, t_qdf = _dataset(D3T)
        t_truth = {tuple(p) for p in prev["d3_tight"]["truth"]["pairs"]}
        out = {}
        for mode in ("flat", "residual"):
            idx = os.path.join(HERE, ".scale", f"d3t_idx_{mode}")
            res = query_ivfpq_index(
                spark, idx, t_qdf, vectors=t_corpus, nprobe=3
            ).collect()
            got = {(int(r.q_id), int(r.c_id)) for r in res}
            out[mode] = {
                "recall_at_5": round(len(got & t_truth) / len(t_truth), 4),
                "r13_x8": prev["d3_tight"][mode]["recall_x8"],
                "r13_x128": prev["d3_tight"][mode]["recall_x128"],
            }
        row["d3t_default"] = out
        flush()
        print(f"  d3t default: {out}")

    # --- handle concurrency: N threads sharing one handle (VERDICT #7) ---
    if "handle_concurrency" not in row:
        import concurrent.futures as cf

        h = open_ivfpq_index(spark, D3C_IDX)
        h.query(qdf, vectors=corpus, nprobe=3).collect()  # warm
        per_thread = 4
        out = {}
        for n_threads in (1, 4, 16):
            def one(_):
                return len(h.query(qdf, vectors=corpus, nprobe=3).collect())

            t0 = time.perf_counter()
            with cf.ThreadPoolExecutor(max_workers=n_threads) as ex:
                counts = list(ex.map(one, range(n_threads * per_thread)))
            wall = time.perf_counter() - t0
            assert all(c == counts[0] for c in counts)
            out[str(n_threads)] = {
                "batches": n_threads * per_thread,
                "wall_sec": round(wall, 3),
                "batches_per_sec": round(n_threads * per_thread / wall, 3),
            }
            print(f"  concurrency {n_threads} threads: {out[str(n_threads)]}")
        row["handle_concurrency"] = out
        flush()


D3L = os.path.join(HERE, ".scale", "d3l")
D3L_SIGMA = 0.3   #: in-subspace std: ||residual|| ~ 0.3·sqrt(8) ~ 0.85·||center||
D3L_RANK = 8      #: residual subspace rank (of dim 64)


def run_ivfpq_lowrank(spark) -> None:
    """The FOURTH residual regime (VERDICT r13 #5): anisotropic
    low-rank cluster noise — each cluster's residuals live in a seeded
    8-of-64-dim subspace (generate_clustered_embeddings cov_rank=8) at
    a residual-norm/vector-norm ratio (~0.65) where the r13 isotropic
    measurement said flat wins.  If residual encoding wins HERE, the
    operating rule is about covariance STRUCTURE, not just the norm
    ratio — which is what classical IVFADC reports on real descriptors
    (Jégou et al. TPAMI 2011 §V).  Rows land under "d3_lowrank";
    every sub-step resumes."""
    import statistics

    import numpy as np
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _TOP_K,
        build_ivfpq_index,
        exact_topk_np,
        generate_clustered_embeddings,
        query_ivfpq_index,
    )

    path = os.path.join(HERE, "SCALE_REHEARSAL_RECALL.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    row = dict(prev.get("d3_lowrank", {}))
    row.setdefault("n", D3C_N)
    row.setdefault("k_centroids", D3C_K)
    row.setdefault("sigma", D3L_SIGMA)
    row.setdefault("cov_rank", D3L_RANK)

    def flush() -> None:
        prev["d3_lowrank"] = row
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)

    if not os.path.exists(os.path.join(D3L, "embeddings.parquet", "_SUCCESS")):
        t0 = time.perf_counter()
        generate_clustered_embeddings(
            spark, D3L, D3C_N, D3C_K, sigma=D3L_SIGMA, cov_rank=D3L_RANK
        )
        print(f"  d3l generated in {time.perf_counter() - t0:.1f}s")

    emb = table(spark, D3L, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 8).select("vec_id", "embedding")
    qdf = (
        emb.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))
        .localCheckpoint()
    )
    q_rows = [(r.q_id, list(r.qe)) for r in qdf.collect()]

    if "truth" not in row:
        t0 = time.perf_counter()
        truth_rows = exact_topk_np(corpus, q_rows, _TOP_K).collect()
        row["truth"] = {
            "exact_bruteforce_sec": round(time.perf_counter() - t0, 3),
            "pairs": sorted((int(r.q_id), int(r.c_id)) for r in truth_rows),
        }
        flush()
        print(f"  exact truth: {row['truth']['exact_bruteforce_sec']}s")
    truth = {tuple(p) for p in row["truth"]["pairs"]}

    # measured residual-norm/vector-norm ratio (the r13 operating-rule
    # statistic) on a 2k sample against the TRUE planted centers
    if "residual_ratio" not in row:
        sample = [
            (list(r.embedding), int(r.label))
            for r in emb.filter(F.col("vec_id") % 997 == 0)
            .select("embedding", "label")
            .limit(2000)
            .collect()
        ]
        from data_integration_system_spark.operators.similarity import (
            _CLUSTER_SEED,
        )

        ratios = []
        for vec, c in sample:
            g = np.random.default_rng((_CLUSTER_SEED << 20) ^ c).standard_normal(64)
            center = g / np.linalg.norm(g)
            v = np.asarray(vec, dtype=np.float64)
            ratios.append(float(np.linalg.norm(v - center) / np.linalg.norm(v)))
        row["residual_ratio"] = {
            "mean": round(float(np.mean(ratios)), 4),
            "n_sampled": len(ratios),
        }
        flush()
        print(f"  residual ratio: {row['residual_ratio']}")

    for mode in ("flat", "residual"):
        mrow = dict(row.get(mode, {}))
        idx = os.path.join(HERE, ".scale", f"d3l_idx_{mode}")
        built = os.path.exists(os.path.join(idx, "codes", "_SUCCESS"))
        if "build_sec" not in mrow or not built:
            t0 = time.perf_counter()
            build_ivfpq_index(spark, D3L, idx, mode=mode)
            mrow["build_sec"] = round(time.perf_counter() - t0, 3)
            row[mode] = mrow
            flush()
            print(f"  {mode} build: {mrow['build_sec']}s")
        if "recall_default" not in mrow:
            walls, got = [], set()
            for _ in range(3):
                t0 = time.perf_counter()
                res = query_ivfpq_index(
                    spark, idx, qdf, vectors=corpus, nprobe=3
                ).collect()
                walls.append(round(time.perf_counter() - t0, 3))
                got = {(int(r.q_id), int(r.c_id)) for r in res}
            mrow["recall_default"] = round(len(got & truth) / len(truth), 4)
            mrow["query_sec_med3"] = statistics.median(walls)
            row[mode] = mrow
            flush()
            print(f"  {mode} default: recall {mrow['recall_default']} "
                  f"med3 {mrow['query_sec_med3']}s")


def run_opq_d3l(spark) -> None:
    """r15: OPQ at production scale — the fifth row of the code-quality
    evidence table.  The d3l corpus (2M vectors, anisotropic rank-8
    cluster noise, k=1,414) is where r14 measured flat 0.80 / residual
    0.90 recall@5 at the starved x=8 shortlist; OPQ attacks the same
    anisotropy from the other side (rotate the split instead of
    re-centering the codes), so this section places it on the same
    ladder: build .scale/d3l_idx_opq (flat codes + learned rotation),
    reuse the stored truth pairs (r14 campaign-reuse rule), measure
    recall at x=8 and at the counted default, plus an in-session flat
    A/B replay to anchor against the recorded 0.80.  Section "d3l_opq"
    in SCALE_REHEARSAL_RECALL.json; every sub-step resumes."""
    import statistics

    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        build_ivfpq_index,
        query_ivfpq_index,
    )

    path = os.path.join(HERE, "SCALE_REHEARSAL_RECALL.json")
    with open(path) as fh:
        prev = json.load(fh)
    prev = dict(prev)
    row = dict(prev.get("d3l_opq", {}))

    def flush() -> None:
        prev["d3l_opq"] = row
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)

    truth = {tuple(p) for p in prev["d3_lowrank"]["truth"]["pairs"]}
    emb = table(spark, D3L, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 8).select("vec_id", "embedding")
    qdf = (
        emb.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))
        .localCheckpoint()
    )

    idx = os.path.join(HERE, ".scale", "d3l_idx_opq")
    if "build_sec" not in row or not os.path.exists(
        os.path.join(idx, "rotation", "_SUCCESS")
    ):
        t0 = time.perf_counter()
        build_ivfpq_index(spark, D3L, idx, mode="opq")
        row["build_sec"] = round(time.perf_counter() - t0, 3)
        flush()
        print(f"  opq build: {row['build_sec']}s")

    def measure(idx_path, **kw):
        walls, got = [], set()
        for _ in range(3):
            t0 = time.perf_counter()
            res = query_ivfpq_index(
                spark, idx_path, qdf, vectors=corpus, nprobe=3, **kw
            ).collect()
            walls.append(round(time.perf_counter() - t0, 3))
            got = {(int(r.q_id), int(r.c_id)) for r in res}
        return {
            "recall_at_5": round(len(got & truth) / len(truth), 4),
            "query_sec_med3": statistics.median(walls),
        }

    if "opq_x8" not in row:
        row["opq_x8"] = measure(idx, shortlist_x=8)
        flush()
        print(f"  opq x8: {row['opq_x8']}")
    if "opq_default" not in row:
        row["opq_default"] = measure(idx)
        flush()
        print(f"  opq default: {row['opq_default']}")
    if "flat_x8_replay" not in row:
        flat_idx = os.path.join(HERE, ".scale", "d3l_idx_flat")
        row["flat_x8_replay"] = measure(flat_idx, shortlist_x=8)
        row["r14_recorded"] = {
            "flat_x8": prev["d3_lowrank"]["flat"]["recall_x8"],
            "residual_x8": prev["d3_lowrank"]["residual"]["recall_x8"],
        }
        flush()
        print(f"  flat x8 replay: {row['flat_x8_replay']}")


def run_sq8_d3l(spark) -> None:
    """r16: the SQ8-quantized refine tier at production scale.  Builds
    .scale/d3l_idx_sq8 (store_vectors="sq8" — same flat codes as
    d3l_idx_flat, vectors relation scalar-quantized) and measures, via
    the INDEX-RESIDENT re-rank (vectors=None) on both indexes: recall@5
    against the stored d3_lowrank truth, query med3, and the vectors
    relation's on-disk bytes — the storage/IO claim (~3× over snappy'd
    float64) and the zero-recall-cost claim at 2M vectors.  Section
    "d3l_sq8" in SCALE_REHEARSAL_RECALL.json; resumes per key."""
    import glob as _glob
    import statistics

    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        build_ivfpq_index,
        query_ivfpq_index,
    )

    path = os.path.join(HERE, "SCALE_REHEARSAL_RECALL.json")
    with open(path) as fh:
        prev = json.load(fh)
    prev = dict(prev)
    row = dict(prev.get("d3l_sq8", {}))

    def flush() -> None:
        prev["d3l_sq8"] = row
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)

    truth = {tuple(p) for p in prev["d3_lowrank"]["truth"]["pairs"]}
    emb = table(spark, D3L, "embeddings")
    qdf = (
        emb.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))
        .localCheckpoint()
    )

    idx_sq8 = os.path.join(HERE, ".scale", "d3l_idx_sq8")
    # the historical d3l_idx_flat carries NO vectors relation
    # (store_vectors skipped at its build), so the float-resident
    # baseline gets its own build; querying the vectors-less index with
    # vectors=None is recorded separately as the pure-ADC row — the
    # "what the refine tier buys" control
    idx_float = os.path.join(HERE, ".scale", "d3l_idx_floatvec")
    idx_adc = os.path.join(HERE, ".scale", "d3l_idx_flat")
    for key, idx, sv in (
        ("build_sec", idx_sq8, "sq8"),
        ("build_float_sec", idx_float, True),
    ):
        if key not in row or not os.path.exists(
            os.path.join(idx, "vectors", "_SUCCESS")
        ):
            t0 = time.perf_counter()
            build_ivfpq_index(spark, D3L, idx, store_vectors=sv)
            row[key] = round(time.perf_counter() - t0, 3)
            flush()
            print(f"  {key}: {row[key]}s")

    def rel_bytes(p):
        return sum(
            os.path.getsize(f)
            for f in _glob.glob(f"{p}/**/*.parquet", recursive=True)
        )

    row["vectors_bytes"] = {
        "float": rel_bytes(f"{idx_float}/vectors"),
        "sq8": rel_bytes(f"{idx_sq8}/vectors"),
    }
    row["vectors_bytes"]["ratio"] = round(
        row["vectors_bytes"]["float"] / row["vectors_bytes"]["sq8"], 2
    )
    flush()
    print(f"  vectors bytes: {row['vectors_bytes']}")

    def measure(idx_path):
        # vectors=None: the index-resident relation re-ranks — the
        # serving shape whose I/O the quantization shrinks
        walls, got = [], set()
        for _ in range(3):
            t0 = time.perf_counter()
            res = query_ivfpq_index(spark, idx_path, qdf, nprobe=3).collect()
            walls.append(round(time.perf_counter() - t0, 3))
            got = {(int(r.q_id), int(r.c_id)) for r in res}
        return {
            "recall_at_5": round(len(got & truth) / len(truth), 4),
            "query_sec_med3": statistics.median(walls),
        }

    if "sq8_resident" not in row:
        row["sq8_resident"] = measure(idx_sq8)
        flush()
        print(f"  sq8 resident: {row['sq8_resident']}")
    if "float_resident" not in row:
        row["float_resident"] = measure(idx_float)
        flush()
        print(f"  float resident: {row['float_resident']}")
    if "flat_adc_only" not in row:
        row["flat_adc_only"] = measure(idx_adc)
        flush()
        print(f"  flat ADC-only control: {row['flat_adc_only']}")

    # r16 delete tier: tombstone-filter overhead on the serving path at
    # 2M vectors — 1,000 deleted ids (none in any probed shortlist, so
    # recall is unchanged and the measured delta is pure anti-join cost)
    if "delete_overhead" not in row:
        from data_integration_system_spark.operators.similarity import (
            delete_from_ivfpq_index,
        )

        t0 = time.perf_counter()
        n_new = delete_from_ivfpq_index(
            spark, idx_float, list(range(500_000_000, 500_001_000))
        )
        delete_wall = round(time.perf_counter() - t0, 3)
        after = measure(idx_float)
        row["delete_overhead"] = {
            "n_tombstones": 1000,
            "tombstones_written": int(n_new),
            "delete_wall_sec": delete_wall,
            "query_with_tombstones": after,
            "query_before": row["float_resident"],
        }
        flush()
        print(f"  delete overhead: {row['delete_overhead']}")


def run_purge_lake(spark) -> None:
    """r16: the lake purge primitive priced at metastore scale — the
    2,000-site / 2M-row committed store (.scale/lake2k, r15).  Purges
    500 keys drawn from TWO sites through purge_snapshot (locate via
    one column-pruned scan, rewrite 2 partitions, byte-copy 1,998,
    splice, OCC commit), measures the wall and the post-purge probe,
    verifies content, then RESTORES the fixture (drops the new version,
    resets _CURRENT) so the campaign is re-runnable and other lake2k
    rows stay comparable.  Section "lake_purge_2k" in
    SCALE_REHEARSAL.json."""
    import shutil

    from pyspark.sql import functions as F

    from data_integration_system_spark.pipeline.layout import purge_snapshot
    from data_integration_system_spark.pipeline.snapshots import read_current

    path = os.path.join(HERE, "SCALE_REHEARSAL.json")
    with open(path) as fh:
        prev = json.load(fh)
    prev = dict(prev)
    if "lake_purge_2k" in prev:
        print("  lake_purge_2k: already recorded, skipping")
        return
    root = os.path.join(HERE, ".scale", "lake2k")
    # deterministic half-and-half draw: a bare limit() would satisfy
    # itself from the first partition's files alone
    victims = (
        read_current(spark, root, partitions=["site0", "site1"])
        .filter(F.col("id") < 500 * 2000)  # site = id % 2000 -> 250/site
        .select("id")
        .localCheckpoint()
    )
    n_victims = victims.count()
    t0 = time.perf_counter()
    rep = purge_snapshot(spark, root, victims, "id")
    purge_wall = round(time.perf_counter() - t0, 3)
    assert rep["purged"] and sorted(rep["rewritten"]) == ["site0", "site1"]
    assert rep["copied_partitions"] == 1998
    t0 = time.perf_counter()
    probe_n = read_current(spark, root, partitions=["site0", "site1"]).count()
    probe_wall = round(time.perf_counter() - t0, 3)
    assert probe_n == 2000 - n_victims
    row = {
        "store": "lake2k (2,000 sites, 2M rows)",
        "keys_purged": int(n_victims),
        "rewritten_partitions": 2,
        "copied_partitions": 1998,
        "purge_wall_sec": purge_wall,
        "post_purge_probe_sec": probe_wall,
        "note": "locate = one column-pruned scan; compute tracks the 2 "
                "affected partitions' bytes; 1,998 clean partitions are "
                "POOLED byte-copies (32-thread shutil on local fs, "
                "Hadoop FileUtil pool elsewhere); manifest splice "
                "O(rewrites)",
    }
    # restore the fixture: drop the purge version, reset the pointer.
    # The pointer was committed through Hadoop's checksummed local FS,
    # so a raw Python rewrite leaves a stale ._CURRENT.crc sidecar and
    # every later Hadoop read fails with ChecksumException — drop it.
    new_v = rep["version"]
    shutil.rmtree(os.path.join(root, new_v))
    crc = os.path.join(root, "._CURRENT.crc")
    if os.path.exists(crc):
        os.remove(crc)
    with open(os.path.join(root, "_CURRENT"), "w") as fh:
        fh.write(rep["previous_version"])
    prev["lake_purge_2k"] = row
    with open(path, "w") as fh:
        json.dump(prev, fh, indent=1, sort_keys=True)
    print(f"  lake_purge_2k: {row}")


def run_index_cold_probes(spark) -> None:
    """VERDICT r13 #4: the cold-open listing cost of the OTHER four
    index tiers, one row each.  The d3c IVFADC paid ~4 s of listing at
    1,414 partition dirs; these tiers sit at 256 (minhash, fingerprint
    — above the 32-dir discovery threshold, so a distributed listing
    job DOES fire) and ~sqrt-ish k / 1 (IVF / PQ — below it, driver-
    side listing).  Each row: dir/file counts, COLD first-probe wall,
    warm med3 (the shared FileStatusCache makes every later read warm),
    and the max stage task count attributed to the cold probe (the
    listing job's signature is ~n_dirs tasks).  Adjudication and any
    manifest extension decision land in SCALE.md.  Section
    "index_cold_probes" in SCALE_REHEARSAL.json; resumes per tier."""
    import glob
    import statistics

    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.dedup import (
        build_minhash_index,
        query_minhash_index,
    )
    from data_integration_system_spark.operators.similarity import (
        build_ivf_index,
        build_pq_index,
        query_ivf_index,
        query_pq_index,
    )
    from data_integration_system_spark.operators.textops import (
        build_fingerprint_index,
        query_fingerprint_index,
    )

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    path = os.path.join(HERE, "SCALE_REHEARSAL.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    section = dict(prev.get("index_cold_probes", {}))

    def flush() -> None:
        prev["index_cold_probes"] = section
        with open(path, "w") as fh:
            json.dump(prev, fh, indent=1, sort_keys=True)

    docs_q = table(spark, sf, "documents").limit(8).localCheckpoint()
    emb = table(spark, sf, "embeddings")
    qdf = (
        emb.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))
        .localCheckpoint()
    )
    vecs = emb.filter(F.col("vec_id") >= 8).select("vec_id", "embedding")

    tiers = {
        "minhash": {
            "build": lambda idx: build_minhash_index(spark, sf, idx),
            "probe": lambda idx: query_minhash_index(spark, idx, docs_q),
            "rel": "bands",
        },
        "fingerprint": {
            "build": lambda idx: build_fingerprint_index(spark, sf, idx),
            "probe": lambda idx: query_fingerprint_index(spark, idx, docs_q),
            "rel": "fps",
        },
        "ivf": {
            "build": lambda idx: build_ivf_index(spark, sf, idx),
            "probe": lambda idx: query_ivf_index(spark, idx, qdf),
            "rel": "corpus",
        },
        "pq": {
            "build": lambda idx: build_pq_index(spark, sf, idx),
            "probe": lambda idx: query_pq_index(spark, idx, qdf, vectors=vecs),
            "rel": "codes",
        },
    }
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for tier, spec in tiers.items():
        if tier in section:
            continue
        idx = os.path.join(HERE, ".scale", f"coldidx_{tier}")
        rel_root = os.path.join(idx, spec["rel"])
        if not glob.glob(os.path.join(rel_root, "**", "_SUCCESS")) and not \
                os.path.exists(os.path.join(rel_root, "_SUCCESS")):
            spec["build"](idx)
        dirs = [
            d for d in os.listdir(rel_root)
            if "=" in d and os.path.isdir(os.path.join(rel_root, d))
        ]
        n_files = len(glob.glob(f"{rel_root}/**/*.parquet", recursive=True))

        group = f"cold-probe-{tier}"
        sc.setJobGroup(group, f"{tier} cold probe")
        t0 = time.perf_counter()
        n_rows = spec["probe"](idx).collect()
        cold = round(time.perf_counter() - t0, 3)
        max_tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            ji = tracker.getJobInfo(jid)
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None:
                    max_tasks = max(max_tasks, si.numTasks)
        sc.setJobGroup("", "")
        warm = []
        for _ in range(3):
            t0 = time.perf_counter()
            spec["probe"](idx).collect()
            warm.append(round(time.perf_counter() - t0, 3))
        section[tier] = {
            "n_partition_dirs": len(dirs),
            "n_files": n_files,
            "cold_probe_sec": cold,
            "warm_probe_sec_med3": statistics.median(warm),
            "warm_probe_runs": warm,
            "cold_max_stage_tasks": int(max_tasks),
            "result_rows": len(n_rows),
            "sf_dir": sf,
        }
        flush()
        print(f"  {tier}: {section[tier]}")


def run_jobs_overhead(spark) -> None:
    """Per-job overhead breakdown of the worker daemon (VERDICT r12
    #6): the r12 snapshot costs ~14 s/job of fixed orchestration; this
    harness runs the SAME 8-job fixture two ways and splits the wall:

    * direct drain — run_pending_jobs called in-process with the
      daemon's component functions wrapped in timers (claim fold,
      status writes, crawl BFS, report aggregation, snapshot write);
    * streaming drain — job_worker_stream end-to-end, so the
      difference prices the streaming trigger machinery itself.

    Writes the breakdown into SCALE_REHEARSAL_D3.json under
    "jobs_daemon_overhead"."""
    import collections
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    import data_integration_system_spark.pipeline.jobs as PJ
    from data_integration_system_spark.streaming.jobs import (
        _JOBS_FOLD_CONFIG,
        _demo_site_fetch,
        _pin_batch_mtimes,
        job_worker_stream,
    )

    path = os.path.join(HERE, "SCALE_REHEARSAL_D3.json")
    prev: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            prev = {}
    prev = dict(prev)
    if "jobs_daemon_overhead" in prev:
        print("  jobs_daemon_overhead: recorded, skipped")
        return

    def stage_fixture(root: str) -> str:
        jobs_path = f"{root}/jobs_log"
        o = table(spark, "/root/testdata/sf0.01", "orders").orderBy(
            "o_orderkey"
        ).limit(8)
        subs = o.select(
            F.col("o_orderkey").cast("string").alias("job_id"),
            F.concat(
                F.lit("https://ex.com/p"),
                (F.col("o_orderkey") % 4).cast("string"),
            ).alias("start_url"),
            F.lit("ex.com").alias("root_domain"),
            F.lit(_JOBS_FOLD_CONFIG).alias("config"),
            F.lit("PENDING").alias("status"),
            F.lit("").alias("error"),
            F.col("o_orderdate").alias("created_at"),
        ).localCheckpoint()
        for b in range(3):
            subs.filter(
                F.pmod(F.col("job_id").cast("long"), F.lit(3)) == b
            ).coalesce(1).write.mode("append").parquet(jobs_path)
            _pin_batch_mtimes(jobs_path, b + 1)
        return jobs_path

    # --- leg 1: direct drain with component timers ---
    times: dict = collections.defaultdict(float)
    counts: dict = collections.defaultdict(int)
    originals = {}

    def wrap(mod, name, key):
        orig = getattr(mod, name)
        originals[(mod, name)] = orig

        def timed(*a, **k):
            t0 = time.perf_counter()
            try:
                return orig(*a, **k)
            finally:
                times[key] += time.perf_counter() - t0
                counts[key] += 1

        setattr(mod, name, timed)

    wrap(PJ, "current_jobs", "claim_fold")
    wrap(PJ, "job_status_update", "status_write")
    wrap(PJ, "crawl", "crawl_bfs")
    wrap(PJ, "report_counts", "report_agg")
    wrap(PJ, "write_snapshot", "snapshot_write")
    root = tempfile.mkdtemp(prefix="jobs_ovh_")
    try:
        jobs_path = stage_fixture(root)
        t0 = time.perf_counter()
        while PJ.run_pending_jobs(
            spark, jobs_path, f"{root}/out", _demo_site_fetch()
        ):
            pass
        direct_wall = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        for (mod, name), orig in originals.items():
            setattr(mod, name, orig)

    components = {
        k: {"sec": round(times[k], 3), "calls": counts[k]}
        for k in sorted(times)
    }
    accounted = round(sum(times.values()), 3)

    # --- leg 2: streaming drain (same fixture, availableNow) ---
    root = tempfile.mkdtemp(prefix="jobs_ovh_s_")
    try:
        jobs_path = stage_fixture(root)
        t0 = time.perf_counter()
        q = job_worker_stream(
            spark,
            jobs_path,
            f"{root}/out",
            fetch_fn=_demo_site_fetch(),
            trigger={"availableNow": True},
            stream_options={"maxFilesPerTrigger": "1"},
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("streaming drain did not finish")
        q.stop()
        stream_wall = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    row = {
        "n_jobs": 8,
        "direct_drain_sec": direct_wall,
        "direct_components": components,
        "direct_accounted_sec": accounted,
        "direct_other_sec": round(direct_wall - accounted, 3),
        "streaming_drain_sec": stream_wall,
        "streaming_machinery_sec": round(stream_wall - direct_wall, 3),
        "per_job_direct_sec": round(direct_wall / 8, 3),
        "per_job_streaming_sec": round(stream_wall / 8, 3),
    }
    prev["jobs_daemon_overhead"] = row
    with open(path, "w") as fh:
        json.dump(prev, fh, indent=1, sort_keys=True)
    print(f"  jobs_daemon_overhead: {json.dumps(row, indent=1)}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--generate", action="store_true", help="build .scale/sf1")
    ap.add_argument("--time", action="store_true", help="time sf0.1 vs sf1")
    ap.add_argument("--generate-sf10", action="store_true", help="build .scale/sf10")
    ap.add_argument("--time-sf10", action="store_true", help="time sf1 vs sf10")
    ap.add_argument("--generate-d3", action="store_true", help="build .scale/d3")
    ap.add_argument("--time-d3", action="store_true", help="time sf10 vs d3")
    ap.add_argument("--generate-d3h", action="store_true", help="build .scale/d3h")
    ap.add_argument("--time-d3h", action="store_true", help="time d3h vs d3 (within-regime)")
    ap.add_argument("--recall", action="store_true", help="LSH recall vs brute force")
    ap.add_argument("--time-writes", action="store_true", help="write-path decade rows")
    ap.add_argument(
        "--time-writes-d2", action="store_true",
        help="write-path decade-2 rows (sf1 vs sf10)",
    )
    ap.add_argument(
        "--time-index-builds", action="store_true",
        help="index-build decade-3 rows (sf10 vs d3)",
    )
    ap.add_argument(
        "--time-writes-d3", action="store_true",
        help="document-side write-path decade-3 rows (sf10 vs d3)",
    )
    ap.add_argument(
        "--generate-d3e", action="store_true",
        help="build .scale/d3e (events only, 10x sf10)",
    )
    ap.add_argument(
        "--time-writes-d3e", action="store_true",
        help="events-side write-path decade-3 rows (sf10 vs d3e)",
    )
    ap.add_argument(
        "--retime-minhash-build", choices=["sf10", "d3"],
        help="re-time ONE leg of the minhash index build in this process",
    )
    ap.add_argument(
        "--retime-embedding-near", choices=["d3h", "d3"],
        help="re-time ONE leg of the embedding within-regime pair in this process",
    )
    ap.add_argument(
        "--time-pq", action="store_true",
        help="PQ build/query decade rows (sf10 vs d3)",
    )
    ap.add_argument(
        "--recall-pq", action="store_true",
        help="PQ planted-twin design-band recall at d3",
    )
    ap.add_argument(
        "--time-crawl", action="store_true",
        help="crawl write-path decade rows (20k/200k/2M pages + resume)",
    )
    ap.add_argument(
        "--time-tokenize", action="store_true",
        help="tokenizer-pass decade rows (sf10 vs d3 documents)",
    )
    ap.add_argument(
        "--time-streaming", action="store_true",
        help="streaming-machinery decade rows (sf0.1 vs sf1)",
    )
    ap.add_argument(
        "--time-streaming-d2", action="store_true",
        help="second streaming decade (sf1 vs sf10): EWMA + interval join",
    )
    ap.add_argument(
        "--pq-curve", action="store_true",
        help="PQ shortlist_x recall/latency curve at d3",
    )
    ap.add_argument(
        "--time-ivfpq", action="store_true",
        help="IVF-PQ build/query decade rows (sf10 vs d3)",
    )
    ap.add_argument(
        "--recall-ivfpq", action="store_true",
        help="IVF-PQ planted-twin recall at d3",
    )
    ap.add_argument(
        "--retime-embedding-topk", choices=["d3h", "d3"],
        help="re-time ONE leg of the bounded-output near-dup in this process",
    )
    ap.add_argument(
        "--ewma-split", action="store_true",
        help="EWMA sf10 fixture-vs-machinery split",
    )
    ap.add_argument(
        "--ivfpq-curve", action="store_true",
        help="IVF-PQ nprobe recall/latency curve at d3",
    )
    ap.add_argument(
        "--time-passjoin", action="store_true",
        help="PassJoin vs blocked-quadratic ED join on single-block "
        "synthetic corpora (20k..2M names)",
    )
    ap.add_argument(
        "--generate-d3c", action="store_true",
        help="build .scale/d3c (2M-vector planted-cluster corpus)",
    )
    ap.add_argument(
        "--ivfpq-clustered", action="store_true",
        help="IVF-PQ honest-regime rows: k=1414 build over d3c, "
        "recall/query/probed-fraction vs exact truth",
    )
    ap.add_argument(
        "--ivfpq-tight", action="store_true",
        help="tight-cluster residual regime rows (.scale/d3t)",
    )
    ap.add_argument(
        "--ivfpq-manifest", action="store_true",
        help="r14: manifest backfill + candidate-aware default recall/wall "
        "+ handle concurrency on d3c/d3t",
    )
    ap.add_argument(
        "--ivfpq-lowrank", action="store_true",
        help="r14: fourth residual regime — anisotropic low-rank cluster "
        "noise (.scale/d3l), flat vs residual at the default knob",
    )
    ap.add_argument(
        "--index-cold-probes", action="store_true",
        help="r14: cold-open listing cost of the minhash/fingerprint/ivf/pq "
        "tiers (one row each; $SPARK_GRAFT_SF_DIR corpus)",
    )
    ap.add_argument(
        "--jobs-overhead", action="store_true",
        help="worker-daemon per-job overhead breakdown (8-job fixture)",
    )
    ap.add_argument(
        "--ewma-jvm-split", action="store_true",
        help="EWMA sf10 JVM-fold drain (the fold-expressible escape "
        "hatch) against the same pre-staged fixture as --ewma-split",
    )
    ap.add_argument(
        "--online-sink-cadence", action="store_true",
        help="r15: per-micro-batch cost of the minhash/fingerprint "
        "ONLINE sinks at a d3-scale (5M-doc) index",
    )
    ap.add_argument(
        "--online-sink-geometry", action="store_true",
        help="r15: batch-size x bucket-count levers of the online "
        "minhash sink's per-batch probe cost at d3 scale",
    )
    ap.add_argument(
        "--opq-d3l", action="store_true",
        help="r15: OPQ recall at d3l scale (2M anisotropic vectors) "
        "vs the recorded flat/residual x8 rows",
    )
    ap.add_argument(
        "--online-sink-batchsize", action="store_true",
        help="r16: online minhash sink batch-size curve "
        "(400/4k/40k docs) at the 5M-doc index",
    )
    ap.add_argument(
        "--sq8-d3l", action="store_true",
        help="r16: SQ8-quantized refine tier at 2M vectors — "
        "bytes ratio + recall via the index-resident re-rank",
    )
    ap.add_argument(
        "--purge-lake", action="store_true",
        help="r16: purge_snapshot priced at the 2,000-site store "
        "(selective rewrite; fixture restored after)",
    )
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
    if args.time:
        _run_timing(spark, [("sf0.1", SF01), ("sf1", SF1)], "SCALE_REHEARSAL.json")
    if args.time_sf10:
        _run_timing(spark, [("sf1", SF1), ("sf10", SF10)], "SCALE_REHEARSAL_D2.json")
    if args.generate_d3h:
        print("generating", D3H)
        generate_d3h(spark)
    if args.time_d3:
        run_d3_timing(spark)
    if args.time_d3h:
        run_d3h_timing(spark)
    if args.recall:
        run_recall(spark)
    if args.time_writes:
        run_write_timing(spark)
    if args.time_writes_d2:
        run_write_timing_d2(spark)
    if args.time_writes_d3:
        run_write_timing_d3(spark)
    if args.generate_d3e:
        generate_d3e(spark)
    if args.time_writes_d3e:
        run_write_timing_d3e(spark)
    if args.time_index_builds:
        run_index_build_timing(spark)
    if args.retime_minhash_build:
        run_retime_minhash_build(spark, args.retime_minhash_build)
    if args.retime_embedding_near:
        run_retime_embedding_near(spark, args.retime_embedding_near)
    if args.time_pq:
        run_pq_timing(spark)
    if args.recall_pq:
        run_pq_recall(spark)
    if args.pq_curve:
        run_pq_curve(spark)
    if args.time_ivfpq:
        run_ivfpq_timing(spark)
    if args.recall_ivfpq:
        run_ivfpq_recall(spark)
    if args.retime_embedding_topk:
        run_retime_embedding_topk(spark, args.retime_embedding_topk)
    if args.ewma_split:
        run_ewma_fixture_split(spark)
    if args.ewma_jvm_split:
        run_ewma_jvm_split(spark)
    if args.online_sink_cadence:
        run_online_sink_cadence(spark)
    if args.online_sink_geometry:
        run_online_sink_geometry(spark)
    if args.opq_d3l:
        run_opq_d3l(spark)
    if args.online_sink_batchsize:
        run_online_sink_batchsize(spark)
    if args.sq8_d3l:
        run_sq8_d3l(spark)
    if args.purge_lake:
        run_purge_lake(spark)
    if args.time_passjoin:
        run_passjoin_timing(spark)
    if args.ivfpq_curve:
        run_ivfpq_curve(spark)
    if args.time_crawl:
        run_crawl_timing(spark)
    if args.time_tokenize:
        run_tokenize_timing(spark)
    if args.time_streaming:
        run_streaming_timing(spark)
    if args.time_streaming_d2:
        run_streaming_timing_d2(spark)
    if args.generate_d3c:
        generate_d3c(spark)
    if args.ivfpq_clustered:
        run_ivfpq_clustered(spark)
    if args.jobs_overhead:
        run_jobs_overhead(spark)
    if args.ivfpq_tight:
        run_ivfpq_tight(spark)
    if args.ivfpq_manifest:
        run_ivfpq_manifest(spark)
    if args.ivfpq_lowrank:
        run_ivfpq_lowrank(spark)
    if args.index_cold_probes:
        run_index_cold_probes(spark)


if __name__ == "__main__":
    main()

"""Text-analysis operators for training-data pipelines (SURVEY §2B Q27 +
north-star: quality scoring, token counting, language-ID, fingerprinting).

All hot-path text math is JVM-side (split / higher-order array functions /
regexp), never per-row Python — at 100 TB these run inside the scan
project with whole-stage codegen.  The reference's only text analytics
was `text_len` (filesystem_store.py:93); this module is the north-star
extension tier the BASELINE.json calls for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_system_spark.catalog import table
from data_integration_system_spark.functions.hashing import normalize_ws
from data_integration_system_spark.operators._common import drop_hot_keys
from data_integration_system_spark.registry import query
from data_integration_system_spark.pipeline import bucket_index

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on", "for", "it")
_STOP_SQL = "('" + "','".join(STOPWORDS) + "')"


def tokens_of(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


@query(
    "text_stats",
    oracle=r"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS sum_tokens,
           ROUND(CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
                 / COUNT(*), 2) AS avg_tokens,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 2) AS avg_chars
    FROM documents GROUP BY lang
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q27 — corpus token/char statistics per language: whitespace token
    counts + char metrics, grouped. Integer sums are exact so the double
    division is deterministic cross-engine."""
    docs = table(spark, sf_dir, "documents")
    ntok = F.size(tokens_of("text")).cast("long")
    return (
        docs.select("lang", ntok.alias("ntok"), "n_chars")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ntok").alias("sum_tokens"),
            F.round(F.sum("ntok").cast("double") / F.count("*"), 2).alias("avg_tokens"),
            F.round(F.sum("n_chars").cast("double") / F.count("*"), 2).alias("avg_chars"),
        )
    )


@query(
    "text_quality_score",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS toks,
             CAST(length(text) AS BIGINT) AS n_len
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           ROUND(CAST(len(list_filter(toks, t -> t IN {_STOP_SQL})) AS DOUBLE)
                 / len(toks), 4) AS stop_ratio,
           ROUND(CAST(len(list_filter(toks, t -> length(t) >= 6)) AS DOUBLE)
                 / len(toks), 4) AS long_tok_ratio,
           ROUND(CAST(n_len AS DOUBLE) / len(toks), 4) AS chars_per_token
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star quality scoring: stopword ratio, long-token ratio,
    chars-per-token — the standard cheap quality signals a pretraining
    pipeline filters on (C4/Gopher-style heuristics, expressed as pure
    column math)."""
    docs = table(spark, sf_dir, "documents")
    toks = tokens_of("text")
    d = docs.select(
        "doc_id", toks.alias("toks"), F.length("text").cast("long").alias("n_len")
    )
    ntok = F.size("toks")
    stop = F.size(F.filter("toks", lambda t: t.isin(*STOPWORDS)))
    longt = F.size(F.filter("toks", lambda t: F.length(t) >= 6))
    return d.select(
        "doc_id",
        ntok.cast("long").alias("n_tokens"),
        F.round(stop.cast("double") / ntok, 4).alias("stop_ratio"),
        F.round(longt.cast("double") / ntok, 4).alias("long_tok_ratio"),
        F.round(F.col("n_len").cast("double") / ntok, 4).alias("chars_per_token"),
    )


@query(
    "token_count_bpe",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens
    FROM documents
    """,
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star token counting: whitespace tokens + a BPE-ish regex
    count (letter runs / digit runs / single punctuation) — the standard
    cheap proxy for tokenizer-true counts when budgeting corpora."""
    docs = table(spark, sf_dir, "documents")
    bpe = F.size(F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)"))
    ws = F.size(tokens_of("text"))
    return docs.select(
        "doc_id",
        bpe.cast("long").alias("n_bpe_tokens"),
        ws.cast("long").alias("n_ws_tokens"),
    )


_LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "la"),
    "es": ("el", "y", "de"),
    "zh": ("zh0", "zh1", "zh2"),  # synthetic corpus has no CJK markers
}


def _lang_id_oracle() -> str:
    score = {
        lg: "len(list_filter(toks, t -> t IN ('" + "','".join(ms) + "')))"
        for lg, ms in _LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(score.values()) + ")"
    pred = "CASE " + " ".join(
        f"WHEN {best} > 0 AND {score[lg]} = {best} THEN '{lg}'"
        for lg in _LANG_MARKERS  # first matching lang wins ties, same as Spark fold
    ) + " ELSE 'und' END"
    return rf"""
    WITH t AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    )
    SELECT doc_id, lang,
           {pred} AS predicted_lang,
           CAST({best} AS BIGINT) AS marker_hits
    FROM t
    """


@query("text_lang_id", oracle=_lang_id_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star language-ID heuristic: score each candidate language by
    its marker-token hit count over the document's tokens; argmax with a
    deterministic tie-break (language declaration order) — exact-oracle
    since the whole heuristic is pure set arithmetic both engines share.

    Pure array expressions — at 100 TB this is a single codegen'd pass
    per document, no shuffle, no Python."""
    markers = _LANG_MARKERS
    docs = table(spark, sf_dir, "documents")
    toks = tokens_of("text")

    def marker_score(ms: tuple[str, ...]):
        # NB: a 1-arg lambda is required — F.filter dispatches on lambda
        # arity, so a `lambda t, ms=ms:` default-arg trick would bind the
        # element INDEX to ms.
        return F.size(F.filter(toks, lambda t: t.isin(*ms)))

    scores = [marker_score(ms).alias(f"s_{lang}") for lang, ms in markers.items()]
    d = docs.select("doc_id", "lang", *scores)
    best = F.greatest(*[F.col(f"s_{lg}") for lg in markers])
    pred = F.lit("und")
    for lg in reversed(list(markers)):  # earlier langs win ties -> fold from the back
        pred = F.when((F.col(f"s_{lg}") == best) & (best > 0), lg).otherwise(pred)
    return d.select(
        "doc_id",
        "lang",
        pred.alias("predicted_lang"),
        best.cast("long").alias("marker_hits"),
    )


def doc_fingerprints_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp_hash) winnowing fingerprints WITHOUT the output sort —
    the form downstream joins consume (a global orderBy is a full
    range-partition shuffle that a consumer re-shuffling on fp_hash
    would pay for nothing)."""
    return winnow_fingerprints(table(spark, sf_dir, "documents"))


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    spread: bool = True,
) -> DataFrame:
    """Winnowing fingerprint relation of ANY document DataFrame:
    (doc_id, fp_hash), k=5-token shingle hashes, min per w=4 window."""
    k, w = 5, 4
    # tokens staged first: `element_at(tokens_of(text), …)` would re-split
    # the document per shingle position after CollapseProject inlining —
    # O(n²) per doc (same trap as dedup.shingle_sets; localCheckpoint is
    # the evaluation barrier).  parallelize_scan first (unless the
    # caller passes spread=False for tiny probe sets): the rolling
    # hash+min windows are CPU-bound and a small corpus file is one
    # unsplittable partition.
    from data_integration_system_spark.operators._common import parallelize_scan

    if spread:
        docs = parallelize_scan(docs)
    td = docs.select(
        F.col(id_col).alias("doc_id"), tokens_of(text_col).alias("toks")
    ).localCheckpoint()
    toks = F.col("toks")
    nsh = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    sh_hashes = F.transform(
        F.sequence(F.lit(0), nsh - 1),
        lambda i: F.xxhash64(
            F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(k)])
        ),
    )
    d = td.select("doc_id", sh_hashes.alias("h")).localCheckpoint()
    nwin = F.greatest(F.size("h") - (w - 1), F.lit(1))
    fp = F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), nwin - 1),
                lambda i: F.array_min(F.slice(F.col("h"), (i + 1).cast("int"), w)),
            )
        )
    )
    # Exploded (doc_id, fp_hash) rows — the join shape fingerprint matching
    # actually uses (self-join on fp_hash to find overlapping docs), and
    # scalar columns only so any canonicalizer can sort/hash the output.
    return d.select("doc_id", F.explode(fp).alias("fp_hash"))


@query("doc_fingerprint", oracle=None)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star document fingerprinting (winnowing): hash every 5-token
    shingle (rolling-hash analog via xxhash64), then keep the minimum
    hash per window of 4 consecutive shingle hashes — the classic
    winnowing fingerprint set, exploded to (doc_id, fp_hash) rows.

    Rows-only: xxhash64 has no DuckDB twin. All JVM array expressions;
    the orderBy exists only to canonicalize THIS query's output."""
    return doc_fingerprints_unordered(spark, sf_dir).orderBy("doc_id", "fp_hash")


@query(
    "text_normalize",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                               '\s+', ' ', 'g')) AS norm_text
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star text normalization (the P3 prep generalized into a
    reusable cleaning stage): lowercase, strip non-alphanumerics,
    collapse whitespace — the canonical pre-dedup/pre-tokenize transform.
    Pure codegen'd regexp chain; at 100 TB this rides inside the scan."""
    docs = table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " "),
            r"\s+",
            " ",
        )
    )
    return docs.select("doc_id", norm.alias("norm_text"))


@query(
    "sample_stratified",
    oracle=r"""
    SELECT lang, doc_id,
           substr(sha256(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket
    FROM documents
    WHERE substr(sha256(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star deterministic sampling: keep docs whose sha256(doc_id)
    first hex digit < '4' — an exact 4/16 Bernoulli sample that is
    reproducible across engines, runs, and partitionings (unlike
    df.sample, whose RNG is partition-dependent).  Stratification is
    free: the hash is independent of lang, so each stratum is sampled
    at the same rate.  At 100 TB: a scan-side filter, zero shuffle."""
    docs = table(spark, sf_dir, "documents")
    bucket = F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 1)
    return (
        docs.select("lang", "doc_id", bucket.alias("bucket"))
        .filter(F.col("bucket").isin("0", "1", "2", "3"))
    )


@query(
    "contamination_check",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(range(1, greatest(len(toks)-2,0)+1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             ELSE [array_to_string(toks, ' ')] END) AS shingle
      FROM t
    ), bench AS (
      SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 50 = 0
    ), corpus AS (
      SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0
    )
    SELECT c.doc_id, b.bench_id, COUNT(DISTINCT c.shingle) AS n_shared
    FROM corpus c JOIN bench b ON c.shingle = b.shingle
    GROUP BY c.doc_id, b.bench_id
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star benchmark-contamination check: which corpus documents
    share word-3-gram shingles with a held-out benchmark set (stand-in:
    doc_id % 50 == 0), and how many.

    Implementation is the inverted-index join: explode shingles on both
    sides, equi-join on the shingle, count distinct shared shingles per
    (corpus_doc, bench_doc).  At 100 TB the bench side is small ->
    broadcast; the corpus side streams through one exploded scan, so the
    cost is O(corpus shingles), not O(pairs)."""
    from data_integration_system_spark.operators.dedup import shingle_sets

    docs = table(spark, sf_dir, "documents")
    sh = shingle_sets(docs).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    bench = sh.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    corpus = sh.filter(F.col("doc_id") % 50 != 0)
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count_distinct("shingle").alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# Materialized fingerprint index: the inverted index written once,
# probed with partition pruning (sibling of dedup.build_minhash_index).
# ---------------------------------------------------------------------------

_FP_INDEX_BUCKETS = 256
#: stop-hash prune threshold: fingerprints present in more docs than
#: this are boilerplate and excluded from the index at write time
_FP_STOP_DOCS = 20


def build_fingerprint_index(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    n_buckets: int = _FP_INDEX_BUCKETS,
    stop_docs: int | None = _FP_STOP_DOCS,
) -> None:
    """Materialize the winnowing inverted index: the bucketed table
    ``{index}/fps`` keyed on fp_hash (pipeline/bucket_index owns the
    layout, meta and tombstone lifecycle), rows ``(fp_hash, doc_id)``.
    Stop-hashes (boilerplate fingerprints in > stop_docs documents) are
    dropped at WRITE time — the stored index can never hand back a
    quadratic posting list.

    The winnowing relation is checkpointed BEFORE the stop-hash prune:
    drop_hot_keys consumes its input twice (hot-key aggregation + the
    anti-join side), and the min-per-window explode is the expensive
    stage — without the barrier the whole derivation runs twice
    (measured ~10 s -> ~6 s at sf0.1)."""
    fp = doc_fingerprints_unordered(spark, sf_dir).localCheckpoint()
    if stop_docs is not None:
        fp = drop_hot_keys(fp, ["fp_hash"], stop_docs)
    bucket_index.build(spark, index_path, "fps", fp, "fp_hash", n_buckets)


def append_fingerprint_index(
    spark: SparkSession,
    index_path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = _FP_INDEX_BUCKETS,
    fps_df: DataFrame | None = None,
) -> None:
    """Incrementally index new documents' winnowing fingerprints —
    the append sibling of build_fingerprint_index (API symmetry with
    append_minhash_index).  Creates the index (meta included) when none
    exists, so a stream can start cold.

    ``fps_df``: a precomputed ``winnow_fingerprints`` relation for the
    SAME batch, shared with a probe over it (fingerprint_overlap_sink
    appends then queries per trigger; the derivation is deterministic,
    so sharing changes no output — it removes the duplicate
    fingerprint pass).

    Stop-hash pruning is deliberately NOT applied per append: a batch
    can't see global document frequencies — rebuild periodically (the
    compaction analog) to re-apply the prune over the full corpus."""
    fp = (
        fps_df
        if fps_df is not None
        else winnow_fingerprints(new_docs, text_col, id_col, spread=False)
    )
    bucket_index.append(
        spark, index_path, "fps", fp, "fp_hash", n_buckets,
        new_docs.select(F.col(id_col).alias("doc_id")),
    )


#: Logical DELETE (pipeline/bucket_index.delete): tombstoned docs stop
#: appearing as overlap MATCHES on the next query — the takedown path
#: for the fingerprint_overlap_sink surface.
delete_from_fingerprint_index = bucket_index.delete


def query_fingerprint_index(
    spark: SparkSession,
    index_path: str,
    query_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = 5,
    fps_df: DataFrame | None = None,
) -> DataFrame:
    """Overlap lookup against a built fingerprint index: (q_id, c_id,
    shared_fps) for every indexed document sharing >= min_shared
    fingerprints with a query document.  ``fps_df``: share the
    deterministic fingerprint derivation with an append over the SAME
    batch (see append_fingerprint_index).

    The bucket probe (pipeline/bucket_index.probe) reads only the probed
    posting-list partitions and drops tombstoned candidates before the
    per-pair aggregation.  Querying the corpus against itself
    reproduces fingerprint_overlap_pairs exactly (pinned in tests).

    shared_fps counts DISTINCT fp_hash per pair: winnow_fingerprints
    already emits distinct (doc_id, fp_hash), so on a clean index this
    equals count(*), but an index holding redelivered rows (the
    streaming sink's at-least-once appends) would otherwise inflate the
    count and push sub-threshold pairs over min_shared."""
    qfp = (
        fps_df
        if fps_df is not None
        else winnow_fingerprints(query_docs, text_col, id_col, spread=False)
    )
    return (
        bucket_index.probe(spark, index_path, "fps", qfp, "fp_hash")
        .groupBy("q_id", "c_id")
        .agg(F.count_distinct("fp_hash").cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


@query("fingerprint_overlap_pairs", oracle=None)
def fingerprint_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-based near-dup detection — the consumer the winnowing
    fingerprints exist for: documents sharing >= 5 fingerprints, via an
    inverted-index self-join on fp_hash.

    Scale shape: join key is a single hash — near-uniform except for
    boilerplate fingerprints shared by many docs.  Those are dropped
    with a frequency cap before the self-join (the classic stop-hash
    prune; same quadratic-bucket defense as dedup's LSH cap), so pair
    production stays near-linear.  Rows-only (xxhash64 fingerprints
    have no DuckDB twin)."""
    # Barrier BEFORE the prune: drop_hot_keys consumes its input twice
    # (hot-key agg + anti-join probe) and the self-join reads it twice
    # more — without the checkpoint the min-per-window explode re-runs
    # for every consumer (same fix as build_fingerprint_index :385;
    # measured ~2.0 s -> ~1.3 s at sf0.1, VERDICT r6 #2).
    fp = doc_fingerprints_unordered(spark, sf_dir).localCheckpoint()
    # stop-hash prune: fingerprints in >20 docs are boilerplate
    fp = drop_hot_keys(fp, ["fp_hash"], _FP_STOP_DOCS)
    a = fp.alias("a")
    b = fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp_hash") == F.col("b.fp_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= 5)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Training-data curation tier (r3): rule-based quality filtering,
# repetition scoring, vocabulary building, source mixing, and the
# decontamination ACT that contamination_check's report feeds.
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "and", "of", "to", "in")


@query(
    "quality_filter_gopher",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_aggregate(list_transform(toks, w -> strlen(w)), 'sum')
                  AS BIGINT) AS n_word_chars,
             list_has_any(toks, ['the','a','and','of','to','in']) AS has_stopword
      FROM t
    )
    SELECT doc_id, n_words,
           n_word_chars * 100 // n_words AS mean_wl_e2,
           has_stopword,
           (n_words BETWEEN 20 AND 1000)
             AND (n_word_chars * 100 // n_words BETWEEN 300 AND 1000)
             AND has_stopword AS passes
    FROM m
    """,
)
def quality_filter_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter (word-count bounds, mean
    word length bounds, stopword presence — the Rae et al. 2021 repetition
    /quality heuristics' deterministic core), emitting the metrics AND
    the verdict so downstream can either filter or audit.

    All JVM array expressions inside one scan projection — at 100 TB this
    is a zero-shuffle map over the corpus, the cheapest possible quality
    pass.  Mean word length is integer-scaled (×100, floor) for
    engine-stable comparison."""
    docs = table(spark, sf_dir, "documents")
    toks = tokens_of("text")
    d = docs.select("doc_id", toks.alias("toks")).localCheckpoint()
    n_words = F.size("toks").cast("long")
    n_chars = F.aggregate(
        F.transform(F.col("toks"), lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mean_wl = F.floor(n_chars * 100 / n_words).cast("long")
    has_stop = F.arrays_overlap("toks", F.array(*[F.lit(s) for s in _STOPWORDS]))
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_wl_e2"),
        has_stop.alias("has_stopword"),
        (
            n_words.between(20, 1000)
            & mean_wl.between(300, 1000)
            & has_stop
        ).alias("passes"),
    )


@query(
    "repetition_top_bigram",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM t WHERE len(toks) >= 2
    ), c AS (
      SELECT doc_id, bigram, count(*) AS n FROM bg GROUP BY doc_id, bigram
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_bigrams,
           CAST(max(n) AS BIGINT) AS top_bigram_n,
           CAST(max(n) * 10000 // sum(n) AS BIGINT) AS rep_e4
    FROM c GROUP BY doc_id
    """,
)
def repetition_top_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality score: the fraction of a document's word
    bigrams taken by its single most frequent bigram (the Gopher
    duplicate-n-gram family's 2-gram member).  High rep_e4 = boilerplate
    / keyword-stuffed text.

    Shape at 100 TB: explode to (doc_id, bigram), ONE shuffle keyed by
    (doc_id, bigram), then a map-side-combinable per-doc rollup —
    repetition never forms cross-document state.  Integer-scaled ratio
    (×10⁴, floor) for engine parity."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select("doc_id", tokens_of("text").alias("toks")).localCheckpoint()
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.concat_ws(
            " ", F.element_at("toks", (i + 1).cast("int")),
            F.element_at("toks", (i + 2).cast("int")),
        ),
    )
    per = (
        d.filter(F.size("toks") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("n"))
    )
    return per.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("n_bigrams"),
        F.max("n").cast("long").alias("top_bigram_n"),
        F.floor(F.max("n") * 10000 / F.sum("n")).cast("long").alias("rep_e4"),
    )


@query(
    "token_top_vocab",
    oracle=r"""
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents
    ), c AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token
    )
    SELECT token, n,
           CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank
    FROM c ORDER BY rank LIMIT 100
    """,
)
def token_top_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-100 whitespace tokens by frequency —
    the first step of any tokenizer/vocab build over a training corpus.

    Scale shape: explode -> ONE count shuffle on the token (map-side
    partials absorb the Zipfian head: each scan partition emits one
    partial per distinct token, so the hot token is n_partitions rows,
    not n_occurrences), then TakeOrderedAndProject for the top-k — no
    global sort materializes."""
    docs = table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens_of("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), "token")
    return (
        counts.orderBy(F.col("n").desc(), "token")
        .limit(100)
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )


@query(
    "domain_mix_weights",
    oracle="""
    WITH g AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang, source
    ), t AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_groups FROM g
    )
    SELECT lang, source, n_docs,
           total * 1000000 // (n_groups * n_docs) AS weight_e6
    FROM g, t
    """,
)
def domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix rebalancing weights: per (lang, source) group, the
    resampling weight that moves the corpus toward a uniform target mix
    (weight = target_share / actual_share, integer-scaled ×10⁶) — the
    data-mixing step that precedes weighted sampling in a pretraining
    pipeline.

    One aggregation plus a broadcast of the 1-row totals; the weights
    table is tiny and becomes the broadcast side of the downstream
    weighted sampler at any corpus size."""
    docs = table(spark, sf_dir, "documents")
    g = docs.groupBy("lang", "source").agg(F.count("*").cast("long").alias("n_docs"))
    t = g.agg(
        F.sum("n_docs").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_groups"),
    )
    return g.crossJoin(F.broadcast(t)).select(
        "lang", "source", "n_docs",
        F.floor(F.col("total") * 1000000 / (F.col("n_groups") * F.col("n_docs")))
        .cast("long")
        .alias("weight_e6"),
    )


@query(
    "decontaminate_filter",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(range(1, greatest(len(toks)-2,0)+1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             ELSE [array_to_string(toks, ' ')] END) AS shingle
      FROM t
    ), bench AS (
      SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 50 = 0
    ), corpus AS (
      SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0
    ), contaminated AS (
      SELECT c.doc_id
      FROM corpus c JOIN bench b ON c.shingle = b.shingle
      GROUP BY c.doc_id, b.bench_id
      HAVING COUNT(DISTINCT c.shingle) >= 3
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id % 50 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
)
def decontaminate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination ACT that contamination_check's report feeds:
    drop every corpus document sharing >= 3 word-3-gram shingles with any
    held-out benchmark document (stand-in: doc_id % 50 == 0), keep the
    rest — the standard eval-leakage scrub before pretraining.

    Scale: the contaminated id set is a broadcast anti-join against the
    corpus scan (it is small by construction — contamination is the
    exception), so the scrub costs one corpus pass beyond the
    contamination join itself."""
    docs = table(spark, sf_dir, "documents")
    contaminated = (
        contamination_check(spark, sf_dir)
        .filter(F.col("n_shared") >= 3)
        .select("doc_id")
        .distinct()
    )
    return (
        docs.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(contaminated), "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
    )


@query(
    "pack_sequences",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
      FROM t
    )
    SELECT doc_id, lang, n_tokens,
           CAST(start_off // 512 AS BIGINT) AS seq_id,
           CAST(start_off % 512 AS BIGINT) AS seq_off
    FROM c
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (concat-then-split): documents are laid
    end-to-end in a deterministic per-lang order and cut into fixed
    512-token sequences; each doc is assigned the sequence containing
    its START offset plus its offset within it — the packing manifest a
    pretraining dataloader consumes.

    Scale shape: ONE shuffle keyed by lang (the window partition), and
    the running sum is a single ordered pass per partition.  At 100 TB
    you pack per (lang, shard) — the partition key IS the packing
    domain, so no global order is ever required; lang here stands in for
    that shard key."""
    return pack_relation(table(spark, sf_dir, "documents"))


def pack_relation(docs: DataFrame, seq_len: int = 512) -> DataFrame:
    """Library form of the packing manifest: ``(doc_id, lang, n_tokens,
    seq_id, seq_off)`` for ANY ``(doc_id, lang, text)`` relation — the
    release pipeline packs the CURATED survivors through this, the
    registered query packs the raw corpus."""
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = docs.select(
        "doc_id", "lang", F.size(tokens_of("text")).cast("long").alias("n_tokens")
    )
    d = d.withColumn("start_off", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return d.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(F.col("start_off") / seq_len).cast("long").alias("seq_id"),
        (F.col("start_off") % seq_len).cast("long").alias("seq_off"),
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\b555-\d{4}\b"


@query(
    "pii_redact",
    oracle=rf"""
    WITH salted AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 = 0 THEN ' user' || CAST(doc_id AS VARCHAR)
                       || '@mail.example.com' ELSE '' END
             || CASE WHEN doc_id % 4 = 0 THEN ' 10.' || CAST(doc_id % 200 AS VARCHAR)
                       || '.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
             || CASE WHEN doc_id % 5 = 0 THEN ' 555-'
                       || CAST(1000 + doc_id % 9000 AS VARCHAR) ELSE '' END
               AS raw
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{_PII_IP}')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(raw, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
           CAST(strlen(regexp_replace(regexp_replace(regexp_replace(raw,
                '{_PII_EMAIL}', '<EMAIL>', 'g'),
                '{_PII_IP}', '<IP>', 'g'),
                '{_PII_PHONE}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len
    FROM salted
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: count and redact emails / IPv4 addresses /
    phone extensions per document.  The synthetic corpus contains no
    PII, so a deterministic doc_id-derived contact line is injected
    first (mirrored exactly in the oracle) — the parity check then
    genuinely exercises regexp semantics on both engines rather than
    comparing all-zero counts.

    Scale shape: pure per-row JVM regexp expressions inside the scan
    projection — zero shuffle, the cheapest possible corpus pass, and
    the patterns stay in whole-stage codegen (no Python)."""
    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    raw = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" user"), did.cast("string"), F.lit("@mail.example.com")),
        ).otherwise(""),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" 10."),
                (did % 200).cast("string"),
                F.lit(".0."),
                (did % 250).cast("string"),
            ),
        ).otherwise(""),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" 555-"), (1000 + did % 9000).cast("string")),
        ).otherwise(""),
    )
    d = docs.select("doc_id", raw.alias("raw"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("raw", _PII_EMAIL, "<EMAIL>"), _PII_IP, "<IP>"
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.regexp_count("raw", F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count("raw", F.lit(_PII_IP)).cast("long").alias("n_ips"),
        F.regexp_count("raw", F.lit(_PII_PHONE)).cast("long").alias("n_phones"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


@query(
    "exact_substring_dup_spans",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
    ), sp AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - 8 + 2),
                    i -> array_to_string(list_slice(toks, i, i + 7), ' '))) AS span
      FROM t WHERE len(toks) >= 8
    ), c AS (
      SELECT doc_id, span, count(*) AS n_pos FROM sp GROUP BY doc_id, span
    ), w AS (
      SELECT doc_id, n_pos, SUM(n_pos) OVER (PARTITION BY span) AS total FROM c
    )
    SELECT doc_id,
           CAST(SUM(n_pos) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN total > 1 THEN n_pos ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           CAST(SUM(CASE WHEN total > 1 THEN n_pos ELSE 0 END) * 10000
                // SUM(n_pos) AS BIGINT) AS dup_frac_e4
    FROM w GROUP BY doc_id
    """,
)
def exact_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring marking at 8-token granularity (the
    deduplicate-training-data operator of Lee et al. 2022, approximated
    on n-gram span boundaries): for every document, the fraction of its
    8-token spans that occur anywhere else in the corpus (or again in
    the same document).  High dup_frac_e4 = boilerplate to cut or drop.

    Scale shape: two shuffles — (doc_id, span) with map-side combine
    (absorbs within-doc repeats), then span (the corpus count).  The
    Zipf head is bounded: each scan partition emits one partial per
    distinct span.  At 100 TB the span string is replaced by a 128-bit
    hash before the shuffle; the string form here keeps the oracle
    byte-identical."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select("doc_id", tokens_of("text").alias("toks")).localCheckpoint()
    spans = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 8),
        lambda i: F.array_join(F.slice("toks", i + 1, 8), " "),
    )
    per = (
        d.filter(F.size("toks") >= 8)
        .select("doc_id", F.explode(spans).alias("span"))
        .groupBy("doc_id", "span")
        .agg(F.count("*").alias("n_pos"))
    )
    total = F.sum("n_pos").over(Window.partitionBy("span"))
    dup = F.when(F.col("total") > 1, F.col("n_pos")).otherwise(F.lit(0))
    return (
        per.withColumn("total", total)
        .groupBy("doc_id")
        .agg(
            F.sum("n_pos").cast("long").alias("n_spans"),
            F.sum(dup).cast("long").alias("n_dup_spans"),
            F.floor(F.sum(dup) * 10000 / F.sum("n_pos")).cast("long")
            .alias("dup_frac_e4"),
        )
    )


@query(
    "weighted_resample",
    oracle="""
    WITH g AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang, source
    ), t AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_groups FROM g
    ), w AS (
      SELECT lang, source,
             total * 1000000 // (n_groups * n_docs) AS weight_e6
      FROM g, t
    )
    SELECT d.doc_id, d.lang, d.source,
           w.weight_e6 // 1000000
             + CASE WHEN (d.doc_id * 1103515245 + 12345) % 1000000
                         < w.weight_e6 % 1000000 THEN 1 ELSE 0 END
             AS n_copies
    FROM documents d JOIN w USING (lang, source)
    """,
)
def weighted_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampling ACT that domain_mix_weights feeds: per document, how
    many copies enter the rebalanced corpus (floor(weight) guaranteed
    copies + one more with probability frac(weight), decided by a
    deterministic doc_id-keyed LCG — reproducible across engines, runs,
    and partitionings, unlike df.sample).  n_copies = 0 drops the doc;
    >= 2 upsamples an under-represented (lang, source) group.

    Scale shape: the weights table is |langs × sources| rows — a
    broadcast join onto the corpus scan, zero shuffle of the corpus
    itself.  Downstream materialization is explode(sequence(1,
    n_copies)), which stays scan-side too."""
    docs = table(spark, sf_dir, "documents")
    g = docs.groupBy("lang", "source").agg(F.count("*").cast("long").alias("n_docs"))
    t = g.agg(
        F.sum("n_docs").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_groups"),
    )
    w = g.crossJoin(F.broadcast(t)).select(
        "lang",
        "source",
        F.floor(F.col("total") * 1000000 / (F.col("n_groups") * F.col("n_docs")))
        .cast("long")
        .alias("weight_e6"),
    )
    u = (F.col("doc_id") * 1103515245 + 12345) % 1000000
    return docs.join(F.broadcast(w), ["lang", "source"]).select(
        "doc_id",
        "lang",
        "source",
        (
            F.floor(F.col("weight_e6") / 1000000)
            + F.when(u < F.col("weight_e6") % 1000000, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_copies"),
    )


@query(
    "rare_token_score",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents
    ), vocab AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(1000000 // v.cnt) // count(*) AS BIGINT) AS rarity_e6
    FROM tok t JOIN vocab v USING (token)
    GROUP BY t.doc_id
    """,
)
def rare_token_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token density per document: mean inverse corpus frequency of
    the doc's tokens, integer-scaled (rarity_e6 = mean of 1e6 //
    corpus_count).  The curation signal that flags OCR noise, gibberish,
    and boilerplate-free uniqueness without an LM — a cheap stand-in for
    perplexity-based quality filters (no log(): libm rounding diverges
    between engines, integer division cannot).

    Scale shape: corpus vocab = ONE map-side-combined count shuffle on
    the token (Zipf head collapses to n_partitions partials); exploded
    tokens then join the vocab on the token key and fold back to docs —
    AQE broadcasts the vocab when it fits (it usually does: vocab grows
    ~log of corpus), else both sides co-shuffle on the token.  All
    integer math, exact oracle."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens_of("text")).alias("token"))
    vocab = tok.groupBy("token").agg(F.count("*").cast("long").alias("cnt"))
    return (
        tok.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            # integer `div`, not `/`+cast: a double quotient half an ulp
            # under an integer would round across the floor boundary the
            # oracle's exact integer division never crosses
            F.expr("sum(1000000 div cnt) div count(*)")
            .cast("long")
            .alias("rarity_e6"),
        )
    )


@query(
    "tfidf_top_terms",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, token
    ), idf AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf * (n.n_docs // idf.df) AS score,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * (n.n_docs // idf.df) DESC, tf.token
             ) AS rnk
      FROM tf JOIN idf USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, CAST(rnk AS BIGINT) AS rnk,
           CAST(score AS BIGINT) AS score
    FROM scored WHERE rnk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by integer TF-IDF
    (score = tf × (N // df)) — the classic keyword-extraction /
    doc-representation step, with the idf as integer division so both
    engines score identically (float idf = log(N/df) diverges in libm).

    Scale shape: term frequencies are one (doc, token) shuffle with
    map-side combine; document frequencies reduce THAT aggregate (tiny),
    broadcast back onto it with the 1-row N; the per-doc top-3 window
    runs on the tf grain (|distinct doc-token|, far below token
    occurrences).  Ties break on the token for determinism."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens_of("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").cast("long").alias("tf"))
    idf = tf.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    n = docs.agg(F.count("*").cast("long").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        tf.join(F.broadcast(idf), "token")
        .crossJoin(F.broadcast(n))
        .withColumn("score", F.expr("tf * (n_docs div df)"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", "rnk", F.col("score").cast("long").alias("score"))
    )


@query(
    "doc_length_histogram",
    oracle="""
    SELECT CAST(LEAST(n_chars // 50, 12) AS BIGINT) AS bin,
           CAST(min(LEAST(n_chars // 50, 12)) * 50 AS BIGINT) AS bin_lo_chars,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(count(*) * 1000000 // SUM(count(*)) OVER () AS BIGINT)
             AS share_e6
    FROM documents
    GROUP BY bin ORDER BY bin
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram: 50-char bins (capped at bin 12) with
    doc counts, total chars, and each bin's ×10⁶ corpus share — the
    length-distribution profile a curation pipeline checks before
    picking context-length/packing budgets.

    Scale shape: the bin key is computed IN the scan (integer div +
    least — no UDF, no shuffle before the aggregate), so the histogram
    is one map-side-combined aggregation over ≤13 groups; the corpus
    total for the share column is a whole-relation window over those
    ≤13 rows (one single-partition exchange — no second aggregation
    branch, the corpus is scanned exactly once).  All-integer math —
    bins, sums, and the ×10⁶ floor-div share can't drift between
    engines."""
    docs = table(spark, sf_dir, "documents")
    return length_histogram_report(length_histogram_grain(docs))


def length_histogram_grain(docs: DataFrame) -> DataFrame:
    """``(bin, n_docs, sum_chars)`` bin counts from a documents relation
    — the reducible grain the batch query and the streaming ledger sink
    both aggregate (same split as dedup.dup_rate_report's)."""
    binned = docs.select(
        F.least(F.expr("n_chars div 50"), F.lit(12)).cast("long").alias("bin"),
        "n_chars",
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


def length_histogram_report(grain: DataFrame) -> DataFrame:
    """The histogram report from a (possibly duplicate-keyed) bin grain:
    re-sum per bin, derive the bin floor, add the ×10⁶ share window."""
    return (
        grain.groupBy("bin")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_chars").cast("long").alias("sum_chars"),
        )
        .select(
            "bin",
            (F.col("bin") * 50).cast("long").alias("bin_lo_chars"),
            "n_docs",
            "sum_chars",
        )
        .withColumn(
            "share_e6",
            F.expr("n_docs * 1000000 div sum(n_docs) over ()").cast("long"),
        )
        .orderBy("bin")
    )


@query(
    "lang_confusion_matrix",
    oracle=f"""
    WITH p AS ({_lang_id_oracle()})
    SELECT lang, predicted_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM p GROUP BY lang, predicted_lang
    """,
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: the labeled-vs-predicted confusion matrix
    of `text_lang_id` — the QUALITY-MEASUREMENT step every classifier in
    the curation pipeline needs before its output gates data (the
    lang-id sibling of `similarity_recall_at_k`'s ANN recall report).

    Composes the registered predictor verbatim on both sides (the Spark
    side calls it, the oracle CTE-wraps its SQL), so this matrix always
    grades the EXACT predictor that ships.

    Scale shape: the predictor is a zero-shuffle per-document array
    pass; the rollup is one |langs|² aggregation with map-side combine."""
    return (
        text_lang_id(spark, sf_dir)
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


@query(
    "source_quality_report",
    oracle=r"""
    WITH d AS (
      SELECT source,
             string_split_regex(trim(text), '\s+') AS toks,
             n_chars,
             sha256(substr(trim(regexp_replace(text, '\s+', ' ', 'g')), 1, 24))
               AS ch
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT ch) AS BIGINT) AS n_unique,
           CAST((count(*) - count(DISTINCT ch)) * 10000 // count(*)
                AS BIGINT) AS dup_rate_e4,
           CAST(SUM(len(toks)) AS BIGINT) AS sum_tokens,
           CAST(SUM(len(toks)) * 100 // count(*) AS BIGINT)
             AS avg_tokens_e2,
           CAST(SUM(n_chars) * 100 // count(*) AS BIGINT) AS avg_chars_e2
    FROM d GROUP BY source ORDER BY source
    """,
)
def source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source curation dashboard: volume, exact-dup rate (via the
    `dedup_exact` content key), and token/char density in one report —
    what an operator looks at before deciding a source's mix weight
    (composing the dedup, token-count, and domain-mix families).

    All ratios are integer-scaled (`div`), so the driver hash is exact;
    the distinct-hash count is the standard two-phase partial distinct.

    Scale shape: a single aggregation keyed on source over in-scan array
    arithmetic — no joins; the only heavy operand is the per-source
    DISTINCT, map-side reduced on (source, ch) partials."""
    docs = table(spark, sf_dir, "documents")
    toks = tokens_of("text")
    ch = F.sha2(F.substring(normalize_ws(F.col("text")), 1, 24), 256)
    d = docs.select(
        "source",
        F.size(toks).cast("long").alias("ntok"),
        "n_chars",
        ch.alias("ch"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("ch").cast("long").alias("n_unique"),
            F.sum("ntok").cast("long").alias("sum_tokens"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            F.expr("(n_docs - n_unique) * 10000 div n_docs")
            .cast("long")
            .alias("dup_rate_e4"),
            "sum_tokens",
            F.expr("sum_tokens * 100 div n_docs").cast("long").alias("avg_tokens_e2"),
            F.expr("sum_chars * 100 div n_docs").cast("long").alias("avg_chars_e2"),
        )
        .orderBy("source")
    )


@query(
    "bigram_lift_top",
    oracle=r"""
    WITH t AS (
      SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents
    ), uni AS (
      SELECT unnest(toks) AS tok FROM t
    ), uc AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY tok
    ), bg AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i])) AS w1,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i+1])) AS w2
      FROM t WHERE len(toks) >= 2
    ), bc AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS co FROM bg GROUP BY w1, w2
    ), n AS (
      SELECT CAST(SUM(co) AS BIGINT) AS nb FROM bc
    )
    SELECT bc.w1, bc.w2, bc.co,
           CAST(bc.co * n.nb * 1000 // (a.c * b.c) AS BIGINT) AS lift_e3
    FROM bc
    JOIN uc a ON a.tok = bc.w1
    JOIN uc b ON b.tok = bc.w2
    CROSS JOIN n
    WHERE bc.co >= 3 AND a.c >= 5 AND b.c >= 5
    ORDER BY lift_e3 DESC, w1, w2
    LIMIT 100
    """,
)
def bigram_lift_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the corpus's top word pairs by lift —
    observed bigram frequency over the frequency expected if the two
    words were independent — the association-strength signal behind
    phrase detection / tokenizer-merge candidates (the corpus-level
    sibling of `repetition_top_bigram`'s within-doc score).

    Lift is integer-only (`co·N·10³ div (c₁·c₂)`, N = total bigrams):
    no log/float PMI, so the driver hash is exact.  (At web scale
    promote the ×10³ numerator to DECIMAL: co·N approaches 2⁶³ once the
    corpus passes ~10¹⁵ bigrams.)  Support floors (co ≥ 3, c ≥ 5) bound
    the output to genuinely repeated pairs.

    Scale shape: one (w1, w2) shuffle for bigram counts; the unigram
    vocabulary aggregates once and BROADCASTS back twice (a vocabulary
    is small by Heaps' law however large the corpus); the bigram total
    is a 1-row broadcast; top-k is TakeOrdered, never a global sort."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select(tokens_of("text").alias("toks")).localCheckpoint(eager=False)
    uc = (
        d.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.struct(
            F.element_at("toks", (i + 1).cast("int")).alias("w1"),
            F.element_at("toks", (i + 2).cast("int")).alias("w2"),
        ),
    )
    bc = (
        d.filter(F.size("toks") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("co"))
    ).localCheckpoint(eager=False)  # feeds both the total and the report
    nb = bc.agg(F.sum("co").cast("long").alias("nb"))
    # apply the support floor BEFORE broadcasting: the hapax tail is
    # most of any vocabulary (Heaps' law) and every one of those rows
    # would be shipped to all executors twice just to be discarded;
    # the inner joins then enforce c >= 5 by construction
    uc5 = uc.filter(F.col("c") >= 5)
    a = uc5.select(F.col("tok").alias("_w1"), F.col("c").alias("c1"))
    b = uc5.select(F.col("tok").alias("_w2"), F.col("c").alias("c2"))
    return (
        bc.filter(F.col("co") >= 3)
        .join(F.broadcast(a), F.col("w1") == F.col("_w1"))
        .join(F.broadcast(b), F.col("w2") == F.col("_w2"))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            "co",
            F.expr("co * nb * 1000 div (c1 * c2)").cast("long").alias("lift_e3"),
        )
        .orderBy(F.col("lift_e3").desc(), "w1", "w2")
        .limit(100)
    )

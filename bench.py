#!/usr/bin/env python
"""Benchmark harness — the driver's per-round feedback loop.

Runs the headline query suite at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints exactly
ONE JSON line:

    {"metric": "suite_wall_sec", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Per-query timing = full plan execution to completion.  Results are
consumed via count() (aggregated queries are small) so we measure engine
time, not driver-side row materialization of wide outputs.

The printed line is kept COMPACT (flagship + slowest 10 queries only,
budget ~2 KB): round 5's full 94-query line outgrew the driver's
tail-capture window and BENCH_r05.json came back ``parsed: null``,
losing the suite wall and the flagship timing (VERDICT r5 "What's
wrong" #1).  The complete per-query dict is written to
``BENCH_DETAIL.json`` next to this script (committed per round), and
round-over-round regression comparison reads that sidecar when the
recorded BENCH_r{N}.json only carries the compact head.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: the headline set: flagship + one representative per operator family,
#: weighted toward the scale-sensitive shapes (joins, dedup, windows,
#: near-dup LSH, similarity).
HEADLINE = (
    "multiway_star_join",      # flagship: 4-way star join + agg
    "join_sortmerge_fact",     # big fact-fact shuffle join
    "join_broadcast_dim",      # broadcast dim joins
    "agg_counts_by_group",     # hash agg
    "agg_distinct",            # count-distinct expand
    "dedup_exact",             # hash dedup (window keep-one)
    "dedup_keep_latest",       # keep-latest window
    "upsert_changed_rows",     # outer-join upsert classify
    "window_rank_frames",      # analytic windows
    "tumbling_window_counts",  # event-time tumbling
    "session_windows",         # session windows
    "range_join_events",       # range join
    "asof_latest_event_per_order",  # as-of join
    "project_content_hash",    # scan + hash projection
    "text_quality_score",      # token-level text analysis
    "token_count_bpe",         # regex tokenization
    "dedup_minhash_near",      # MinHash+LSH near-dup
    "dedup_ngram_jaccard",     # exact blocked n-gram Jaccard
    "dedup_simhash",           # 16-bit-chunk Hamming LSH (width = scale knob)
    "contamination_check",     # inverted-index shingle join
    "similarity_topk",         # brute-force cosine top-k
    "approx_distinct",         # HLL sketch agg
    "multimodal_decode_meta",  # Arrow-batched mapInPandas decode
    # round-2 additions
    "pivot_lang_counts",       # explicit-value-list pivot
    "agg_cube_events",         # CUBE expand + single agg shuffle
    "orders_above_customer_avg",  # decorrelated window filter
    "top_sources_per_lang",    # aggregate-then-rank top-k
    "ntile_quartiles",         # equal-frequency binning window
    "embedding_norms",         # JVM HOF vector math in-scan
    "dedup_exact_full",        # full-hash dedup window
    "fingerprint_overlap_pairs",  # winnowing inverted-index self-join
    "customer_order_distribution",  # outer join + two-level agg (Q13 shape)
    "priority_counts_with_lineitem",  # EXISTS as left-semi (Q4 shape)
    # round-3 additions (training-data curation tier)
    "quality_filter_gopher",   # rule-based quality filter, in-scan
    "repetition_top_bigram",   # per-doc bigram repetition rollup
    "token_top_vocab",         # corpus vocab head (explode + topk)
    "decontaminate_filter",    # benchmark-leakage scrub (anti-join)
    "returned_item_report",    # TPC-H Q10 shape (filtered fact join)
    "segment_top_orders",      # TPC-H Q3 shape (dim-filtered star)
    "exact_substring_dup_spans",  # corpus-wide duplicated 8-gram marking
    "pack_sequences",          # per-lang token-budget packing window
    "pii_redact",              # in-scan regexp count/redact pass
    "large_volume_orders",     # TPC-H Q18 shape (agg-then-join topk)
    "brand_supplier_counts",   # TPC-H Q16 shape (two-phase distinct)
    "regional_nation_volume",  # TPC-H Q5 shape (correlated join constraint)
    # round-4 additions
    "pricing_summary",         # TPC-H Q1 shape (map-side-combine rollup)
    "forecast_revenue",        # TPC-H Q6 shape (pure scan-side filtering)
    "volume_shipping",         # TPC-H Q7 shape (nation-pair disjunction)
    "national_market_share",   # TPC-H Q8 shape (conditional share agg)
    "disjunctive_discount_revenue",  # TPC-H Q19 shape (OR-pushdown)
    "lone_returned_supplier_orders",  # TPC-H Q21 shape (semi+anti on fact)
    "rare_token_score",        # vocab join-back rarity signal
    "tfidf_top_terms",         # integer TF-IDF top-k per doc
    # round-5 additions
    "quantity_price_correlation",  # two-pass Pearson corr (agg shape)
    "dup_rate_by_source",      # reduced-grain dup-pressure report
    "daily_active_users",      # per-day distinct rollup
    "shipmode_priority_counts",  # TPC-H Q12 shape (conditional 2-branch agg)
    "excess_stock_suppliers",  # TPC-H Q20 shape (nested semi-join chain)
    "shipping_priority",       # TPC-H Q3 shape (star + grouped topk)
    "order_priority_check",    # TPC-H Q4 shape (non-equi EXISTS semi)
    "local_supplier_volume",   # TPC-H Q5 shape (same-nation arm constraint)
    "monthly_revenue_growth",  # month-grain lag/cumsum windows
    "customer_spend_percentile",  # percent_rank/cume_dist total-order window
    "doc_length_histogram",    # in-scan binned histogram + share window
    "salted_event_type_rollup",  # skew-salted two-phase aggregation
    "weekly_retention",        # cohort self-join on the distinct grain
    "lang_source_grouping_sets",  # bounded-Expand grouping sets
    "rolling_7day_event_volume",  # true range frame over the day grain
    "customer_rfm_scores",     # customer-grain agg + three ntile windows
    "order_gap_percentiles",   # lag window -> integer percentile agg
    "supplier_share_of_nation",  # share-of-parent windows on one sort
    "discount_band_pivot",     # explicit-values pivot (two-level agg)
    "cross_source_duplicate_matrix",  # distinct-grain hash self-join
    "lang_confusion_matrix",   # classifier eval over in-scan predictor
    "source_quality_report",   # single-pass per-source curation rollup
    "order_date_gap_fill",     # sequence-spine densification + fill window
    "percentile_approx_check",  # exact-vs-sketch percentile harness
    "bigram_lift_top",         # collocation lift (vocab broadcast-back)
    "event_value_mad",         # robust dispersion, double percentile pass
    "event_type_gini_per_user",  # integer diversity index, chained aggs
    "pareto_revenue_share",    # 80/20 cumulative-threshold windows
    "new_vs_returning_users",  # first-seen split on the distinct grain
    "discount_band_unpivot",   # wide->long melt of the band pivot
    "dq_orders_report",        # N constraints in one aggregation pass
    "purchase_streak_islands",  # gaps-and-islands, one co-keyed shuffle
    "transition_triangles",    # graph-motif two-hop self-join
    "lang_source_rollcall",    # sorted string_agg collection aggregate
    # round-5 late additions
    "kmeans_assign_int",       # broadcast-centroid inline argmin assignment
    "doc_ngram_novelty",       # linear shingle first-seen yield curve
    "transition_reachability",  # min-plus BFS rounds on the type graph
    "dedup_embedding_near",    # sign-LSH tables + narrow-pair spread verify
    # round-7 additions (the real-codec roundtrips — CPU-bound Python
    # tiers whose per-round cost is worth watching)
    "multimodal_pixel_stats",  # PNG encode->decode->stats roundtrip
    "multimodal_audio_features",  # WAV synth->sample-decode->features
    "multimodal_video_frames",  # MJPEG AVI synth->sample->JPEG decode
    # round-10 addition
    "multimodal_mp4_frame_sample",  # ISO-BMFF stbl walk -> keyframe decode
)


#: cold-tier slice size: the ~58-query pool outside HEADLINE is fully
#: priced every 2 rounds (VERDICT r7 #5: 54 registered queries had never
#: appeared in BENCH_DETAIL — every query gets a recorded time now)
_COLD_K = 29

def _next_round_no() -> int:
    """The round this bench run belongs to = latest recorded round + 1
    (the driver writes BENCH_r{N}.json AFTER running us)."""
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for f in os.listdir(here)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))
    ]
    return max(rounds, default=0) + 1


def _cold_tier(queries: dict, round_no: int, k: int = _COLD_K) -> list[str]:
    """Rotating slice of the registered queries OUTSIDE the headline
    set, mirroring the driver's correctness rotation: a deterministic
    window over the sorted pool advances by k names per round, so every
    registered query gets a recorded timing at least every
    ceil(pool/k) rounds.  Timed after the suite wall (like the index
    probes) so `suite_wall_sec` stays comparable across rounds."""
    benched_elsewhere = set(HEADLINE) | {
        "content_hash_point_lookup",  # probed in _bench_index_probes
        "zorder_range_scan",
    }
    pool = sorted(n for n in queries if n not in benched_elsewhere)
    if not pool:
        return []
    if k >= len(pool):
        return pool
    off = ((round_no - 1) * k) % len(pool)
    sl = pool[off:off + k]
    if len(sl) < k:
        sl += pool[: k - len(sl)]
    # wrap-around padding can revisit names if the pool shrinks between
    # rounds — keep first occurrence only
    return list(dict.fromkeys(sl))


def _bench_index_probes(spark, sf_dir: str, timings: dict, builds: dict) -> None:
    """Time the materialized-index probe paths (the 100 TB read pattern:
    partition-pruned lookups against a write-time index).  Build cost is
    recorded separately under ``index_build`` — it's the one-time write
    path, not a per-query number — while probe latency lands in
    ``queries`` so round-over-round regressions are diffed like any
    other query.

    Probe latencies are median-of-3: these sub-second paths sit past the
    main loop's median-of-3 pass (which only reps names already in
    ``timings``), so a single first-probe warmth hiccup used to flag —
    r10's sole regressions entry (``ivf_index_probe`` 0.97→1.61 s) was
    exactly this: a fresh-process adjudication read 1.60/1.03/0.96 with
    the warm runs matching r9, no code diff on the path."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.dedup import (
        build_minhash_index,
        query_minhash_index,
    )
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        build_ivf_index,
        query_ivf_index,
    )
    from data_integration_system_spark.operators.textops import (
        build_fingerprint_index,
        query_fingerprint_index,
    )

    def probe3(name: str, run) -> None:
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            run()
            reps.append(round(time.perf_counter() - t0, 3))
        timings[name] = sorted(reps)[1]

    root = tempfile.mkdtemp(prefix="bench_idx_")
    try:
        docs = table(spark, sf_dir, "documents")
        probe_docs = docs.filter(F.col("doc_id") < 50).select("doc_id", "text")
        emb = table(spark, sf_dir, "embeddings")
        probe_vecs = emb.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
        )

        t0 = time.perf_counter()
        build_minhash_index(spark, sf_dir, f"{root}/mh")
        builds["minhash_index_build"] = round(time.perf_counter() - t0, 3)
        probe3(
            "minhash_index_probe",
            lambda: query_minhash_index(spark, f"{root}/mh", probe_docs).count(),
        )

        t0 = time.perf_counter()
        build_ivf_index(spark, sf_dir, f"{root}/ivf")
        builds["ivf_index_build"] = round(time.perf_counter() - t0, 3)
        probe3(
            "ivf_index_probe",
            lambda: query_ivf_index(spark, f"{root}/ivf", probe_vecs).count(),
        )

        t0 = time.perf_counter()
        build_fingerprint_index(spark, sf_dir, f"{root}/fp")
        builds["fingerprint_index_build"] = round(time.perf_counter() - t0, 3)
        probe3(
            "fingerprint_index_probe",
            lambda: query_fingerprint_index(spark, f"{root}/fp", probe_docs).count(),
        )

        # composed IVF-PQ index (r14): build commits the file manifest;
        # the probe is the manifest-backed serving path — explicit
        # probed-file scan, candidate-aware shortlist default
        from data_integration_system_spark.operators.similarity import (
            build_ivfpq_index,
            query_ivfpq_index,
        )

        t0 = time.perf_counter()
        build_ivfpq_index(spark, sf_dir, f"{root}/ivfpq")
        builds["ivfpq_index_build"] = round(time.perf_counter() - t0, 3)
        probe3(
            "ivfpq_index_probe",
            lambda: query_ivfpq_index(
                spark, f"{root}/ivfpq", probe_vecs
            ).count(),
        )

        # bloom-backed content-hash layout: build = write path, probe =
        # the registered point-lookup query (cache primed to the fresh
        # build so the probe never re-pays the write)
        from data_integration_system_spark.operators import relational as rel

        t0 = time.perf_counter()
        stale = rel._HASH_LAYOUT_CACHE.pop(sf_dir, None)
        if stale:  # the suite pass built one — don't orphan it on disk
            shutil.rmtree(stale, ignore_errors=True)
        rel._content_hash_layout(spark, sf_dir)
        builds["hash_layout_build"] = round(time.perf_counter() - t0, 3)
        probe3(
            "content_hash_point_lookup",
            lambda: rel.content_hash_point_lookup(spark, sf_dir).count(),
        )

        # z-ordered events layout: build = write path, probe = the
        # registered 2-D range scan
        t0 = time.perf_counter()
        stale = rel._ZORDER_LAYOUT_CACHE.pop(sf_dir, None)
        if stale:
            shutil.rmtree(stale, ignore_errors=True)
        rel._zorder_events_layout(spark, sf_dir)
        builds["zorder_layout_build"] = round(time.perf_counter() - t0, 3)
        probe3(
            "zorder_range_scan",
            lambda: rel.zorder_range_scan(spark, sf_dir).count(),
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _bench_release(spark, sf_dir: str, builds: dict) -> None:
    """Time the end-to-end training-data release (curate -> committed
    snapshot -> packing manifest -> deterministic splits -> JSONL
    export): the composed write path a release review actually runs.
    Tested since r5 but never priced (VERDICT r6 #7)."""
    import shutil
    import tempfile

    from data_integration_system_spark.pipeline.curate import release_corpus

    root = tempfile.mkdtemp(prefix="bench_rel_")
    try:
        t0 = time.perf_counter()
        release_corpus(
            spark,
            sf_dir,
            f"{root}/corpus",
            export_path=f"{root}/export",
            split_weights={"train": 9800, "val": 100, "test": 100},
        ).collect()
        builds["release_corpus"] = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from data_integration_system_spark.registry import get_queries
    from data_integration_system_spark.session import get_spark

    queries = get_queries()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warmup on the smallest SF so q1 doesn't pay startup.
    queries["multiway_star_join"](spark, "/root/testdata/sf0.001").count()

    # Machine-speed calibration: a fixed synthetic workload whose cost is
    # independent of this repo's code.  Absolute query times vary ~1.5x
    # run-to-run with host conditions; comparing `calibration_sec` across
    # rounds separates "the machine is slower today" from a genuine
    # regression in a query's plan.
    t0 = time.perf_counter()
    spark.range(0, 50_000_000, 1, 32).selectExpr(
        "sum(id * 2654435761 % 1000003) as s"
    ).collect()
    calibration = round(time.perf_counter() - t0, 3)

    # previous round's recording, read up front: it picks the
    # median-of-3 set below (and feeds the regression diff at the end).
    # Only comparable at the SAME scale factor.
    prev = _latest_round_bench()
    if prev and prev.get("sf") != sf:
        prev = None
    prev_q = (prev or {}).get("queries", {})

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    t_suite = time.perf_counter()
    for name in HEADLINE:
        fn = queries[name]
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).count()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as ex:  # one broken query must not kill the round's JSON
            errors[name] = f"{type(ex).__name__}: {ex}"[:200]
    # suite wall covers the headline loop only, so the number stays
    # comparable across rounds; index build+probe is timed separately.
    total = round(time.perf_counter() - t_suite, 3)

    # cold tier: the rotating never-priced slice, timed OUTSIDE the
    # suite wall so `value` stays comparable round-over-round
    cold = _cold_tier(queries, _next_round_no())
    for name in cold:
        t0 = time.perf_counter()
        try:
            queries[name](spark, sf_dir).count()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as ex:
            errors[name] = f"{type(ex).__name__}: {ex}"[:200]

    # Sub-second queries false-flag at this rig's noise floor: three
    # consecutive rounds flagged DISJOINT sub-second sets (SCALE.md r9),
    # so any query whose PREVIOUS recording was sub-second gets two
    # extra reps and records the median-of-3 (VERDICT r9 #6).  Reps run
    # OUTSIDE the suite wall so `value` stays comparable across rounds;
    # the regression diff below reads the median, which a single
    # scheduler hiccup can no longer flip.
    median3: list[str] = []
    for name, p in sorted(prev_q.items()):
        if name not in timings or not (0 < p < 1.0):
            continue
        extra: list[float] = []
        for _ in range(2):
            t0 = time.perf_counter()
            try:
                queries[name](spark, sf_dir).count()
                extra.append(round(time.perf_counter() - t0, 3))
            except Exception:
                break
        if len(extra) == 2:
            timings[name] = sorted([timings[name], *extra])[1]
            median3.append(name)

    builds: dict[str, float] = {}
    try:
        _bench_index_probes(spark, sf_dir, timings, builds)
    except Exception as ex:
        errors["index_probes"] = f"{type(ex).__name__}: {ex}"[:200]
    try:
        _bench_release(spark, sf_dir, builds)
    except Exception as ex:
        errors["release"] = f"{type(ex).__name__}: {ex}"[:200]

    # Optional scaling probe (ADDITIVE — r18, VERDICT r17 #6): at sf0.1
    # the 1-4 s queries are fixed-overhead-bound, so the driver's
    # low-core/high-core ratio reads ~1 and cannot distinguish parallel
    # from serial (it false-flagged `suspect_cpus_ignored` on a correct
    # harness — session.py:123/143 demonstrably honor SPARK_GRAFT_CPUS).
    # Point SPARK_GRAFT_SCALING_SF_DIR at a larger fixture (e.g. a
    # generated sf1) and the same three scale-probe queries are timed
    # there into a separate additive key, where compute dominates and
    # the ratio is meaningful.  Unset (the driver's runs): no change.
    scaling_dir = os.environ.get("SPARK_GRAFT_SCALING_SF_DIR")
    scaling_probe: dict[str, float] = {}
    if scaling_dir:
        for name in (
            "multiway_star_join",
            "dedup_ngram_jaccard",
            "dedup_embedding_near",
        ):
            t0 = time.perf_counter()
            try:
                queries[name](spark, scaling_dir).count()
                scaling_probe[name] = round(time.perf_counter() - t0, 3)
            except Exception as ex:
                errors[f"scaling:{name}"] = f"{type(ex).__name__}: {ex}"[:200]

    out = {
        "metric": "suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "calibration_sec": calibration,
        "cold_tier": cold,
    }
    if scaling_probe:
        out["scaling_probe"] = {"sf_dir": scaling_dir, "queries": scaling_probe}
    if builds:
        out["index_build"] = builds
    if errors:
        out["errors"] = errors
    if median3:
        out["median3"] = median3  # queries recorded as median-of-3

    # self-comparison vs the latest recorded round: queries >1.5x slower
    # are flagged so a regression is visible in the round's JSON itself
    # (prev was loaded before the suite; sf-mismatched rounds already
    # dropped).
    if prev:
        # normalize by machine speed when the previous round recorded a
        # calibration: a uniformly slower host must not flag every query.
        # Clamped >= 1 so a FASTER host can never mask a real regression.
        prev_cal = prev.get("calibration_sec")
        ratio = max(1.0, min(calibration / prev_cal, 3.0)) if prev_cal else 1.0
        regressions = {
            name: {"prev": p, "now": timings[name]}
            for name, p in prev.get("queries", {}).items()
            if name in timings and p > 0 and timings[name] / (p * ratio) > 1.5
        }
        out["prev_suite_sec"] = prev.get("value")
        if prev_cal:
            out["calibration_ratio_vs_prev"] = round(ratio, 3)
        # the median carried-query ratio separates a uniform host-speed
        # shift (all queries move together) from isolated regressions
        ratios = sorted(
            timings[name] / p
            for name, p in prev.get("queries", {}).items()
            if name in timings and p > 0
        )
        if ratios:
            mid = len(ratios) // 2
            median = (
                ratios[mid]
                if len(ratios) % 2
                else (ratios[mid - 1] + ratios[mid]) / 2
            )
            out["median_ratio_vs_prev"] = round(median, 3)
        out["regressions"] = regressions

    # Full record to the sidecar; compact head (flagship + slowest 10)
    # to stdout so the driver's tail capture always parses the line.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps(compact_output(out, timings, errors)))


def compact_output(out: dict, timings: dict, errors: dict) -> dict:
    """The ≤~2 KB head actually printed: suite wall + calibration +
    flagship + slowest-10 + capped regressions/errors.  Bounded by
    construction no matter how large the suite grows — the r5 full line
    (~6 KB) outran the driver's tail capture and the round's perf record
    came back unparseable."""
    compact = dict(out)
    compact.pop("cold_tier", None)  # ~700 B of names; sidecar-only
    if "median3" in compact:  # names sidecar-only; count on the line
        compact["n_median3"] = len(compact.pop("median3"))
    slowest = sorted(timings, key=timings.get, reverse=True)[:10]
    keep = set(slowest) | {"multiway_star_join"}
    compact["queries"] = {n: timings[n] for n in timings if n in keep}
    compact["n_queries"] = len(timings)
    compact["detail"] = "BENCH_DETAIL.json"
    if errors:
        compact["errors"] = {
            k: v[:120] for k, v in list(errors.items())[:5]
        }
    if "regressions" in compact:
        compact["regressions"] = dict(list(compact["regressions"].items())[:10])
    return compact


def _latest_round_bench() -> dict | None:
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = []
    for f in os.listdir(here):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", f)
        if m:
            rounds.append((int(m.group(1)), f))
    data = None
    if rounds:
        try:
            with open(os.path.join(here, max(rounds)[1])) as fh:
                data = json.load(fh)
        except (OSError, json.JSONDecodeError):
            data = None
    # the driver wraps our JSON line: {"parsed": {...}, "tail": "..."}
    if data is not None and "parsed" in data:
        data = data["parsed"]
    # Compact rounds carry only the slowest-10 queries; the committed
    # sidecar from the previous round's run holds the full per-query dict.
    # Prefer the sidecar whenever it has more coverage at the same sf.
    try:
        with open(os.path.join(here, "BENCH_DETAIL.json")) as fh:
            detail = json.load(fh)
    except (OSError, json.JSONDecodeError):
        detail = None
    if detail is not None and (
        data is None
        or (
            detail.get("sf") == data.get("sf")
            and len(detail.get("queries", {})) >= len(data.get("queries", {}))
        )
    ):
        return detail
    return data


if __name__ == "__main__":
    main()

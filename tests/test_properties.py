"""Property-based checks (SURVEY §5.2 item 4), hypothesis-driven.

The defining property of the content hash (P3, utils.py:15-20) is
whitespace-insensitivity: any mutation of whitespace runs must not change
the hash, and any non-whitespace change must. Pure-Python twins run per
example; one Spark test cross-checks a generated batch through the real
column expressions."""

from __future__ import annotations

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st

from data_integration_system_spark.pipeline.extract import (
    decode_bytes,
    html_to_text_and_links,
    normalize_ws_py,
)

_ws = st.sampled_from([" ", "  ", "\t", "\n", "\r\n", " \t "])
_word = st.text(
    alphabet=st.characters(blacklist_categories=("Zs", "Cc", "Cs")),
    min_size=1,
    max_size=8,
)
_texts = st.lists(_word, min_size=0, max_size=12)


def _hash(t: str) -> str:
    return hashlib.sha256(normalize_ws_py(t).encode()).hexdigest()


@given(words=_texts, seps1=st.data(), seps2=st.data())
@settings(max_examples=200, deadline=None)
def test_hash_invariant_under_whitespace_mutation(words, seps1, seps2):
    """Same words, different whitespace runs -> same hash (P3's defining
    property); CRLF, tabs, doubled spaces all collapse."""
    a = "".join(w + seps1.draw(_ws) for w in words)
    b = "".join(w + seps2.draw(_ws) for w in words)
    assert _hash(a) == _hash(b)


@given(words=st.lists(_word, min_size=1, max_size=12))
@settings(max_examples=100, deadline=None)
def test_hash_changes_on_content_change(words):
    base = " ".join(words)
    mutated = " ".join(words) + "x"
    assert _hash(base) != _hash(mutated)


@given(t=st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_normalize_idempotent(t):
    once = normalize_ws_py(t)
    assert normalize_ws_py(once) == once


@given(t=st.text(max_size=100))
@settings(max_examples=100, deadline=None)
def test_decode_total(t):
    """decode_bytes never raises on arbitrary utf-8 bytes and round-trips
    clean text."""
    data = t.encode("utf-8")
    out = decode_bytes(data)
    if not any(m in t for m in ("ý", "þ", "ð")):  # mojibake markers re-decode
        assert out == t


@given(t=st.text(max_size=300))
@settings(max_examples=100, deadline=None)
def test_html_parser_total(t):
    """The HTML extractor is total: arbitrary input never raises, always
    returns (str, list) (errors-as-data, link_extractor contract)."""
    text, links = html_to_text_and_links(t, base_url="https://ex.com/")
    assert isinstance(text, str) and isinstance(links, list)


def test_spark_hash_matches_python_on_generated_batch(spark):
    """One Spark round-trip over a hypothesis-shaped corpus: the column
    expression and the Python twin agree on every example."""
    from pyspark.sql import functions as F

    from data_integration_system_spark.functions.hashing import content_hash

    corpus = [
        "a  b\tc",
        "\r\nleading",
        "trailing\n\n",
        "tab\there",
        "çğş  ü",
        "",
        " ",
        "x " * 50,
    ]
    df = spark.createDataFrame([(t,) for t in corpus], "t string")
    got = [r.h for r in df.select(content_hash(F.col("t")).alias("h")).collect()]
    want = [_hash(t) for t in corpus]
    assert got == want


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=4000), min_size=2, max_size=24),
)
@settings(max_examples=25, deadline=None)
def test_band_blocking_exactness_property(spark, sizes):
    """The banded self-join's exactness claim, over RANDOM shingle-set
    size distributions: candidates == exactly the pairs surviving the
    size-ratio prune (min >= 0.5*max), each produced once — the band
    conjunct never drops a ratio-surviving pair, including exact 2×
    boundaries straddling a band edge."""
    from pyspark.sql import functions as F

    from data_integration_system_spark.operators.dedup import (
        _banded_block_candidates,
    )

    sized = spark.createDataFrame(
        [(i, "en", "w", [i], n) for i, n in enumerate(sizes)],
        "doc_id long, lang string, source string, sh array<long>, n int",
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in _banded_block_candidates(sized).select("doc_a", "doc_b").collect()
    }
    want = {
        (i, j)
        for i in range(len(sizes))
        for j in range(i + 1, len(sizes))
        if min(sizes[i], sizes[j]) >= 0.5 * max(sizes[i], sizes[j])
    }
    assert got == want


@given(
    docs=st.lists(
        st.sets(st.integers(min_value=0, max_value=40), min_size=1, max_size=20),
        min_size=2,
        max_size=16,
    ),
)
@settings(max_examples=20, deadline=None)
def test_prefix_filter_exactness_property(spark, docs):
    """The prefix-filtered candidate join (the r7 replacement for the
    quadratic length-band blocker) over RANDOM shingle sets: candidates
    must be a SUPERSET of every pair with true Jaccard >= 0.5 (the
    smallest-common-element lemma), and the pairs it emits must survive
    the size-ratio prune, each exactly once."""
    from pyspark.sql import functions as F

    from data_integration_system_spark.operators.dedup import (
        _prefix_filter_candidates,
    )

    sized = spark.createDataFrame(
        [(i, "en", "w", sorted(s), len(s)) for i, s in enumerate(docs)],
        "doc_id long, lang string, source string, sh array<long>, n int",
    )
    got = [
        (r.doc_a, r.doc_b)
        for r in _prefix_filter_candidates(sized).select("doc_a", "doc_b").collect()
    ]
    assert len(got) == len(set(got))  # once per pair
    want_true = {
        (i, j)
        for i in range(len(docs))
        for j in range(i + 1, len(docs))
        if len(docs[i] & docs[j]) / len(docs[i] | docs[j]) >= 0.5
    }
    assert want_true <= set(got), f"lost true pairs: {want_true - set(got)}"
    ratio_ok = {
        (i, j)
        for i in range(len(docs))
        for j in range(i + 1, len(docs))
        if min(len(docs[i]), len(docs[j])) >= 0.5 * max(len(docs[i]), len(docs[j]))
    }
    assert set(got) <= ratio_ok  # the exact conjunct still prunes


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # hash id
            st.integers(min_value=0, max_value=3),   # source id
            st.integers(min_value=1, max_value=4),   # count shard
        ),
        min_size=1,
        max_size=30,
    ),
)
@settings(max_examples=25, deadline=None)
def test_dup_rate_report_property(spark, rows):
    """dup_rate_report over RANDOM (possibly duplicate-keyed) grain
    ledgers matches a direct Python reference: per source, docs whose
    hash appears (corpus-wide) more than once count as dups, and the
    rate is the floor-scaled integer.  Duplicate (ch, source) ledger
    rows (the streaming append form) must behave as their sum."""
    from collections import defaultdict

    from data_integration_system_spark.operators.dedup import dup_rate_report

    grain = spark.createDataFrame(
        [(f"h{h}", f"s{s}", n) for h, s, n in rows],
        "ch string, source string, n_src long",
    )
    got = {
        (r.source, r.n_docs, r.n_dup_docs, r.dup_rate_e4)
        for r in dup_rate_report(grain).collect()
    }

    per = defaultdict(int)        # (ch, source) -> n
    for h, s, n in rows:
        per[(f"h{h}", f"s{s}")] += n
    tot = defaultdict(int)        # ch -> corpus count
    for (ch, _s), n in per.items():
        tot[ch] += n
    n_docs = defaultdict(int)
    n_dup = defaultdict(int)
    for (ch, s), n in per.items():
        n_docs[s] += n
        if tot[ch] > 1:
            n_dup[s] += n
    want = {
        (s, n_docs[s], n_dup[s], n_dup[s] * 10000 // n_docs[s]) for s in n_docs
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),           # user id
            st.integers(min_value=0, max_value=100),         # ts offset (s)
            st.booleans(),                                   # is purchase
        ),
        min_size=1,
        max_size=25,
    ),
)
@settings(max_examples=20, deadline=None)
def test_purchase_streak_property(spark, rows):
    """The islands query over RANDOM event sequences matches a direct
    Python fold: purchases close islands; max/current streak count the
    non-purchase events between (ties in ts broken by event_id, exactly
    as the window orders)."""
    import datetime as dt
    from collections import defaultdict

    from data_integration_system_spark.registry import QUERIES, get_queries

    get_queries()
    base = dt.datetime(2024, 1, 1)
    data = [
        (
            i,
            base + dt.timedelta(seconds=off),
            u,
            "purchase" if isp else "view",
            1.0,
            "{}",
        )
        for i, (u, off, isp) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = {
            (r.user_id, r.n_purchases, r.max_streak, r.current_streak)
            for r in QUERIES["purchase_streak_islands"].fn(spark, d).collect()
        }

    seq = defaultdict(list)
    for i, (u, off, isp) in enumerate(rows):
        seq[u].append((off, i, isp))
    want = set()
    for u, evs in seq.items():
        evs.sort()
        streaks = [0]
        purchases = 0
        for _off, _i, isp in evs:
            if isp:
                purchases += 1
                streaks.append(0)
            else:
                streaks[-1] += 1
        want.add((u, purchases, max(streaks), streaks[-1]))
    assert got == want


@given(
    vals=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=-50, max_value=150)),
            st.sampled_from(["A", "B", "Z"]),
        ),
        min_size=1,
        max_size=30,
    ),
)
@settings(max_examples=20, deadline=None)
def test_run_checks_property(spark, vals):
    """run_checks over random data (with NULLs) matches a direct Python
    count: NULL predicate results are violations, and n_rows is the
    full input size for every check."""
    from data_integration_system_spark.pipeline import checks as dq

    df = spark.createDataFrame(vals, "v int, s string")
    got = {
        r.check_name: (r.n_rows, r.n_violations)
        for r in dq.run_checks(
            df, [dq.not_null("v"), dq.in_range("v", 0, 100), dq.in_set("s", ("A", "B"))]
        ).collect()
    }
    n = len(vals)
    want = {
        "not_null_v": (n, sum(1 for v, _ in vals if v is None)),
        "range_v": (n, sum(1 for v, _ in vals if v is None or not (0 <= v <= 100))),
        "set_s": (n, sum(1 for _, s in vals if s not in ("A", "B"))),
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=1,
        max_size=20,
    )
)
def test_bounded_reachability_property(spark, edge_list):
    """bounded_reachability == a plain Python BFS (hop counts capped at
    max_hops) on random small digraphs — the correctness witness for the
    library form the registered query reuses."""
    from data_integration_system_spark.operators.graph import (
        bounded_reachability,
    )

    max_hops = 3
    edges = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in edge_list], "src string, dst string"
    )
    got = {
        (r.src, r.dst): r.hops
        for r in bounded_reachability(edges, max_hops).collect()
    }

    # reference: BFS from every node over the distinct edge set
    adj: dict[str, set[str]] = {}
    nodes = set()
    for a, b in set(edge_list):
        sa, sb = f"n{a}", f"n{b}"
        adj.setdefault(sa, set()).add(sb)
        nodes.update((sa, sb))
    want = {}
    for start in nodes:
        dist = {start: 0}
        frontier = [start]
        for hop in range(1, max_hops + 1):
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = hop
                        nxt.append(v)
            frontier = nxt
        for dst, h in dist.items():
            want[(start, dst)] = h
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # label
            st.lists(
                st.floats(-1, 1, allow_nan=False, width=32),
                min_size=4,
                max_size=4,
            ),
        ),
        min_size=3,
        max_size=12,
    )
)
def test_kmeans_assignment_property(spark, rows):
    """The inline broadcast-argmin assignment == a NumPy replay of the
    same integer recurrence (e6 quantization, per-label integer
    centroids, BIGINT squared-L2, ties to lowest label) on random
    vectors — the engine plan and the reference disagree only if the
    Spark expression tree is wrong."""
    import math

    import numpy as np

    from data_integration_system_spark.operators.similarity import (
        assign_to_centroids_e6,
    )

    emb = spark.createDataFrame(
        [(i, vec, lab) for i, (lab, vec) in enumerate(rows)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {
        r.vec_id: (r.assigned_label, r.sq_dist_e12)
        for r in assign_to_centroids_e6(emb).collect()
    }

    # Python replay: same quantization, centroid formula, argmin
    by_label: dict[int, list[list[int]]] = {}
    quant = {}
    for i, (lab, vec) in enumerate(rows):
        q = [math.floor(float(np.float32(x)) * 1000000) for x in vec]
        quant[i] = q
        by_label.setdefault(lab, []).append(q)
    cents = {
        lab: [math.floor(sum(col) / len(vs)) for col in zip(*vs)]
        for lab, vs in by_label.items()
    }
    want = {}
    for i, q in quant.items():
        d, lab = min(
            (sum((a - b) ** 2 for a, b in zip(q, c)), lab)
            for lab, c in cents.items()
        )
        want[i] = (lab, d)
    assert got == want


@settings(max_examples=30, deadline=None)
@given(st.integers(-10**15, 10**15))
def test_halve_trunc_matches_sql_division(x):
    """halve_trunc == SQL integer division by 2 (truncation toward
    zero) over the full BIGINT-ish domain — checked directly against
    DuckDB, the oracle engine whose semantics the Python replays of
    integer recurrences must match."""
    import duckdb

    from data_integration_system_spark.operators._common import halve_trunc

    want = duckdb.connect().execute(f"SELECT CAST({x} AS BIGINT) // 2").fetchone()[0]
    assert halve_trunc(x) == want


@settings(max_examples=300, deadline=None)
@given(st.binary(min_size=0, max_size=256))
def test_media_header_parsers_never_raise_on_garbage(payload):
    """Corrupt blobs are a certainty at corpus scale: every header
    parser must return a dict or None on ARBITRARY bytes — never raise
    (the errors-as-data contract of the decode stage)."""
    from data_integration_system_spark.operators import multimodal as mm

    for fn in (mm.decode_image_header, mm.decode_audio_header, mm.decode_video_header):
        out = fn(payload)
        assert out is None or isinstance(out, dict)
    px = mm.decode_png_pixels(payload)  # pixel tier: tuple or None, never raise
    assert px is None or isinstance(px, tuple)
    au = mm.decode_wav_samples(payload)  # sample tier likewise
    assert au is None or isinstance(au, tuple)
    gx = mm.decode_gif_pixels(payload)
    assert gx is None or isinstance(gx, tuple)
    from data_integration_system_spark.operators.jpegcodec import decode_jpeg_pixels
    jx = decode_jpeg_pixels(payload)
    assert jx is None or isinstance(jx, tuple)
    from data_integration_system_spark.operators import avicontainer as av
    fr = av.decode_avi_frames(payload)
    assert fr is None or isinstance(fr, list)
    ah = av.decode_avi_header(payload)
    assert ah is None or isinstance(ah, dict)


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=200), st.sampled_from(["png", "jpeg", "wav", "mp4", "avi"]))
def test_media_header_parsers_survive_truncation(cut, kind):
    """Every PREFIX of a valid container (a truncated upload, a partial
    fetch) parses to a dict or None — no IndexError/struct.error from
    walking past the end."""
    from data_integration_system_spark.operators import multimodal as mm
    from tests.test_functions import _make_avi, _make_jpeg, _make_mp4, _make_png, _make_wav

    full = {
        "png": lambda: _make_png(64, 32),
        "jpeg": lambda: _make_jpeg(64, 32),
        "wav": lambda: _make_wav(channels=1, rate=8000, n_frames=64),
        "mp4": lambda: _make_mp4(duration_ms=1000),
        "avi": lambda: _make_avi(3),
    }[kind]()
    payload = full[: min(cut, len(full))]
    for fn in (mm.decode_image_header, mm.decode_audio_header, mm.decode_video_header):
        out = fn(payload)
        assert out is None or isinstance(out, dict)
    px = mm.decode_png_pixels(payload)
    assert px is None or isinstance(px, tuple)
    au = mm.decode_wav_samples(payload)
    assert au is None or isinstance(au, tuple)
    gx = mm.decode_gif_pixels(payload)
    assert gx is None or isinstance(gx, tuple)
    from data_integration_system_spark.operators.jpegcodec import decode_jpeg_pixels
    jx = decode_jpeg_pixels(payload)
    assert jx is None or isinstance(jx, tuple)
    from data_integration_system_spark.operators import avicontainer as av
    fr = av.decode_avi_frames(payload)
    assert fr is None or isinstance(fr, list)
    ah = av.decode_avi_header(payload)
    assert ah is None or isinstance(ah, dict)


def _flip(data: bytes, positions: list[int], bits: list[int]) -> bytes:
    out = bytearray(data)
    for p, b in zip(positions, bits):
        out[p] ^= 1 << b
    return bytes(out)


@settings(max_examples=150, deadline=None)
@given(st.data())
def test_jpeg_scan_segment_bitflips_never_raise(data):
    """ADVICE-r7/VERDICT-r7 #8: decoders facing 100 TB of crawled bytes
    see adversarial ENTROPY-CODED data, not just broken headers.  Any
    bit flips inside the SOS scan segment must yield None or pixels of
    exactly the header-declared geometry — never an exception, never an
    allocation beyond w*h*ch (the headers stay intact, so a surviving
    decode cannot change shape)."""
    from data_integration_system_spark.operators.jpegcodec import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    pix = bytes((13 * i) % 256 for i in range(32 * 24 * 3))
    jp = encode_jpeg(pix, 32, 24, 3)
    # walk the marker segments to the REAL SOS — a naive find(FFDA)
    # can match inside a Huffman table's value bytes
    pos = 2
    while jp[pos:pos + 2] != b"\xff\xda":
        assert jp[pos] == 0xFF
        pos += 2 + int.from_bytes(jp[pos + 2:pos + 4], "big")
    seg_start = pos + 2 + int.from_bytes(jp[pos + 2:pos + 4], "big")
    seg_end = len(jp) - 2  # leave the EOI marker alone
    assert seg_end - seg_start > 16  # real scan data to corrupt
    n = data.draw(st.integers(1, 8))
    poss = data.draw(
        st.lists(st.integers(seg_start, seg_end - 1), min_size=n, max_size=n)
    )
    bits = data.draw(st.lists(st.integers(0, 7), min_size=n, max_size=n))
    out = decode_jpeg_pixels(_flip(jp, poss, bits))
    if out is not None:
        w, h, ch, buf = out
        assert (w, h) == (32, 24) and ch in (1, 3)
        assert len(buf) == w * h * ch


@settings(max_examples=150, deadline=None)
@given(st.data())
def test_gif_lzw_segment_bitflips_never_raise(data):
    """Bit flips inside the LZW-coded sub-blocks (everything after the
    min-code byte): decode_gif_pixels returns None or a full-canvas RGB
    buffer — the LZW decoder's max_pixels bound caps allocation at the
    header-declared geometry no matter what codes the corruption
    mints."""
    from data_integration_system_spark.operators import multimodal as mm
    from tests.test_functions import _encode_gif

    gif = _encode_gif(bytes((7 * i) % 256 for i in range(24 * 16)), 24, 16)
    gct_len = (2 << (gif[10] & 7)) * 3
    scan_start = 13 + gct_len + 10 + 1  # descriptor + min-code byte
    scan_end = len(gif) - 2  # leave the trailer alone
    assert scan_end - scan_start > 16
    n = data.draw(st.integers(1, 8))
    poss = data.draw(
        st.lists(st.integers(scan_start, scan_end - 1), min_size=n, max_size=n)
    )
    bits = data.draw(st.lists(st.integers(0, 7), min_size=n, max_size=n))
    out = mm.decode_gif_pixels(_flip(gif, poss, bits))
    if out is not None:
        w, h, ch, buf = out
        assert (w, h, ch) == (24, 16, 3)
        assert len(buf) == w * h * ch


@settings(max_examples=150, deadline=None)
@given(st.data())
def test_avi_movi_segment_bitflips_never_raise(data):
    """Bit flips anywhere in the movi payload (chunk headers, sizes,
    and the MJPEG frame bytes): the container walk returns None or a
    frame list whose every frame is a slice of the payload (total bytes
    bounded by the input — no size-driven allocation), and each
    surviving frame feeds the JPEG decoder under the same
    no-raise/bounded contract."""
    from data_integration_system_spark.operators import avicontainer as av
    from data_integration_system_spark.operators.jpegcodec import decode_jpeg_pixels
    from tests.test_functions import _make_avi

    avi = _make_avi(3, 16, 16)
    movi = avi.find(b"movi")
    start, end = movi + 4, len(avi)
    n = data.draw(st.integers(1, 8))
    poss = data.draw(st.lists(st.integers(start, end - 1), min_size=n, max_size=n))
    bits = data.draw(st.lists(st.integers(0, 7), min_size=n, max_size=n))
    mutated = _flip(avi, poss, bits)
    frames = av.decode_avi_frames(mutated)
    assert frames is None or isinstance(frames, list)
    if frames:
        assert sum(len(f) for f in frames) <= len(mutated)
        for f in frames:
            jx = decode_jpeg_pixels(f)
            if jx is not None:
                w, h, ch, buf = jx
                assert len(buf) == w * h * ch


def _png_field_positions(png: bytes) -> list[int]:
    """Byte offsets of every chunk LENGTH and CRC field in a well-formed
    PNG — the fields whose corruption desynchronizes the chunk walk."""
    import struct

    positions: list[int] = []
    pos = 8
    while pos + 8 <= len(png):
        (clen,) = struct.unpack(">I", png[pos:pos + 4])
        positions.extend(range(pos, pos + 4))  # length field
        crc_at = pos + 8 + clen
        positions.extend(range(crc_at, min(crc_at + 4, len(png))))
        if png[pos + 4:pos + 8] == b"IEND":
            break
        pos += 12 + clen
    return positions


@settings(max_examples=150, deadline=None)
@given(st.data())
def test_png_chunk_length_crc_bitflips_never_raise(data):
    """VERDICT-r8 #8: the r8 fuzz covered entropy segments; the PNG
    CHUNK WALK (length/CRC fields) only saw truncation.  Bit flips in
    any length or CRC field must yield None or a geometry-consistent
    pixel buffer — never an exception, and never an allocation beyond
    what the actually-inflated IDAT bytes support (the decoder sizes
    its output from the inflated length, so a corrupted declared
    geometry that disagrees with the data returns None before any
    h×w×ch buffer exists)."""
    from data_integration_system_spark.operators import multimodal as mm

    pix = bytes((11 * i) % 256 for i in range(24 * 16 * 3))
    png = mm.encode_png(pix, 24, 16, 3)
    fields = _png_field_positions(png)
    assert len(fields) >= 16  # IHDR/IDAT/IEND lengths + CRCs at minimum
    n = data.draw(st.integers(1, 6))
    poss = data.draw(st.lists(st.sampled_from(fields), min_size=n, max_size=n))
    bits = data.draw(st.lists(st.integers(0, 7), min_size=n, max_size=n))
    out = mm.decode_png_pixels(_flip(png, poss, bits))
    if out is not None:
        w, h, ch, buf = out
        assert len(buf) == w * h * ch
        assert 0 < w * h * ch <= 64 * len(png)  # inflate-bounded, no bomb


@settings(max_examples=150, deadline=None)
@given(st.data())
def test_png_whole_file_bitflips_never_raise(data):
    """Flips ANYWHERE in the PNG byte stream (magic, IHDR geometry,
    filter bytes, deflate stream): decode returns None or an internally
    consistent (w, h, ch, buf) — the filter-type walk, the zlib
    inflate, and the stride check are all reachable failure points and
    none may escape as an exception."""
    from data_integration_system_spark.operators import multimodal as mm

    pix = bytes((11 * i) % 256 for i in range(24 * 16 * 3))
    png = mm.encode_png(pix, 24, 16, 3)
    n = data.draw(st.integers(1, 8))
    poss = data.draw(
        st.lists(st.integers(0, len(png) - 1), min_size=n, max_size=n)
    )
    bits = data.draw(st.lists(st.integers(0, 7), min_size=n, max_size=n))
    out = mm.decode_png_pixels(_flip(png, poss, bits))
    if out is not None:
        w, h, ch, buf = out
        assert len(buf) == w * h * ch


def _wav_size_field_positions(wav: bytes) -> list[int]:
    """Byte offsets of the RIFF size field and every sub-chunk size
    field in a well-formed WAV."""
    import struct

    positions = list(range(4, 8))  # RIFF size
    i = 12
    while i + 8 <= len(wav):
        (size,) = struct.unpack("<I", wav[i + 4:i + 8])
        positions.extend(range(i + 4, i + 8))
        i += 8 + size + (size & 1)
    return positions


@settings(max_examples=150, deadline=None)
@given(st.data())
def test_wav_chunk_size_bitflips_never_raise(data):
    """The WAV twin of the PNG chunk fuzz: bit flips in the RIFF/fmt/
    data SIZE fields (the walk's only control data — WAV has no CRC)
    must yield None or a (channels, rate, samples) tuple whose sample
    count is bounded by the payload bytes — the walk may overshoot or
    truncate, never raise or allocate beyond the input."""
    from data_integration_system_spark.operators import multimodal as mm
    from tests.test_functions import _make_wav

    wav = _make_wav(channels=1, rate=8000, n_frames=64)
    fields = _wav_size_field_positions(wav)
    assert len(fields) >= 12
    n = data.draw(st.integers(1, 6))
    poss = data.draw(st.lists(st.sampled_from(fields), min_size=n, max_size=n))
    bits = data.draw(st.lists(st.integers(0, 7), min_size=n, max_size=n))
    mutated = _flip(wav, poss, bits)
    hdr = mm.decode_audio_header(mutated)
    assert hdr is None or isinstance(hdr, dict)
    out = mm.decode_wav_samples(mutated)
    if out is not None:
        channels, rate, samples = out
        assert channels >= 1 and rate >= 1
        assert len(samples) <= len(mutated)  # data slice is input-bounded


@settings(max_examples=150, deadline=None)
@given(st.data())
def test_wav_whole_file_bitflips_never_raise(data):
    """Flips anywhere in the WAV byte stream, including the fmt tag and
    the PCM payload: decode returns None or a bounded sample list (a
    flipped fmt tag must fall to None — a-law/mu-law codewords misread
    as PCM is the documented failure this guard exists for)."""
    from data_integration_system_spark.operators import multimodal as mm
    from tests.test_functions import _make_wav

    wav = _make_wav(channels=1, rate=8000, n_frames=64)
    n = data.draw(st.integers(1, 8))
    poss = data.draw(
        st.lists(st.integers(0, len(wav) - 1), min_size=n, max_size=n)
    )
    bits = data.draw(st.lists(st.integers(0, 7), min_size=n, max_size=n))
    out = mm.decode_wav_samples(_flip(wav, poss, bits))
    if out is not None:
        channels, rate, samples = out
        assert channels >= 1 and rate >= 1
        assert len(samples) <= len(wav)


def _mp4_table_positions(mp4: bytes) -> list[int]:
    """Byte offsets of the moov region — the sample tables whose
    corruption desynchronizes the stbl walk (sizes, offsets, run
    lengths, sync numbers).  moov is the LAST top-level box in the
    writer's layout, so everything from its header on is control data."""
    i = mp4.rfind(b"moov")
    assert i > 0
    return list(range(i - 4, len(mp4)))


@settings(max_examples=150, deadline=None)
@given(st.data())
def test_mp4_sample_table_bitflips_never_raise(data):
    """The MP4 twin of the PNG chunk fuzz (VERDICT r9 #3): bit flips
    anywhere in moov — stsz sizes, stco offsets, stsc runs, stss sync
    numbers, box lengths — must yield None or a table whose every
    declared (offset, size) range lies inside the payload; extraction
    and pixel decode of surviving samples stay under the same
    no-raise/bounded contract.  This is the guard that matters at
    100 TB: a crawled MP4 with a hostile stco must not become an
    out-of-range read or a size-driven allocation."""
    from data_integration_system_spark.operators import mp4container as m4
    from data_integration_system_spark.operators.jpegcodec import decode_jpeg_pixels
    from tests.test_functions import _make_mjpeg_mp4

    mp4 = _make_mjpeg_mp4(4, 8, 8)
    fields = _mp4_table_positions(mp4)
    n = data.draw(st.integers(1, 8))
    poss = data.draw(st.lists(st.sampled_from(fields), min_size=n, max_size=n))
    bits = data.draw(st.lists(st.integers(0, 7), min_size=n, max_size=n))
    mutated = _flip(mp4, poss, bits)
    st_ = m4.decode_mp4_sample_table(mutated)
    if st_ is not None:
        for off, size in st_["samples"]:
            assert 0 <= off and off + size <= len(mutated)
        assert all(1 <= s <= len(st_["samples"]) for s in st_["sync"])
        frames = m4.extract_mp4_frames(mutated, keyframes_only=True)
        for _i, f in frames or []:
            jx = decode_jpeg_pixels(f)
            if jx is not None:
                w, h, ch, buf = jx
                assert len(buf) == w * h * ch


@settings(max_examples=150, deadline=None)
@given(st.data())
def test_mp4_whole_file_bitflips_never_raise(data):
    """Flips ANYWHERE in the MP4 byte stream (ftyp, mdat sample bytes,
    every table): the walk returns None or an input-bounded table, and
    full extraction never raises."""
    from data_integration_system_spark.operators import mp4container as m4
    from tests.test_functions import _make_mjpeg_mp4

    mp4 = _make_mjpeg_mp4(3, 8, 8)
    n = data.draw(st.integers(1, 8))
    poss = data.draw(
        st.lists(st.integers(0, len(mp4) - 1), min_size=n, max_size=n)
    )
    bits = data.draw(st.lists(st.integers(0, 7), min_size=n, max_size=n))
    mutated = _flip(mp4, poss, bits)
    st_ = m4.decode_mp4_sample_table(mutated)
    if st_ is not None:
        for off, size in st_["samples"]:
            assert 0 <= off and off + size <= len(mutated)
    out = m4.extract_mp4_frames(mutated)
    assert out is None or all(
        isinstance(b, bytes) and len(b) <= len(mutated) for _, b in out
    )


def test_mp4_every_truncation_never_raises():
    """All prefixes of a well-formed MP4 (every box boundary, every
    mid-table cut): None or an input-bounded table, never an
    exception — the exhaustive twin of the bit-flip fuzz."""
    from data_integration_system_spark.operators import mp4container as m4
    from tests.test_functions import _make_mjpeg_mp4

    mp4 = _make_mjpeg_mp4(4, 8, 8)
    for cut in range(len(mp4)):
        st_ = m4.decode_mp4_sample_table(mp4[:cut])
        if st_ is not None:
            for off, size in st_["samples"]:
                assert off + size <= cut


def test_mp4_hostile_stsz_count_returns_none_not_memoryerror():
    """Directed hostile-count case (ADVICE r10, high): the random
    bit-flip fuzz above almost never lands a count like 0x7FFFFFFF in
    the uniform-stsz branch, whose expansion used to allocate
    [uniform] * count BEFORE any bound check — a 4-byte edit turned
    decode into an uncaught MemoryError (OOM DoS from one crawled
    file).  The walk must reject counts the payload cannot physically
    hold and return None under the errors-as-data contract."""
    import struct as _struct

    from data_integration_system_spark.operators import mp4container as m4
    from tests.test_functions import _make_mjpeg_mp4

    mp4 = bytearray(_make_mjpeg_mp4(4, 8, 8))
    i = bytes(mp4).rfind(b"stsz")
    assert i > 0
    # stsz body: version/flags (4) | uniform_size (4) | sample_count (4)
    for uniform, count in [
        (1, 0x7FFFFFFF),            # the reproduced ADVICE case
        (0xFFFFFFFF, 0xFFFFFFFF),   # max-product variant
        (2, len(mp4)),              # uniform*count just past the payload
    ]:
        hostile = bytearray(mp4)
        hostile[i + 8:i + 16] = _struct.pack(">II", uniform, count)
        assert m4.decode_mp4_sample_table(bytes(hostile)) is None
    # sanity: count = actual payload-consistent value still decodes
    assert m4.decode_mp4_sample_table(bytes(mp4)) is not None


def _ed(s: str, t: str) -> int:
    """Reference Levenshtein (full DP) for the PassJoin pin."""
    m, n = len(s), len(t)
    prev = list(range(n + 1))
    for i in range(1, m + 1):
        cur = [i] + [0] * n
        for j in range(1, n + 1):
            cur[j] = min(
                prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (s[i - 1] != t[j - 1])
            )
        prev = cur
    return prev[n]


def test_passjoin_candidates_complete_on_adversarial_corpus(spark):
    """The ed<=2 PassJoin segment filter (operators/joins.
    ed2_segment_candidates) must generate EVERY true pair — pinned
    against a brute-force DP edit distance on a fixed-seed corpus of
    short strings over a 3-letter alphabet (lengths 0..12 hammer the
    segment-boundary, shift-window, and short-residue edges far harder
    than real catalog names; expected pair count is in the hundreds).
    Candidate completeness is the operator's entire exactness argument
    — the banded-Levenshtein verify can only REMOVE rows."""
    import random

    from data_integration_system_spark.operators.joins import (
        ed2_segment_candidates,
    )

    rng = random.Random(42)
    rows = [
        (i, "B", "".join(rng.choice("abc") for _ in range(rng.randint(0, 12))))
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "p_partkey long, p_brand string, p_name string"
    )
    got = {(r.part_a, r.part_b) for r in ed2_segment_candidates(df).collect()}
    true_pairs = {
        (i, j)
        for ii, (i, _, s) in enumerate(rows)
        for (j, _, t) in rows[ii + 1 :]
        if abs(len(s) - len(t)) <= 2 and _ed(s, t) <= 2
    }
    assert true_pairs, "fixture produced no true pairs — corpus too sparse"
    missed = true_pairs - got
    assert not missed, f"PassJoin filter missed true pairs: {sorted(missed)[:5]}"


def test_passjoin_matches_blocked_quadratic(spark):
    """part_name_near_matches (PassJoin candidates + banded verify)
    == the plain blocked-quadratic ED join it replaced, on real part
    names at the smoke SF."""
    from pyspark.sql import functions as F

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.joins import (
        part_name_near_matches,
    )

    sf = "/root/testdata/sf0.001"
    got = [tuple(r) for r in part_name_near_matches(spark, sf).collect()]
    p = table(spark, sf, "part").select("p_partkey", "p_brand", "p_name")
    a, b = p.alias("a"), p.alias("b")
    want = [
        tuple(r)
        for r in (
            a.join(
                b,
                (F.col("a.p_brand") == F.col("b.p_brand"))
                & (F.col("a.p_partkey") < F.col("b.p_partkey")),
            )
            .select(
                F.col("a.p_partkey").alias("part_a"),
                F.col("b.p_partkey").alias("part_b"),
                F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
                .cast("long")
                .alias("edit_dist"),
            )
            .filter(F.col("edit_dist") <= 2)
            .orderBy("part_a", "part_b")
        ).collect()
    ]
    assert got == want

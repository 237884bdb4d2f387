"""Pipeline-library tests (SURVEY §5.2 items 2-4): extraction semantics,
BFS crawl on a synthetic in-memory site, upsert writer classification,
and the golden incrementality property — a second identical run yields
zero changed rows (T4)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from data_integration_system_spark.pipeline.crawl import (
    CrawlConfig,
    crawl,
    file_links_of,
    scope_filter,
)
from data_integration_system_spark.pipeline.extract import (
    decode_bytes,
    extract_document,
    html_to_text_and_links,
    normalize_ws_py,
)
from data_integration_system_spark.pipeline.writer import (
    STATUS_COL,
    classify_upsert,
    merge_keep_latest,
    write_changed_only,
)

# ---------------------------------------------------------------------------
# extract.py unit tests (pure Python — no Spark)
# ---------------------------------------------------------------------------


def test_decode_cascade_utf8():
    assert decode_bytes("merhaba dünya".encode()) == "merhaba dünya"


def test_decode_cascade_header_charset_wins():
    data = "çğş".encode("windows-1254")
    assert decode_bytes(data, "windows-1254") == "çğş"


def test_decode_cascade_turkish_fallback():
    # windows-1254 bytes with no header: utf-8 fails, cascade recovers
    data = "şğı".encode("windows-1254")
    out = decode_bytes(data)
    assert out == "şğı"


def test_decode_cascade_replacement_last_resort():
    out = decode_bytes(b"\xff\xfe\x00ok")
    assert "ok" in out


def test_html_text_and_links():
    html = """
    <html><head><style>body{}</style><script>var x=1;</script></head>
    <body><h1>Title</h1><p>Hello <a href="/a">A</a> and
    <a href="/b#frag">B</a> and <a href="/a">A again</a></p>
    <noscript>NOJS</noscript></body></html>
    """
    text, links = html_to_text_and_links(html, base_url="https://ex.com/page")
    assert "Title" in text and "Hello" in text
    assert "var x=1" not in text and "NOJS" not in text and "body{}" not in text
    # absolutized, defragged, order-preserving deduped (link_extractor.py:14-31)
    assert links == ["https://ex.com/a", "https://ex.com/b"]


def test_extract_document_dispatch_and_errors():
    text, err = extract_document(b"hello world", ".txt")
    assert (text, err) == ("hello world", "")
    _, err = extract_document(b"x" * 10, ".pdf")  # fitz absent -> stub
    assert err == "" or err.startswith("skipped")
    _, err = extract_document(b"x", ".xyz")
    assert err == "unsupported_ext:.xyz"
    _, err = extract_document(b"x" * 100, ".txt", max_bytes=10)
    assert err == "skipped_too_large"  # F9, file_ingestion.py:79-80


# ---------------------------------------------------------------------------
# S4-S7 real-binding tests: fake libraries monkeypatched into sys.modules,
# asserting each binding reproduces the reference's join semantics
# (file_ingestion.py:19-55) when the library IS present.
# ---------------------------------------------------------------------------


def _install_fake(monkeypatch, name: str, **attrs):
    import sys
    import types

    mod = types.ModuleType(name)
    for k, v in attrs.items():
        setattr(mod, k, v)
    monkeypatch.setitem(sys.modules, name, mod)
    return mod


class _Obj:
    def __init__(self, **kw):
        self.__dict__.update(kw)


def test_extract_pdf_binding(monkeypatch):
    """S4: page get_text() newline-join, doc closed (file_ingestion.py:19-24)."""
    closed = []

    class FakePdf:
        def __init__(self, pages):
            self._pages = pages

        def __iter__(self):
            return iter(self._pages)

        def close(self):
            closed.append(True)

    def fake_open(stream=None, filetype=None):
        assert filetype == "pdf" and stream == b"%PDF"
        return FakePdf([_Obj(get_text=lambda: "page one"), _Obj(get_text=lambda: "page two")])

    _install_fake(monkeypatch, "fitz", open=fake_open)
    text, err = extract_document(b"%PDF", ".pdf")
    assert (text, err) == ("page one\npage two", "")
    assert closed == [True]


def test_extract_docx_binding(monkeypatch):
    """S5: paragraph text newline-join (file_ingestion.py:26-28),
    empty paragraphs kept as empty lines exactly like the reference."""

    def fake_document(f):
        assert f.read(4) == b"PK\x03\x04"
        return _Obj(paragraphs=[_Obj(text="para 1"), _Obj(text=""), _Obj(text="para 2")])

    _install_fake(monkeypatch, "docx", Document=fake_document)
    text, err = extract_document(b"PK\x03\x04", ".docx")
    assert (text, err) == ("para 1\n\npara 2", "")


def test_extract_pptx_binding(monkeypatch):
    """S6: shapes with a text attr, stripped, empties dropped
    (file_ingestion.py:36-44); .ppt routes through the same binding."""
    slides = [
        _Obj(shapes=[_Obj(text="  Title  "), _Obj(no_text_attr=1), _Obj(text="   ")]),
        _Obj(shapes=[_Obj(text="Body")]),
    ]

    def fake_presentation(f):
        return _Obj(slides=slides)

    _install_fake(monkeypatch, "pptx", Presentation=fake_presentation)
    assert extract_document(b"PK", ".pptx") == ("Title\nBody", "")
    assert extract_document(b"PK", ".ppt") == ("Title\nBody", "")


def test_extract_xlsx_binding(monkeypatch):
    """S7: data_only computed values, non-empty cells space-joined per row,
    empty rows dropped, all worksheets (file_ingestion.py:46-54)."""

    def fake_load_workbook(f, data_only=False):
        assert data_only is True
        ws1 = _Obj(iter_rows=lambda values_only: iter([("a", None, 1), (None, "  ", None), ("b",)]))
        ws2 = _Obj(iter_rows=lambda values_only: iter([(2.5, "x")]))
        return _Obj(worksheets=[ws1, ws2])

    _install_fake(monkeypatch, "openpyxl", load_workbook=fake_load_workbook)
    assert extract_document(b"PK", ".xlsx") == ("a 1\nb\n2.5 x", "")


def test_extract_binding_error_is_data(monkeypatch):
    """A binding exception surfaces on the error channel, never raises
    (file_ingestion.py:61-63) — and is a real error, not NotImplementedError."""

    def bad_open(stream=None, filetype=None):
        raise ValueError("corrupt xref table")

    _install_fake(monkeypatch, "fitz", open=bad_open)
    text, err = extract_document(b"%PDF", ".pdf")
    assert text == ""
    assert err == "ValueError: corrupt xref table"
    assert "NotImplementedError" not in err


# ---------------------------------------------------------------------------
# BFS crawl over a synthetic site
# ---------------------------------------------------------------------------

SITE = {
    "https://ex.com/": '<a href="/a">a</a><a href="/b">b</a><a href="https://other.com/x">x</a>',
    "https://ex.com/a": '<a href="/c">c</a><a href="/style.css">css</a>Text A',
    "https://ex.com/b": '<a href="/doc1.pdf">pdf</a>Text B',
    "https://ex.com/c": '<a href="/">home</a>Leaf C',
    "https://other.com/x": "<p>off-domain</p>",
}


def make_fake_fetch(site):
    """Returns a closure (cloudpickled by value, so executors don't need
    this test module on their import path)."""

    def fetch(url: str):
        body = site.get(url)
        if body is None:
            return None, ""
        return f"<html><body>{body}</body></html>".encode(), "text/html; charset=utf-8"

    return fetch


fake_fetch = make_fake_fetch(SITE)


@pytest.fixture(scope="module")
def crawl_result(spark):
    cfg = CrawlConfig(root_domain="ex.com", max_depth=5, max_pages_total=100)
    pages = crawl(spark, ["https://ex.com/"], cfg, fake_fetch)
    return pages, cfg


def test_crawl_visits_reachable_same_domain(crawl_result):
    pages, _ = crawl_result
    urls = {r.url for r in pages.select("url").collect()}
    assert urls == {
        "https://ex.com/",
        "https://ex.com/a",
        "https://ex.com/b",
        "https://ex.com/c",
    }  # other.com excluded (F2), .css blocked (F1), .pdf routed to files (F7)


def test_crawl_each_url_once(crawl_result):
    pages, _ = crawl_result
    n, nd = pages.count(), pages.dropDuplicates(["url"]).count()
    assert n == nd == 4  # D1/D2: visit-once even though /c links back to /


def test_crawl_depths_are_bfs_minimal(crawl_result):
    pages, _ = crawl_result
    depths = {r.url: r.depth for r in pages.collect()}
    assert depths["https://ex.com/"] == 0
    assert depths["https://ex.com/a"] == 1
    assert depths["https://ex.com/c"] == 2


def test_crawl_page_identity_matches_reference(crawl_result):
    pages, _ = crawl_result
    row = pages.filter(F.col("url") == "https://ex.com/").first()
    assert row.page_id == hashlib.sha1(b"https://ex.com/").hexdigest()  # utils.py:11-12
    norm = normalize_ws_py(row.text)
    assert row.content_hash == hashlib.sha256(norm.encode()).hexdigest()  # utils.py:15-20


def test_crawl_file_links_split(crawl_result, spark):
    pages, cfg = crawl_result
    files = file_links_of(pages, cfg)
    assert [r.url for r in files.collect()] == ["https://ex.com/doc1.pdf"]


def test_crawl_budget_enforced(spark):
    cfg = CrawlConfig(root_domain="ex.com", max_depth=5, max_pages_total=2)
    pages = crawl(spark, ["https://ex.com/"], cfg, fake_fetch)
    assert pages.count() <= 2  # the knob the reference never read (models.py:23)


def test_crawl_single_page_mode(spark):
    cfg = CrawlConfig(root_domain="ex.com", single_page=True)
    pages = crawl(spark, ["https://ex.com/"], cfg, fake_fetch)
    assert [r.url for r in pages.collect()] == ["https://ex.com/"]  # F5


def test_scope_filter_path_mode(spark):
    cfg = CrawlConfig(root_domain="ex.com", path_mode=True, base_path="/docs")
    frontier = spark.createDataFrame(
        [("https://ex.com/docs/a", 0), ("https://ex.com/other/b", 0), ("https://ex.com/docs", 0)],
        "url string, depth long",
    )
    kept = {r.url for r in scope_filter(frontier, cfg).collect()}
    assert kept == {"https://ex.com/docs/a", "https://ex.com/docs"}  # F3


# ---------------------------------------------------------------------------
# writer.py — upsert classification + keep-latest merge
# ---------------------------------------------------------------------------


@pytest.fixture()
def store_and_batch(spark):
    current = spark.createDataFrame(
        [("k1", "h1", 1), ("k2", "h2", 1)], "key string, content_hash string, v int"
    )
    incoming = spark.createDataFrame(
        [("k1", "h1", 2), ("k2", "h2x", 2), ("k3", "h3", 2)],
        "key string, content_hash string, v int",
    )
    return current, incoming


def test_classify_upsert_three_way(store_and_batch):
    current, incoming = store_and_batch
    got = {
        r.key: r[STATUS_COL]
        for r in classify_upsert(incoming, current, "key").collect()
    }
    # db/postgres_store.py:140-184 outcome set
    assert got == {"k1": "SKIPPED", "k2": "UPSERTED", "k3": "INSERTED"}


def test_write_changed_only_drops_skipped(store_and_batch):
    current, incoming = store_and_batch
    keys = {r.key for r in write_changed_only(incoming, current, "key").collect()}
    assert keys == {"k2", "k3"}


def test_merge_keep_latest_and_idempotence(store_and_batch):
    current, incoming = store_and_batch
    merged = merge_keep_latest(current, incoming, "key", "v")
    got = {r.key: (r.content_hash, r.v) for r in merged.collect()}
    assert got == {"k1": ("h1", 2), "k2": ("h2x", 2), "k3": ("h3", 2)}
    # T4 golden property: re-applying the same batch changes nothing
    again = merge_keep_latest(merged, incoming, "key", "v")
    assert {(r.key, r.content_hash, r.v) for r in again.collect()} == {
        (r.key, r.content_hash, r.v) for r in merged.collect()
    }
    # and the changed-rows feed of the second run is empty
    merged_h = merged.select("key", "content_hash")
    assert write_changed_only(incoming.select("key", "content_hash"), merged_h, "key").count() == 0


def test_incremental_recrawl_golden(spark, tmp_path):
    """T4 golden property, end-to-end: crawl -> write -> re-crawl the
    UNCHANGED site -> classify against the store => every page SKIPPED,
    zero rows proceed to the writer (the reference's skip-same-hash
    contract, filesystem_store.py:112-114, as a full-pipeline test)."""
    from data_integration_system_spark.pipeline.writer import (
        classify_upsert,
        write_pages,
    )

    cfg = CrawlConfig(root_domain="ex.com", max_depth=5)
    first = crawl(spark, ["https://ex.com/"], cfg, fake_fetch).drop("links")
    store_path = str(tmp_path / "pages_store")
    write_pages(first, store_path)
    store = spark.read.parquet(store_path)
    assert store.count() == 4

    second = crawl(spark, ["https://ex.com/"], cfg, fake_fetch).drop("links")
    statuses = {
        r[STATUS_COL]
        for r in classify_upsert(second, store, "page_id").collect()
    }
    assert statuses == {"SKIPPED"}

    # now mutate one page and re-crawl: exactly that page is UPSERTED
    site2 = dict(SITE)
    site2["https://ex.com/c"] = '<a href="/">home</a>Leaf C CHANGED'
    third = crawl(spark, ["https://ex.com/"], cfg, make_fake_fetch(site2)).drop("links")
    by_status = {
        r.url: r[STATUS_COL]
        for r in classify_upsert(third, store, "page_id").collect()
    }
    assert by_status["https://ex.com/c"] == "UPSERTED"
    assert sum(1 for v in by_status.values() if v == "SKIPPED") == 3


# ---------------------------------------------------------------------------
# S11/S12 JDBC sink — stage-and-merge (db/postgres_store.py:126-184)
# ---------------------------------------------------------------------------


def test_jdbc_merge_sql_postgres_dialect():
    from data_integration_system_spark.pipeline.writer import jdbc_merge_sql

    sql = jdbc_merge_sql(
        "raw_documents",
        "raw_documents_staging",
        ["source_type", "source_id", "raw_text", "content_hash"],
        key_cols=["source_type", "source_id"],
        dialect="postgres",
    )
    # the reference's conflict target and EXCLUDED-set shape
    # (postgres_store.py:144-165)
    assert 'ON CONFLICT ("source_type", "source_id") DO UPDATE SET' in sql
    assert '"raw_text" = EXCLUDED."raw_text"' in sql
    assert '"content_hash" = EXCLUDED."content_hash"' in sql
    # S12 insert-ignore (insert_raw_document): DO NOTHING, no update list
    ign = jdbc_merge_sql(
        "raw_documents", "s", ["source_id", "raw_text"], ["source_id"],
        dialect="postgres", insert_only=True,
    )
    assert ign.endswith('ON CONFLICT ("source_id") DO NOTHING')


def test_jdbc_identifiers_validated():
    from data_integration_system_spark.pipeline.writer import jdbc_merge_sql

    with pytest.raises(ValueError):
        jdbc_merge_sql('t"; DROP TABLE x;--', "s", ["a"], ["a"])
    with pytest.raises(ValueError):
        jdbc_merge_sql("t", "s", ["bad col"], ["bad col"])
    # every column a key -> nothing to update: must raise, not emit
    # 'DO UPDATE SET ' with an empty assignment list
    with pytest.raises(ValueError, match="insert_only"):
        jdbc_merge_sql("t", "s", ["a", "b"], ["a", "b"], dialect="postgres")
    # ...but insert_only is the valid spelling of that intent
    assert jdbc_merge_sql(
        "t", "s", ["a", "b"], ["a", "b"], dialect="postgres", insert_only=True
    ).endswith("DO NOTHING")


def test_jdbc_upsert_embedded_derby(spark):
    """End-to-end against the Derby embedded DB Spark ships: stage via
    the parallel JDBC writer, merge once, reference upsert end state
    (changed row updated, unchanged kept, new row inserted)."""
    from data_integration_system_spark.pipeline.writer import write_jdbc_upsert

    jvm = spark._jvm
    url = "jdbc:derby:memory:upserttest;create=true"
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute(
        'CREATE TABLE "docs" ("source_id" BIGINT PRIMARY KEY, '
        '"raw_text" VARCHAR(200), "content_hash" VARCHAR(64))'
    )
    st.execute("INSERT INTO \"docs\" VALUES (1, 'old', 'h1'), (2, 'keep', 'h2')")

    batch = spark.createDataFrame(
        [(1, "new", "h1b"), (3, "ins", "h3")],
        "source_id long, raw_text string, content_hash string",
    )
    sql = write_jdbc_upsert(
        batch, url, "docs", ["source_id"],
        write_options={"createTableColumnTypes": "raw_text VARCHAR(200), content_hash VARCHAR(64)"},
    )
    assert sql.startswith('MERGE INTO "docs"')
    rs = st.executeQuery('SELECT * FROM "docs" ORDER BY "source_id"')
    rows = []
    while rs.next():
        rows.append((rs.getLong(1), rs.getString(2), rs.getString(3)))
    conn.close()
    assert rows == [(1, "new", "h1b"), (2, "keep", "h2"), (3, "ins", "h3")]


# ---------------------------------------------------------------------------
# durable frontier: checkpoint + resume (url_frontier, db/schema.sql:30-44)
# ---------------------------------------------------------------------------


def test_crawl_checkpoint_resume(spark, tmp_path):
    """Kill the crawl mid-generation (fetch raises on a depth-2 page),
    resume from the committed frontier, and get the identical pages table
    a never-killed run produces."""
    from data_integration_system_spark.pipeline.crawl import _committed_generations

    ckpt = str(tmp_path / "frontier_ckpt")
    cfg = CrawlConfig(root_domain="ex.com", max_depth=5, max_pages_total=100)

    def dying_fetch(url: str):
        if url == "https://ex.com/c":
            raise RuntimeError("simulated worker death")
        return fake_fetch(url)

    with pytest.raises(Exception):
        crawl(spark, ["https://ex.com/"], cfg, dying_fetch, checkpoint_dir=ckpt)

    # generations 0 (root) and 1 (/a, /b) committed before the death
    assert _committed_generations(spark, ckpt) == [1, 2]

    resumed = crawl(
        spark, ["https://ex.com/"], cfg, fake_fetch, checkpoint_dir=ckpt, resume=True
    )
    full = crawl(spark, ["https://ex.com/"], cfg, fake_fetch)
    cols = ["page_id", "url", "domain", "depth", "content_hash", "text_len"]
    assert sorted(map(tuple, resumed.select(*cols).collect())) == sorted(
        map(tuple, full.select(*cols).collect())
    )

    # a FRESH run (resume=False) into the same dir must clear the old
    # commits — not union the dead crawl's generations into its result
    single = CrawlConfig(root_domain="ex.com", max_depth=0, max_pages_total=100)
    fresh = crawl(
        spark, ["https://ex.com/"], single, fake_fetch, checkpoint_dir=ckpt
    )
    assert {r.url for r in fresh.select("url").collect()} == {"https://ex.com/"}


def test_crawl_retries_failed_fetches(spark, tmp_path):
    """url_frontier retry semantics (db/schema.sql:38-39): a fetch
    returning no content re-enqueues with retry+1 up to max_retries,
    then counts as visited.  /b fails twice and succeeds on the third
    attempt; an always-failing URL is attempted exactly max_retries+1
    times and the crawl still terminates."""
    attempts = tmp_path / "attempts.log"

    def flaky_fetch(url: str, _log=str(attempts)):
        if url == "https://ex.com/b":
            with open(_log, "a") as fh:
                fh.write("b\n")
            with open(_log) as fh:
                n = sum(1 for line in fh if line.strip() == "b")
            if n < 3:
                return None, ""
        return fake_fetch(url)

    cfg = CrawlConfig(root_domain="ex.com", max_depth=5, max_pages_total=100,
                      max_retries=2)
    pages = crawl(spark, ["https://ex.com/"], cfg, flaky_fetch)
    urls = {r.url for r in pages.select("url").collect()}
    assert "https://ex.com/b" in urls  # recovered on 3rd attempt
    assert len(attempts.read_text().splitlines()) == 3

    # exhaustion: always-failing URL tried max_retries+1 times, then done
    always = tmp_path / "always.log"

    def dead_fetch(url: str, _log=str(always)):
        if url == "https://ex.com/b":
            with open(_log, "a") as fh:
                fh.write("b\n")
            return None, ""
        return fake_fetch(url)

    pages2 = crawl(spark, ["https://ex.com/"], cfg, dead_fetch)
    urls2 = {r.url for r in pages2.select("url").collect()}
    assert "https://ex.com/b" not in urls2
    assert len(always.read_text().splitlines()) == 3  # 1 + 2 retries


def test_crawl_non_html_answer_is_fetched_once_and_not_a_page(spark, tmp_path):
    """F10 type dispatch on the page stream: a URL that answers with
    content that is not text/html counts as fetched (no retry), gives no
    page, and its body is never parsed for links (/z is only linked from
    it, and /c only from the original /a)."""
    fetches = tmp_path / "fetches.log"
    site = dict(SITE)
    site["https://ex.com/z"] = "Leaf Z"
    site_fetch = make_fake_fetch(site)

    def json_a_fetch(url: str, _log=str(fetches)):
        with open(_log, "a") as fh:
            fh.write(url + "\n")
        if url == "https://ex.com/a":
            return b'<a href="/z">z</a>', "application/json"
        return site_fetch(url)

    cfg = CrawlConfig(root_domain="ex.com", max_depth=5, max_pages_total=100,
                      max_retries=2)
    pages = crawl(spark, ["https://ex.com/"], cfg, json_a_fetch)
    assert {r.url for r in pages.select("url").collect()} == {
        "https://ex.com/",
        "https://ex.com/b",
    }
    assert sorted(fetches.read_text().splitlines()) == [
        "https://ex.com/",
        "https://ex.com/a",
        "https://ex.com/b",
    ]


def test_crawl_warm_count_job_budget(spark):
    """Each generation is materialized once after its fetch-and-parse
    pass: a warm crawl(...).count() over SITE (3 generations) schedules at
    most 40 Spark jobs (50-51 with separate fetch and extract stages and
    four materializations per generation)."""
    cfg = CrawlConfig(root_domain="ex.com", max_depth=5, max_pages_total=100)
    crawl(spark, ["https://ex.com/"], cfg, fake_fetch).count()  # warm
    sc = spark.sparkContext
    sc.setJobGroup("crawl-job-budget", "warm crawl count")
    try:
        n = crawl(spark, ["https://ex.com/"], cfg, fake_fetch).count()
    finally:
        sc.setJobGroup("", "")
    assert n == 4
    assert len(sc.statusTracker().getJobIdsForGroup("crawl-job-budget")) <= 40


def test_url_ext_matches_spark_ext_of(spark):
    """The file parse's extension dispatch agrees with the Spark-side
    `ext_of` that selected the file links."""
    from data_integration_system_spark.functions.urls import ext_of
    from data_integration_system_spark.pipeline.extract import _url_ext

    urls = [
        "https://x/a.PDF?dl=1", "https://x/a.docx#p2", "https://x/dir.d/file",
        "https://x/a.tar.gz", "https://x/", "https://x/a.", "https://x/.xlsx",
        "https://x/a.pdf?q=b.txt", "https://x/a\\b.txt", "",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r.url: r.ext for r in df.select("url", ext_of("url").alias("ext")).collect()}
    assert {u: _url_ext(u) for u in urls} == got


# ---------------------------------------------------------------------------
# maintenance: small-files compaction
# ---------------------------------------------------------------------------


def test_compact_parquet(spark, tmp_path):
    from data_integration_system_spark.pipeline.maintenance import compact_parquet

    src = str(tmp_path / "fragmented")
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    df.repartition(50).write.parquet(src)  # 50 tiny files
    import glob

    assert len(glob.glob(src + "/part-*")) == 50
    n = compact_parquet(spark, src, target_file_bytes=256 << 20)
    assert n == 1  # 10k longs << 256 MB
    out = src + "_compacted"
    assert len(glob.glob(out + "/part-*")) == 1
    assert spark.read.parquet(out).count() == 10_000
    assert (
        spark.read.parquet(out).agg(F.sum("k")).head()[0]
        == 10_000 * 9_999 // 2
    )


# ---------------------------------------------------------------------------
# jobs.py — the reference's job-dict entrypoint
# ---------------------------------------------------------------------------


def test_config_from_job_field_filtering():
    from data_integration_system_spark.pipeline.jobs import config_from_job

    job = {
        "start_urls": ["https://WWW.Ex.com/start"],
        "max_depth_root": 3,                      # reference name -> max_depth
        "download_only_same_domain": False,       # -> file_same_domain_only ONLY
        "allowed_file_extensions": [".pdf"],      # -> allowed_file_exts tuple
        "unknown_future_option": 42,              # ignored, never crashes
        "agent_id": "a1",                         # identity field: ignored
    }
    cfg = config_from_job(job)
    assert cfg.root_domain == "ex.com"  # P1: lowercase + strip www.
    assert cfg.max_depth == 3
    # page crawl stays same-domain (reference _in_scope is unconditional);
    # download_only_same_domain relaxes only the file-download gate
    assert cfg.same_domain_only is True
    assert cfg.file_same_domain_only is False
    assert cfg.allowed_file_exts == (".pdf",)


def test_config_from_job_exclusive_depth_precedence():
    """crawler_core.py:89-90 — exclusive_depth wins over max_depth_root
    regardless of dict key order (serialized jobs put it first)."""
    from data_integration_system_spark.pipeline.jobs import config_from_job

    cfg = config_from_job(
        {"start_urls": ["https://ex.com/"], "exclusive_depth": 2, "max_depth_root": 10}
    )
    assert cfg.max_depth == 2
    cfg = config_from_job(
        {"start_urls": ["https://ex.com/"], "exclusive_depth": None, "max_depth_root": 4}
    )
    assert cfg.max_depth == 4


def test_run_job_end_to_end(spark, tmp_path):
    from data_integration_system_spark.pipeline.jobs import run_job

    out = str(tmp_path / "job_out")
    report = run_job(
        spark,
        {"start_urls": ["https://ex.com/"], "max_depth_root": 5},
        out,
        fetch_fn=fake_fetch,
    )
    assert report["status"] == "DONE" and report["pages"] == 4
    assert report["domains"] == {"ex.com": 4}  # salted per-domain counts
    from data_integration_system_spark.pipeline.snapshots import read_current

    assert read_current(spark, out).count() == 4


def test_run_job_file_ingestion(spark, tmp_path):
    """download_files: allowlisted file links are fetched and extracted to
    a _files table (crawler_core.py:96-135); documents_only suppresses
    the pages write but still crawls for discovery (crawler_core.py:217)."""
    import os

    from data_integration_system_spark.pipeline.jobs import run_job

    def fetch_with_pdf(url: str):
        if url == "https://ex.com/doc1.pdf":
            return b"%PDF-1.4 fake", "application/pdf"
        return fake_fetch(url)

    out = str(tmp_path / "job_pages")
    report = run_job(
        spark, {"start_urls": ["https://ex.com/"]}, out, fetch_fn=fetch_with_pdf
    )
    assert report["status"] == "DONE" and report["files"] == 1
    row = spark.read.parquet(out + "_files").collect()[0]
    assert row.url == "https://ex.com/doc1.pdf"
    assert row.error == "" and row.text.startswith("[STUB:extract_pdf]")

    out2 = str(tmp_path / "job_docs_only")
    report2 = run_job(
        spark,
        {"start_urls": ["https://ex.com/"], "documents_only": True},
        out2,
        fetch_fn=fetch_with_pdf,
    )
    assert report2["status"] == "DONE"
    assert report2["files"] == 1 and report2["pages"] > 0
    assert not os.path.exists(out2)  # pages not stored

    # documents_only stores no pages, so it must not report insertions
    assert report2["upserts"] == {"INSERTED": 0, "SKIPPED": 0, "UPSERTED": 0}

    out3 = str(tmp_path / "job_no_files")
    report3 = run_job(
        spark,
        {"start_urls": ["https://ex.com/"], "download_files": False},
        out3,
        fetch_fn=fetch_with_pdf,
    )
    assert report3["status"] == "DONE" and report3["files"] == 0
    assert not os.path.exists(out3 + "_files")


def test_ingest_files_size_cap_spark_side(spark, tmp_path):
    """max_file_bytes is a column predicate: oversize blobs never cross
    the Arrow boundary, but their skipped_too_large marker rows survive
    (errors-as-data, crawler_core.py:116)."""
    from data_integration_system_spark.pipeline.jobs import run_job

    big = b"%PDF" + b"x" * 2000

    def fetch_with_big_pdf(url: str):
        if url == "https://ex.com/doc1.pdf":
            return big, "application/pdf"
        return fake_fetch(url)

    out = str(tmp_path / "cap_out")
    report = run_job(
        spark,
        {"start_urls": ["https://ex.com/"], "max_file_bytes": 100},
        out,
        fetch_fn=fetch_with_big_pdf,
    )
    assert report["status"] == "DONE" and report["files"] == 1
    row = spark.read.parquet(out + "_files").collect()[0]
    assert row.error == "skipped_too_large"
    assert row.text == "" and row.size_bytes == len(big)


def test_run_job_stale_files_cleared(spark, tmp_path):
    """A re-run whose crawl discovers no file links must not leave the
    previous run's _files table presenting stale documents as current."""
    from data_integration_system_spark.pipeline.jobs import run_job

    def fetch_with_pdf(url: str):
        if url == "https://ex.com/doc1.pdf":
            return b"%PDF fake", "application/pdf"
        return fake_fetch(url)

    out = str(tmp_path / "stale_out")
    job = {"start_urls": ["https://ex.com/"], "incremental": False}
    assert run_job(spark, job, out, fetch_fn=fetch_with_pdf)["files"] == 1

    site2 = dict(SITE)
    site2["https://ex.com/b"] = "no file links anymore"
    report = run_job(spark, job, out, fetch_fn=make_fake_fetch(site2))
    assert report["files"] == 0
    assert spark.read.parquet(out + "_files").count() == 0


def test_run_job_failed_report_shape(spark, tmp_path):
    """DONE and FAILED reports carry the same keys (errors are data; a
    consumer aggregating upserts must not KeyError on failures)."""
    from data_integration_system_spark.pipeline.jobs import run_job

    ok = run_job(spark, {"start_urls": ["https://ex.com/"]},
                 str(tmp_path / "ok"), fetch_fn=fake_fetch)
    bad = run_job(spark, {"start_urls": ["https://ex.com/"], "max_depth_root": "x"},
                  str(tmp_path / "bad"), fetch_fn=fake_fetch)
    assert bad["status"] == "FAILED" and bad["error"]
    assert set(bad) == set(ok)


def test_run_job_incremental_recrawl(spark, tmp_path):
    """incremental (models.py:18): a re-crawl against an existing store
    classifies by content hash — identical run is all SKIPPED, a changed
    page is UPSERTED and its new text lands, row count stable."""
    from data_integration_system_spark.pipeline.jobs import run_job

    out = str(tmp_path / "inc_out")
    job = {"start_urls": ["https://ex.com/"], "download_files": False}
    r1 = run_job(spark, job, out, fetch_fn=fake_fetch)
    assert r1["upserts"]["INSERTED"] == 4

    r2 = run_job(spark, job, out, fetch_fn=fake_fetch)
    assert r2["upserts"] == {"INSERTED": 0, "SKIPPED": 4, "UPSERTED": 0}

    site2 = dict(SITE)
    site2["https://ex.com/c"] = '<a href="/">home</a>Leaf C CHANGED'
    r3 = run_job(spark, job, out, fetch_fn=make_fake_fetch(site2))
    assert r3["upserts"] == {"INSERTED": 0, "SKIPPED": 3, "UPSERTED": 1}
    from data_integration_system_spark.pipeline.snapshots import read_current

    rows = read_current(spark, out).collect()
    assert len(rows) == 4
    texts = {r.url: r.text for r in rows}
    assert "CHANGED" in texts["https://ex.com/c"]


def test_run_job_failure_is_data(spark, tmp_path):
    from data_integration_system_spark.pipeline.jobs import run_job

    report = run_job(spark, {"start_urls": []}, str(tmp_path / "x"), fetch_fn=fake_fetch)
    # empty seeds -> empty crawl is fine (DONE, 0 pages); a genuinely bad
    # config must come back FAILED, not raise
    assert report["status"] in ("DONE", "FAILED")
    bad = run_job(spark, {"start_urls": ["https://ex.com/"], "max_depth_root": "not_an_int"},
                  str(tmp_path / "y"), fetch_fn=fake_fetch)
    assert bad["status"] == "FAILED" and bad["error"]


def test_run_job_empty_start_urls_is_empty_crawl(spark, tmp_path):
    """A job with no seeds crawls nothing: DONE with 0 pages, not a
    bare index error from deriving the root domain."""
    from data_integration_system_spark.pipeline.jobs import run_job

    report = run_job(spark, {"start_urls": []}, str(tmp_path / "x"), fetch_fn=fake_fetch)
    assert report["status"] == "DONE", report["error"]
    assert report["pages"] == 0


# ---------------------------------------------------------------------------
# reference-fidelity regressions (round-1 review findings)
# ---------------------------------------------------------------------------


def test_decode_eth_is_not_mojibake():
    """'ð' is legitimate UTF-8 (Icelandic/IPA) — only 'ý'/'þ' are the
    reference's mojibake markers (crawler_core.py:44); routing 'ð' into
    the windows-1254 fallback would corrupt the text and its hash."""
    # NB: 'þ'/'ý' remain markers (so e.g. Icelandic 'það' still reroutes,
    # exactly like the reference) — only 'ð' must pass through clean
    assert decode_bytes("góður dagur".encode()) == "góður dagur"


def test_links_inside_noscript_are_dropped():
    """The reference removes script/style/noscript subtrees BEFORE
    extracting links (link_extractor.py:9-21) — tracking links in
    noscript must not enter the frontier."""
    html = '<body><noscript><a href="/tracking">t</a></noscript><a href="/real">r</a></body>'
    _, links = html_to_text_and_links(html, base_url="https://ex.com/")
    assert links == ["https://ex.com/real"]


def test_archive_extensions_blocked():
    """.rar/.7z/.tar are on the reference's STATIC_EXTENSIONS blocklist
    (crawler_core.py:15-20) — fetching a multi-GB archive the reference
    skips is a scale hazard, not just a parity bug."""
    from data_integration_system_spark.functions.urls import BLOCKED_EXTS

    for ext in (".rar", ".7z", ".tar", ".gz", ".zip"):
        assert ext in BLOCKED_EXTS


def test_snapshot_store_roundtrip_and_prune(spark, tmp_path):
    """Copy-on-write snapshot store: each write is a new version, readers
    follow the pointer, pruning keeps the active version."""
    from data_integration_system_spark.pipeline import snapshots as snap

    root = str(tmp_path / "store")
    assert not snap.snapshot_exists(spark, root)
    assert snap.write_snapshot(spark.range(3), root) == "v000001"
    assert snap.write_snapshot(spark.range(5), root) == "v000002"
    assert snap.current_version(spark, root) == "v000002"
    assert snap.read_current(spark, root).count() == 5

    assert snap.write_snapshot(spark.range(7), root) == "v000003"
    removed = snap.prune_snapshots(spark, root, keep=1)
    assert removed == ["v000001", "v000002"]
    assert snap.read_current(spark, root).count() == 7


def test_snapshot_optimistic_concurrency(spark, tmp_path):
    """expect_current = the lost-update guard for read-modify-write
    jobs: a commit based on a stale version must raise instead of
    silently swapping out a concurrent writer's snapshot; the refused
    version dir stays uncommitted (readers never see it)."""
    import pytest as _pytest

    from data_integration_system_spark.pipeline import snapshots as snap

    root = str(tmp_path / "store")
    base = snap.write_snapshot(spark.range(3), root)
    # a concurrent writer lands v000002 while our merge is running
    snap.write_snapshot(spark.range(5), root)
    with _pytest.raises(snap.ConcurrentWriteError, match="moved"):
        snap.write_snapshot(spark.range(9), root, expect_current=base)
    # the loser's commit changed nothing visible
    assert snap.current_version(spark, root) == "v000002"
    assert snap.read_current(spark, root).count() == 5
    # retry against the NEW base succeeds
    assert (
        snap.write_snapshot(spark.range(9), root, expect_current="v000002")
        == "v000003"
    )
    # commit_version honors the same contract
    name = snap.allocate_version(spark, root)
    spark.range(2).write.parquet(f"{root}/{name}")
    with _pytest.raises(snap.ConcurrentWriteError):
        snap.commit_version(spark, root, name, expect_current=base)
    snap.commit_version(spark, root, name, expect_current="v000003")
    assert snap.read_current(spark, root).count() == 2


def test_snapshot_store_legacy_layout(spark, tmp_path):
    """A pre-snapshot store (plain parquet at the root) keeps working:
    read falls back to the root, and the first snapshot write upgrades
    the layout without touching the legacy data."""
    from data_integration_system_spark.pipeline import snapshots as snap

    root = str(tmp_path / "legacy")
    spark.range(4).write.parquet(root)
    assert snap.snapshot_exists(spark, root)
    assert snap.current_version(spark, root) is None
    assert snap.read_current(spark, root).count() == 4


def test_run_job_crash_before_pointer_swap_keeps_old_snapshot(
    spark, tmp_path, monkeypatch
):
    """The reason the snapshot store exists: a merge that dies after
    writing its data but BEFORE the pointer swap must leave the previous
    store fully readable (the old in-place overwrite destroyed it)."""
    from data_integration_system_spark.pipeline import snapshots as snap
    from data_integration_system_spark.pipeline.jobs import run_job

    out = str(tmp_path / "crash_out")
    job = {"start_urls": ["https://ex.com/"], "download_files": False}
    assert run_job(spark, job, out, fetch_fn=fake_fetch)["status"] == "DONE"

    def boom(spark_, root, name):
        raise RuntimeError("simulated crash before manifest swap")

    monkeypatch.setattr(snap, "_write_manifest", boom)
    site2 = dict(SITE)
    site2["https://ex.com/c"] = '<a href="/">home</a>Leaf C CHANGED'
    r2 = run_job(spark, job, out, fetch_fn=make_fake_fetch(site2))
    assert r2["status"] == "FAILED" and "simulated crash" in r2["error"]
    monkeypatch.undo()

    # previous snapshot still the active, intact store
    assert snap.current_version(spark, out) == "v000001"
    rows = {r.url: r.text for r in snap.read_current(spark, out).collect()}
    assert len(rows) == 4 and "CHANGED" not in rows["https://ex.com/c"]

    # and the next merge commits right past the orphaned version dir
    r3 = run_job(spark, job, out, fetch_fn=make_fake_fetch(site2))
    assert r3["status"] == "DONE"
    rows = {r.url: r.text for r in snap.read_current(spark, out).collect()}
    assert "CHANGED" in rows["https://ex.com/c"]


def test_crawl_refuses_to_wipe_foreign_checkpoint_dir(spark, tmp_path):
    """A mistyped checkpoint_dir (pointing at real data) must fail loudly
    on a fresh run, never be recursively deleted."""
    import pytest as _pytest

    from data_integration_system_spark.pipeline.crawl import CrawlConfig, crawl

    precious = tmp_path / "precious"
    precious.mkdir()
    (precious / "data.parquet").write_text("not a checkpoint")
    cfg = CrawlConfig(root_domain="ex.com")
    with _pytest.raises(ValueError, match="refusing to clear"):
        crawl(spark, ["https://ex.com/"], cfg, fake_fetch,
              checkpoint_dir=str(precious))
    assert (precious / "data.parquet").exists()


def test_jdbc_staging_unique_and_dropped(spark):
    """Concurrent-batch safety: each invocation stages into its own
    uniquely-named table, and the staging table is gone after the merge."""
    import re as _re

    from data_integration_system_spark.pipeline.writer import write_jdbc_upsert

    jvm = spark._jvm
    url = "jdbc:derby:memory:stagetest;create=true"
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute('CREATE TABLE "t" ("k" BIGINT PRIMARY KEY, "v" VARCHAR(20))')

    batch = spark.createDataFrame([(1, "a")], "k long, v string")
    opts = {"createTableColumnTypes": "v VARCHAR(20)"}
    s1 = _re.search(r'USING "([^"]+)"', write_jdbc_upsert(batch, url, "t", ["k"], write_options=opts)).group(1)
    s2 = _re.search(r'USING "([^"]+)"', write_jdbc_upsert(batch, url, "t", ["k"], write_options=opts)).group(1)
    assert s1 != s2 and s1.startswith("t_stg_")

    for s in (s1, s2):
        try:
            st.executeQuery(f'SELECT * FROM "{s}"')
            raise AssertionError(f"staging table {s} survived the merge")
        except Exception as e:
            assert "does not exist" in str(e) or "42X05" in str(e)
    conn.close()


def test_submit_job_front_door_round_trip(spark, tmp_path):
    """S15 parity: submit -> PENDING row -> claim -> run -> DONE, with
    the config JSON surviving the pack/unpack round trip."""
    from data_integration_system_spark.pipeline.jobs import (
        current_jobs,
        run_pending_jobs,
        submit_job,
    )
    from data_integration_system_spark.pipeline.snapshots import read_current

    jobs_path = str(tmp_path / "jobs_log")
    job_id = submit_job(
        spark, jobs_path,
        {"url": "https://ex.com/", "max_depth_root": 5,
         "download_files": False, "unknown_option": "ignored"},
    )
    row = current_jobs(spark, jobs_path).collect()[0]
    assert row.job_id == job_id and row.status == "PENDING"
    assert row.root_domain == "ex.com"
    import json as _json

    cfg = _json.loads(row.config)
    assert cfg == {"max_depth_root": 5, "download_files": False}

    reports = run_pending_jobs(spark, jobs_path, str(tmp_path / "out"),
                               fetch_fn=fake_fetch)
    assert len(reports) == 1
    assert reports[0]["job_id"] == job_id and reports[0]["status"] == "DONE"
    assert reports[0]["pages"] == 4
    assert read_current(spark, f"{tmp_path}/out/{job_id}").count() == 4

    after = {r.job_id: r.status for r in current_jobs(spark, jobs_path).collect()}
    assert after == {job_id: "DONE"}
    # an already-processed queue claims nothing
    assert run_pending_jobs(spark, jobs_path, str(tmp_path / "out2"),
                            fetch_fn=fake_fetch) == []


def test_submit_job_validation(spark, tmp_path):
    from data_integration_system_spark.pipeline.jobs import submit_job

    jobs_path = str(tmp_path / "jobs_log")
    for bad in ({}, {"url": "notaurl"}, {"url": "ftp://x.com/"},
                {"url": "https://x.com/", "max_pages_total": -1},
                {"url": "https://x.com/", "max_pages_total": True}):
        with pytest.raises(ValueError):
            submit_job(spark, jobs_path, bad)

    # P1 root_domain derivation: lowercased netloc, leading www. stripped
    from data_integration_system_spark.pipeline.jobs import current_jobs

    jid = submit_job(spark, jobs_path, {"url": "https://WWW.Ex.com/a"})
    rows = {r.job_id: r.root_domain for r in current_jobs(spark, jobs_path).collect()}
    assert rows[jid] == "ex.com"


def test_submitted_job_visible_to_streaming_picker(spark, tmp_path):
    """The PENDING row submit_job appends is consumable by the S14
    streaming job picker."""
    from data_integration_system_spark.pipeline.jobs import submit_job
    from data_integration_system_spark.streaming.jobs import pending_job_picker

    jobs_path = str(tmp_path / "jobs_log")
    submit_job(spark, jobs_path, {"url": "https://ex.com/"})
    stream = (
        spark.readStream.schema(spark.read.parquet(jobs_path).schema)
        .parquet(jobs_path)
    )
    q = (
        pending_job_picker(stream)
        .writeStream.format("memory").queryName("picked_jobs")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT status FROM picked_jobs").collect()[0].status == "PENDING"
    finally:
        q.stop()


def test_snapshot_crash_mid_pointer_swap_recovers(spark, tmp_path):
    """Crash BETWEEN delete(_CURRENT) and rename(tmp): the store must
    resolve via the tmp manifest (its data already committed), never
    look empty — an empty-looking store would make the next merge drop
    all prior data."""
    import os

    from data_integration_system_spark.pipeline import snapshots as snap

    root = str(tmp_path / "store")
    snap.write_snapshot(spark.range(3), root)
    snap.write_snapshot(spark.range(5), root)
    # simulate the torn swap: _CURRENT deleted, tmp (pointing at v2) left
    with open(f"{root}/_CURRENT.tmp", "w") as f:
        f.write("v000002")
    os.remove(f"{root}/_CURRENT")
    assert snap.current_version(spark, root) == "v000002"
    assert snap.snapshot_exists(spark, root)
    assert snap.read_current(spark, root).count() == 5

    # corrupt tmp -> fall back to the highest committed version
    with open(f"{root}/_CURRENT.tmp", "w") as f:
        f.write("garbage")
    assert snap.current_version(spark, root) == "v000002"

    # no manifest, no tmp, only version dirs: a first write that crashed
    # before any swap attempt was never committed
    fresh = str(tmp_path / "fresh")
    spark.range(2).write.parquet(f"{fresh}/v000001")
    assert snap.current_version(spark, fresh) is None
    assert not snap.snapshot_exists(spark, fresh)


def test_run_pending_jobs_drains_past_claim_limit(spark, tmp_path):
    """The worker loop must drain a queue larger than one claim limit."""
    from data_integration_system_spark.pipeline.jobs import (
        current_jobs,
        run_pending_jobs,
        submit_job,
    )

    jobs_path = str(tmp_path / "jobs_log")
    ids = [
        submit_job(spark, jobs_path,
                   {"url": "https://ex.com/", "download_files": False})
        for _ in range(3)
    ]
    rounds = 0
    while run_pending_jobs(spark, jobs_path, str(tmp_path / "out"),
                           fetch_fn=fake_fetch, limit=1):
        rounds += 1
    assert rounds == 3
    state = {r.job_id: r.status for r in current_jobs(spark, jobs_path).collect()}
    assert state == {i: "DONE" for i in ids}


def test_run_pending_jobs_worker_death_leaves_unstarted_jobs_pending(
    spark, tmp_path, monkeypatch
):
    """Claim semantics: a job is marked RUNNING just before its body
    starts, so a worker that dies inside the first of two claimed jobs
    leaves the second PENDING for the next claim (the reference's
    pick-one daemon, worker_daemon.py:31-38), not RUNNING forever."""
    from data_integration_system_spark.pipeline import jobs

    class WorkerDeath(BaseException):
        pass

    def dying_run_job(*args, **kwargs):
        raise WorkerDeath

    jobs_path = str(tmp_path / "jobs_log")
    first, second = (
        jobs.submit_job(spark, jobs_path,
                        {"url": "https://ex.com/", "download_files": False})
        for _ in range(2)
    )
    monkeypatch.setattr(jobs, "run_job", dying_run_job)
    with pytest.raises(WorkerDeath):
        jobs.run_pending_jobs(spark, jobs_path, str(tmp_path / "out"),
                              fetch_fn=fake_fetch, max_workers=1)
    state = {
        r.job_id: r.status for r in jobs.current_jobs(spark, jobs_path).collect()
    }
    assert state == {first: "RUNNING", second: "PENDING"}


def test_snapshot_time_travel_and_diff(spark, tmp_path):
    """Time-travel surface: retained versions are listable and readable
    by name or ordinal; snapshot_diff classifies ADDED / DELETED /
    CHANGED / UNCHANGED between any two retained versions on (key,
    hash) projections only."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_integration_system_spark.pipeline import snapshots as snap

    root = str(tmp_path / "store")
    v1 = spark.createDataFrame(
        [(1, "h1"), (2, "h2"), (3, "h3")], "k int, h string"
    )
    v2 = spark.createDataFrame(
        [(2, "h2"), (3, "h3x"), (4, "h4")], "k int, h string"
    )
    snap.write_snapshot(v1, root)
    snap.write_snapshot(v2, root)
    assert snap.list_versions(spark, root) == ["v000001", "v000002"]
    assert snap.read_version(spark, root, 1).count() == 3
    assert snap.read_version(spark, root, "v000002").count() == 3
    with _pytest.raises(FileNotFoundError):
        snap.read_version(spark, root, 9)

    diff = snap.snapshot_diff(spark, root, 1, 2, key="k", hash_col="h")
    got = {r["k"]: r["status"] for r in diff.collect()}
    assert got == {1: "DELETED", 2: "UNCHANGED", 3: "CHANGED", 4: "ADDED"}

    # pruning drops time travel but never the active version
    snap.prune_snapshots(spark, root, keep=1)
    assert snap.list_versions(spark, root) == ["v000002"]
    with _pytest.raises(FileNotFoundError):
        snap.read_version(spark, root, 1)


def test_checks_one_pass_and_gate(spark):
    """The data-quality family: row-local checks in one aggregation
    (NULL counts as violation), key-uniqueness and FK helpers, and the
    hard gate."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_integration_system_spark.pipeline import checks as dq

    df = spark.createDataFrame(
        [(1, 10, "A"), (2, -5, "B"), (2, None, "A"), (4, 7, "Z")],
        "k int, v int, s string",
    )
    report = dq.run_checks(
        df,
        [dq.not_null("v"), dq.in_range("v", 0, 100), dq.in_set("s", ("A", "B"))],
    )
    got = {r["check_name"]: (r["n_rows"], r["n_violations"]) for r in report.collect()}
    assert got == {
        "not_null_v": (4, 1),
        "range_v": (4, 2),  # -5 out of range; NULL counts as violation
        "set_s": (4, 1),
    }
    # one aggregation over one scan: the plan has exactly one scan node
    from data_integration_system_spark.plans.analyze import shuffle_count

    assert report.toJSON is not None  # smoke: plan builds
    # the global aggregate's partial->final pair is the only data
    # movement (partials then a single-partition exchange); the unpivot
    # adds none
    assert shuffle_count(report) <= 2

    dups = dq.duplicate_keys(df, ["k"]).collect()
    assert [(r["k"], r["n"]) for r in dups] == [(2, 2)]

    parent = spark.createDataFrame([(1,), (2,)], "pk int")
    orphans = dq.foreign_key_violations(df, "k", parent, "pk")
    assert sorted(r["k"] for r in orphans.collect()) == [4]

    with _pytest.raises(dq.CheckFailure):
        dq.gate(report)
    dq.gate(report, max_violations=2)  # loose gate passes


def test_index_maintenance_rebuild_dispatch(spark, tmp_path):
    """The maintenance entry point rebuilds any tier through the shared
    (spark, sf_dir, index_path) contract and the result serves queries;
    unknown kinds fail loudly before touching anything."""
    import pytest as _pytest

    from data_integration_system_spark.catalog import table
    from data_integration_system_spark.operators.similarity import (
        _N_QUERIES,
        query_ivfpq_index,
    )
    from data_integration_system_spark.pipeline.index_maintenance import (
        rebuild_index,
    )

    idx = str(tmp_path / "ivfpq")
    sf = "/root/testdata/sf0.001"
    assert rebuild_index(spark, "ivfpq", sf, idx) == idx
    emb = table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    assert query_ivfpq_index(spark, idx, queries).count() > 0
    with _pytest.raises(ValueError, match="unknown index kind"):
        rebuild_index(spark, "btree", sf, str(tmp_path / "x"))
    # mode knobs pass through to the ivfpq builder and land in meta
    idx2 = str(tmp_path / "ivfpq_modes")
    rebuild_index(spark, "ivfpq", sf, idx2, mode="opq")
    meta = spark.read.parquet(f"{idx2}/meta").head()
    assert meta["opq"] is True
    assert query_ivfpq_index(spark, idx2, queries).count() > 0


# ---------------------------------------------------------------------------
# crawl paths: the driver path, a handoff to the distributed loop after
# the first generation (cap 1) and the distributed loop alone (cap 0)
# ---------------------------------------------------------------------------

PATH_SITE = {
    "https://ex.com/docs/": '<a href="/docs/a">a</a><a href="/other/b">b</a><a href="/docs">d</a>',
    "https://ex.com/docs/a": '<a href="/docs/c.pdf">pdf</a>Doc A',
    "https://ex.com/docs": "Docs index",
    "https://ex.com/other/b": "Out of scope",
}


def _failing_fetch(log: str, fail_times: int):
    """SITE, with /b answering nothing on its first `fail_times`
    attempts; attempts are logged to `log`."""

    def fetch(url: str):
        if url == "https://ex.com/b":
            with open(log, "a") as fh:
                fh.write("b\n")
            with open(log) as fh:
                if sum(1 for _ in fh) <= fail_times:
                    return None, ""
        return fake_fetch(url)

    return fetch


def _json_a_fetch():
    """SITE, with /a answering JSON that holds a link."""

    def fetch(url: str):
        if url == "https://ex.com/a":
            return b'<a href="/z">z</a>', "application/json"
        return fake_fetch(url)

    return fetch


_PATH_SCENARIOS = {
    "site": (dict(max_depth=5), lambda log: fake_fetch, "https://ex.com/"),
    "budget_2": (dict(max_pages_total=2), lambda log: fake_fetch, "https://ex.com/"),
    "single_page": (dict(single_page=True), lambda log: fake_fetch, "https://ex.com/"),
    "path_mode": (
        dict(path_mode=True, base_path="/docs"),
        lambda log: make_fake_fetch(PATH_SITE),
        "https://ex.com/docs/",
    ),
    "max_depth_1": (dict(max_depth=1), lambda log: fake_fetch, "https://ex.com/"),
    "flaky": (dict(), lambda log: _failing_fetch(log, 2), "https://ex.com/"),
    "always_failing": (dict(), lambda log: _failing_fetch(log, 99), "https://ex.com/"),
    "always_failing_budget_4": (
        dict(max_pages_total=4), lambda log: _failing_fetch(log, 99), "https://ex.com/"
    ),
    "non_html": (dict(), lambda log: _json_a_fetch(), "https://ex.com/"),
}


@pytest.mark.parametrize("scenario", sorted(_PATH_SCENARIOS))
def test_crawl_driver_path_matches_distributed(spark, tmp_path, monkeypatch, scenario):
    """The driver path, a crawl handed to the distributed loop after its
    first generation, and the distributed loop alone give the same
    8-column pages table, file links and fetch attempts on every
    scenario.  The default 20,000-page budget stays on the driver (the
    run fails if it reaches the distributed fetch); a multi-generation
    crawl under cap 1 must reach it."""
    from data_integration_system_spark.pipeline import crawl as C

    opts, make_fetch, seed = _PATH_SCENARIOS[scenario]
    cfg = CrawlConfig(root_domain="ex.com", **opts)

    def run(tag: str):
        log = tmp_path / f"{tag}.log"
        pages = crawl(spark, [seed], cfg, make_fetch(str(log)))
        return (
            sorted(map(tuple, pages.collect())),
            sorted(r.url for r in file_links_of(pages, cfg).collect()),
            len(log.read_text().splitlines()) if log.exists() else 0,
        )

    def no_distributed_fetch(*args, **kwargs):
        raise AssertionError("the driver path ran the distributed fetch")

    distributed_fetches = []
    fetch_frontier = C.fetch_frontier

    def counted_fetch(*args, **kwargs):
        distributed_fetches.append(1)
        return fetch_frontier(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(C, "fetch_frontier", no_distributed_fetch)
        on_driver = run("driver")
    with monkeypatch.context() as m:
        m.setattr(C, "fetch_frontier", counted_fetch)
        m.setattr(C, "_LOCAL_CRAWL_PAGES", 1)
        handed_off = run("handoff")
    with monkeypatch.context() as m:
        m.setattr(C, "_LOCAL_CRAWL_PAGES", 0)
        distributed = run("distributed")
    assert on_driver == handed_off == distributed
    assert on_driver[0], "every scenario crawls at least the seed"
    assert bool(distributed_fetches) == (scenario != "single_page")
    if scenario in ("flaky", "always_failing"):
        assert on_driver[2] == 3  # /b: first attempt + max_retries


def _warm_jobs(spark, group: str, action) -> tuple:
    """(result, Spark jobs) of `action()` after one warm-up call."""
    action()
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_crawl_driver_path_job_budget(spark, tmp_path):
    """A crawl that ends on the driver runs its generations without
    Spark jobs, whatever its budget: a warm crawl(...).count() over SITE
    at the default 20,000-page budget takes at most 3 jobs (31 on the
    distributed loop) and a warm run_job at most 8."""
    from data_integration_system_spark.pipeline.jobs import run_job

    cfg = CrawlConfig(root_domain="ex.com", max_depth=5)
    n, jobs = _warm_jobs(
        spark, "crawl-driver-count",
        lambda: crawl(spark, ["https://ex.com/"], cfg, fake_fetch).count(),
    )
    assert n == 4 and jobs <= 3, jobs

    outs = iter(str(tmp_path / f"out{i}") for i in range(2))
    job = {"start_urls": ["https://ex.com/"], "max_depth_root": 5,
           "download_files": False}
    report, jobs = _warm_jobs(
        spark, "crawl-driver-run-job",
        lambda: run_job(spark, job, next(outs), fetch_fn=fake_fetch),
    )
    assert report["status"] == "DONE" and report["pages"] == 4
    assert jobs <= 8, jobs


def test_crawl_distributed_job_budget(spark, monkeypatch):
    """The distributed loop keeps its per-generation cost: a warm
    crawl(...).count() over SITE with the driver path off takes at most
    40 Spark jobs."""
    from data_integration_system_spark.pipeline import crawl as C

    monkeypatch.setattr(C, "_LOCAL_CRAWL_PAGES", 0)
    cfg = CrawlConfig(root_domain="ex.com", max_depth=5, max_pages_total=100)
    n, jobs = _warm_jobs(
        spark, "crawl-distributed-count",
        lambda: crawl(spark, ["https://ex.com/"], cfg, fake_fetch).count(),
    )
    assert n == 4 and jobs <= 40, jobs


def test_run_job_warm_job_budget(spark, tmp_path):
    """A job pays for its commit, not its bookkeeping: a warm first
    run_job with download_files=False takes at most 3 Spark jobs (the
    write plus one report aggregation; no count, no salted top-5, no
    manifest schema inference) and a warm incremental re-crawl at most
    5 (no checkpointed classification)."""
    from data_integration_system_spark.pipeline.jobs import run_job

    job = {"start_urls": ["https://ex.com/"], "max_depth_root": 5,
           "download_files": False}
    outs = iter(str(tmp_path / f"first{i}") for i in range(2))
    report, jobs = _warm_jobs(
        spark, "run-job-first",
        lambda: run_job(spark, job, next(outs), fetch_fn=fake_fetch),
    )
    assert report["upserts"] == {"INSERTED": 4, "SKIPPED": 0, "UPSERTED": 0}
    assert jobs <= 3, jobs

    out = str(tmp_path / "recrawl")
    run_job(spark, job, out, fetch_fn=fake_fetch)
    report, jobs = _warm_jobs(
        spark, "run-job-recrawl",
        lambda: run_job(spark, job, out, fetch_fn=fake_fetch),
    )
    assert report["upserts"] == {"INSERTED": 0, "SKIPPED": 4, "UPSERTED": 0}
    assert jobs <= 5, jobs


def test_run_pending_jobs_claim_job_budget(spark, tmp_path, monkeypatch):
    """The claim reads the job log with its schema: folding a 2-job log
    and collecting its PENDING rows takes at most 2 Spark jobs (the job
    bodies and status appends are stubbed out, so only the claim runs)."""
    from data_integration_system_spark.pipeline import jobs as PJ

    jobs_path = str(tmp_path / "jobs_log")
    ids = [PJ.submit_job(spark, jobs_path, {"url": f"https://s{i}.com/"})
           for i in range(2)]
    monkeypatch.setattr(PJ, "job_status_update", lambda *a, **k: None)
    monkeypatch.setattr(PJ, "run_job", lambda *a: {"status": "DONE", "error": ""})
    reports, jobs = _warm_jobs(
        spark, "claim",
        lambda: PJ.run_pending_jobs(spark, jobs_path, str(tmp_path / "out")),
    )
    assert sorted(r["job_id"] for r in reports) == sorted(ids)
    assert jobs <= 2, jobs


#: a seed page linking into 7 other domains: page counts 3, 2, 2, 2 and
#: a four-way tie at 1 (d4, d5, d6 and ex.com), so the top 5 by (count
#: desc, domain asc) cuts inside the tie
MULTI_DOMAIN_SITE = {
    "https://ex.com/": "".join(
        f'<a href="https://d{k}.com/">d{k}</a>' for k in range(7)
    ),
    "https://d0.com/": '<a href="/x">x</a><a href="/y">y</a>',
    "https://d0.com/x": "x",
    "https://d0.com/y": "y",
    "https://d1.com/": '<a href="/x">x</a>',
    "https://d1.com/x": "x",
    "https://d2.com/": '<a href="/x">x</a>',
    "https://d2.com/x": "x",
    "https://d3.com/": '<a href="/x">x</a>',
    "https://d3.com/x": "x",
    "https://d4.com/": "leaf",
    "https://d5.com/": "leaf",
    "https://d6.com/": "leaf",
}


@pytest.mark.parametrize("path", ["driver", "distributed", "documents_only"])
def test_run_job_report_counts_match_python(spark, tmp_path, monkeypatch, path):
    """The report's one aggregation gives the pages total and the top 5
    domains of a plain Python count with the (count desc, domain asc)
    rule, on the driver crawl, the distributed loop and with
    documents_only (no commit)."""
    from collections import Counter
    from urllib.parse import urlparse

    from data_integration_system_spark.pipeline import crawl as C
    from data_integration_system_spark.pipeline.jobs import run_job

    if path == "distributed":
        monkeypatch.setattr(C, "_LOCAL_CRAWL_PAGES", 0)
    job = {"start_urls": ["https://ex.com/"], "same_domain_only": False,
           "download_files": False, "documents_only": path == "documents_only"}
    report = run_job(spark, job, str(tmp_path / "out"),
                     fetch_fn=make_fake_fetch(MULTI_DOMAIN_SITE))

    per_domain = Counter(urlparse(u).netloc for u in MULTI_DOMAIN_SITE)
    top = sorted(per_domain.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert report["status"] == "DONE", report["error"]
    assert report["pages"] == len(MULTI_DOMAIN_SITE) == 13
    assert report["domains"] == dict(top)
    assert list(report["domains"]) == [d for d, _ in top]
    assert top[-1] == ("d4.com", 1)
    inserted = 0 if path == "documents_only" else 13
    assert report["upserts"] == {"INSERTED": inserted, "SKIPPED": 0, "UPSERTED": 0}


def test_crawl_driver_path_politeness(spark):
    """The driver path fetches a whole generation on one pool, across
    domains: it keeps at most per_domain fetches in flight per domain,
    path-less ?query URLs included, and starts the domains side by side.
    Submitted in (depth, url) order, a.com's 10 urls would fill the
    8-thread pool and b.com's first fetch would wait for a.com's."""
    import threading
    import time
    from urllib.parse import urlsplit

    hub = "".join(
        f'<a href="https://{h}/p{i}">p</a>' for h in ("a.com", "b.com") for i in range(10)
    ) + "".join(f'<a href="https://b.com?p={i}">q</a>' for i in range(3))
    lock = threading.Lock()
    in_flight: dict[str, int] = {}
    peak: dict[str, int] = {}
    starts: list[str] = []

    def slow_fetch(url: str):
        dom = urlsplit(url).hostname
        with lock:
            in_flight[dom] = in_flight.get(dom, 0) + 1
            peak[dom] = max(peak.get(dom, 0), in_flight[dom])
            starts.append(dom)
        time.sleep(0.05)
        with lock:
            in_flight[dom] -= 1
        body = hub if url == "https://a.com/" else "leaf"
        return f"<html><body>{body}</body></html>".encode(), "text/html"

    cfg = CrawlConfig(root_domain="a.com", same_domain_only=False, max_depth=1,
                      per_domain=2)
    assert crawl(spark, ["https://a.com/"], cfg, slow_fetch).count() == 24
    assert set(peak) == {"a.com", "b.com"}
    assert max(peak.values()) <= 2, peak
    # the seed, then the second generation's first 4 fetches
    assert set(starts[1:5]) == {"a.com", "b.com"}, starts


def test_politeness_key_matches_domain_of(spark):
    """fetch_batch's semaphore key is domain_of's value: a path-less URL
    with a ?query or #fragment shares its site's slot."""
    from data_integration_system_spark.functions.urls import domain_of
    from data_integration_system_spark.pipeline.fetch import _politeness_key

    urls = [
        "https://ex.com?p=2", "https://ex.com#frag", "https://ex.com:8080/a",
        "https://WWW.Ex.com/a", "https://www.ex.com", "http://sub.ex.com/x?y=/z",
        "ex.com/no-scheme", "",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r.url: r.d for r in df.select("url", domain_of("url").alias("d")).collect()}
    assert {u: _politeness_key(u) for u in urls} == got
    assert _politeness_key("https://ex.com?p=2") == "ex.com"

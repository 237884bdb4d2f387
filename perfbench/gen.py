"""Seeded input generator.

Everything the package sees during a benchmark run comes from here: the
catalog tables (same names and schemas as the engine's catalog), the
crawl sites behind the ``ingest`` workload, and the query / append /
delete sets of ``index_serve``.  The same seed gives byte-identical
inputs; sizes depend only on the scale, never on the seed, so two seeds
cost the same work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the data spark table column row key value hash join merge sort "
    "group agg filter scan query window stream batch vector line part "
    "customer order small big fast slow"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMB_DIM = 64
SITE_DOMAIN = "bench.test"

def _ts(values: np.ndarray) -> pa.Array:
    """int64 microseconds since the epoch -> timestamp[us] column."""
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _days(start: str, n_days: np.ndarray) -> np.ndarray:
    base = np.datetime64(start, "D").astype("datetime64[us]")
    return (base + n_days.astype("timedelta64[D]")).astype("int64")


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lengths = rng.integers(lo, hi, n)
    ids = rng.integers(0, len(WORDS), int(lengths.sum()))
    out, i = [], 0
    for k in lengths:
        out.append(" ".join(WORDS[j] for j in ids[i:i + k]))
        i += k
    return out


def catalog_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten catalog tables at ``scale`` (1.0 = 1.5M orders).

    Value domains follow the engine's fixture contract (FIXTURES.md):
    TPC-H-ish star schema keys and enums, an events stream in January
    2024 with ``props`` JSON, a word-salad documents corpus where one
    document in twenty is a planted near-duplicate (a copy with " dup"
    appended) and one in a hundred an exact copy, and unit-norm 64-d
    embeddings with ten weak clusters."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 64)
    n_ord = max(int(1_500_000 * scale), 100)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * scale), 100)
    n_docs = max(int(50_000 * scale), 100)
    n_emb = max(int(20_000 * scale), 200)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)
        ],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(_days("1995-01-01", order_day)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    l_order = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(
            _days("1995-01-01", order_day[l_order] + rng.integers(1, 95, n_line))
        ),
    })
    span_us = 30 * 86_400 * 1_000_000
    ev_ts = np.sort(rng.integers(0, span_us, n_ev)) + int(
        np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    )
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, max(n_ev // 66, 10), n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _texts(rng, n_docs, 8, 100)
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < 0.05:  # planted near-duplicate of an earlier doc
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif i > 0 and r < 0.06:  # planted exact duplicate
            texts[i] = texts[int(rng.integers(0, i))]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    emb = embeddings_of(rng, labels)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def embeddings_of(rng: np.random.Generator, labels: np.ndarray) -> np.ndarray:
    """Unit-norm float32 vectors around ten fixed cluster centres (the
    centres come from a fixed stream so appended vectors share them)."""
    centres = np.random.default_rng(12345).normal(0.0, 1.0, (10, EMB_DIM))
    v = 0.35 * centres[labels] + rng.normal(0.0, 1.0, (len(labels), EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def write_catalog(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the catalog under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in catalog_tables(seed, scale).items():
        _write(out_dir, name, table)
        rows[name] = table.num_rows
    return rows


# ---------------------------------------------------------------------------
# ingest: synthetic crawl sites
# ---------------------------------------------------------------------------


def site_pages(
    seed: int, site: int, n_pages: int, branch: int = 6
) -> dict[str, dict]:
    """One synthetic site as plain data: ``{url: {"text", "links"}}``.
    Page i links to its ``branch`` children in an n_pages tree plus one
    seeded back-link, so every page is reachable from the root and the
    BFS discovers some links twice."""
    rng = np.random.default_rng([seed, site])
    host = f"site{site}.{SITE_DOMAIN}"
    url = [f"http://{host}/p{i}" for i in range(n_pages)]
    texts = _texts(rng, n_pages, 20, 60)
    pages = {}
    for i in range(n_pages):
        kids = range(i * branch + 1, min(i * branch + 1 + branch, n_pages))
        back = int(rng.integers(0, n_pages))
        pages[url[i]] = {
            "text": texts[i],
            "links": [url[k] for k in kids] + [url[back]],
        }
    return pages


def changed_pages(
    seed: int, pages: dict[str, dict], fraction: float
) -> tuple[dict[str, dict], list[str]]:
    """A re-crawl version of ``pages``: a seeded ``fraction`` of pages
    get new text (links unchanged, so the reachable set is identical).
    Returns the new version and the sorted changed urls."""
    rng = np.random.default_rng([seed, 7])
    urls = sorted(pages)
    k = max(1, int(round(fraction * len(urls))))
    picked = sorted(urls[i] for i in rng.choice(len(urls), k, replace=False))
    out = dict(pages)
    for u, text in zip(picked, _texts(rng, k, 20, 60)):
        out[u] = {"text": text + " changed", "links": pages[u]["links"]}
    return out, picked


def site_fetch(pages: dict[str, dict]):
    """A FetchFn over one site's plain-data pages.

    The returned closure references only its own locals and builtins:
    Spark ships it to Python workers by value, and workers cannot
    import the benchmark's modules (a module-level helper here would be
    pickled by reference and fail every fetch)."""
    bodies = {
        u: (
            "<html><head><title>t</title></head><body><p>"
            + p["text"]
            + "</p>"
            + "".join(f'<a href="{link}">x</a>' for link in p["links"])
            + "</body></html>"
        ).encode()
        for u, p in pages.items()
    }

    def fetch(url):
        body = bodies.get(url)
        if body is None:
            return None, ""
        return body, "text/html; charset=utf-8"

    return fetch


# ---------------------------------------------------------------------------
# index_serve: probe, append and delete sets
# ---------------------------------------------------------------------------


def query_vectors(seed: int, n: int, batches: int) -> list[np.ndarray]:
    """``batches`` probe batches of ``n`` unit vectors each."""
    rng = np.random.default_rng([seed, 11])
    return [
        embeddings_of(rng, rng.integers(0, 10, n)) for _ in range(batches)
    ]


def append_sets(
    seed: int, first_id: int, n: int, batches: int
) -> list[tuple[np.ndarray, np.ndarray]]:
    """``batches`` (ids, vectors) sets of new vectors with fresh ids
    starting at ``first_id``."""
    rng = np.random.default_rng([seed, 13])
    out = []
    for b in range(batches):
        ids = np.arange(first_id + b * n, first_id + (b + 1) * n, dtype=np.int64)
        out.append((ids, embeddings_of(rng, rng.integers(0, 10, n))))
    return out


def delete_sets(seed: int, n_vectors: int, n: int, batches: int) -> list[list[int]]:
    """``batches`` disjoint id sets of size ``n`` drawn from the built
    corpus ``[0, n_vectors)``."""
    rng = np.random.default_rng([seed, 17])
    ids = rng.choice(n_vectors, n * batches, replace=False)
    return [sorted(int(i) for i in ids[b * n:(b + 1) * n]) for b in range(batches)]

"""The seeded input generator."""

import subprocess
import sys

import numpy as np

from perfbench import gen


def test_catalog_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = (gen.catalog_tables(s, 0.002) for s in (7, 7, 8))
    assert list(a) == list(gen.catalog_tables(1, 0.002))
    for name in a:
        assert a[name].equals(b[name]), name
        # sizes depend on the scale only, so every seed costs the same
        assert a[name].num_rows == c[name].num_rows, name
    for name in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert not a[name].equals(c[name]), name


def test_documents_carry_planted_duplicates():
    docs = gen.catalog_tables(3, 0.01)["documents"].to_pydict()
    texts = docs["text"]
    near = sum(t.endswith(" dup") for t in texts)
    assert 0.02 * len(texts) < near < 0.1 * len(texts)
    assert len(set(texts)) < len(texts)
    assert docs["n_chars"] == [len(t) for t in texts]


def test_sites_and_changes_are_seeded():
    s1, s2, s3 = (gen.site_pages(seed, 0, 20) for seed in (1, 1, 2))
    assert s1 == s2 and s1 != s3
    assert sorted(s1) == sorted(s3)  # same urls, different content
    v1, picked1 = gen.changed_pages(1, s1, 0.1)
    v2, picked2 = gen.changed_pages(1, s1, 0.1)
    assert v1 == v2 and picked1 == picked2 and len(picked1) == 2
    assert all(v1[u]["text"] != s1[u]["text"] for u in picked1)
    assert all(v1[u] == s1[u] for u in s1 if u not in picked1)
    assert gen.changed_pages(2, s1, 0.1)[0] != v1


def test_vector_sets_are_seeded():
    q = gen.query_vectors(1, 4, 3)
    assert all(np.array_equal(x, y) for x, y in zip(q, gen.query_vectors(1, 4, 3)))
    assert not np.array_equal(q[0], gen.query_vectors(2, 4, 3)[0])
    assert np.allclose(np.linalg.norm(q[0], axis=1), 1.0, atol=1e-5)
    ids = [i for (i, _) in gen.append_sets(1, 1000, 4, 3)]
    assert np.concatenate(ids).tolist() == list(range(1000, 1012))
    dels = gen.delete_sets(1, 100, 5, 4)
    assert dels == gen.delete_sets(1, 100, 5, 4) != gen.delete_sets(2, 100, 5, 4)
    assert len({i for d in dels for i in d}) == 20


def test_site_fetch_runs_where_the_benchmark_cannot_be_imported(tmp_path):
    """Spark ships the FetchFn to workers by value; the workers cannot
    import the benchmark, so the closure must not reference it."""
    from pyspark import cloudpickle

    pages = gen.site_pages(5, 1, 6, 5)
    url = sorted(pages)[0]
    payload = cloudpickle.dumps(gen.site_fetch(pages))
    code = (
        "import pickle, sys\n"
        "f = pickle.loads(sys.stdin.buffer.read())\n"
        f"body, ctype = f({url!r})\n"
        "assert ctype.startswith('text/html') and b'<a href' in body\n"
        "assert f('http://elsewhere/') == (None, '')\n"
        "assert 'perfbench' not in sys.modules\n"
    )
    proc = subprocess.run(
        [sys.executable, "-I", "-c", code], input=payload, cwd=tmp_path,
        capture_output=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]


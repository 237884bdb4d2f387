"""The scale-rehearsal fixture generator: replicas keep the star schema
(keys disjoint per replica, joins land within a replica) and transform
text and embeddings without minting duplicates."""

from __future__ import annotations

import math
import os
import subprocess
import sys

import scale_rehearsal as sr

from data_integration_system_spark.catalog import table

#: the surrogate-key columns of each replicated table
_KEYS = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def test_generate_two_replicas(spark, sf_dir, tmp_path):
    out = str(tmp_path / "x2")
    sr.generate(spark, sf_dir, out, 2, sr._rotation_map)

    for name in ("region", "nation"):
        assert sorted(table(spark, out, name).collect()) == sorted(
            table(spark, sf_dir, name).collect()
        ), name

    for name, keys in _KEYS.items():
        src, big = table(spark, sf_dir, name), table(spark, out, name)
        assert big.count() == 2 * src.count(), name
        # shifted keys never collide across replicas
        for key in keys:
            n_keys = src.select(key).distinct().count()
            assert big.select(key).distinct().count() == 2 * n_keys, key

    def join_count(d: str) -> int:
        orders = table(spark, d, "orders")
        lines = table(spark, d, "lineitem")
        return orders.join(
            lines, orders.o_orderkey == lines.l_orderkey
        ).count()

    assert join_count(out) == 2 * join_count(sf_dir)

    docs = {r.doc_id: r.text for r in table(spark, out, "documents").collect()}
    src_ids = [r.doc_id for r in table(spark, sf_dir, "documents").collect()]
    s, d = sr._rotation_map(1)
    rot = str.maketrans(s, d)
    for i in src_ids:
        assert docs[i + sr.KEY_OFFSET] == docs[i].translate(rot)
    assert any(docs[i + sr.KEY_OFFSET] != docs[i] for i in src_ids)

    def norms(d: str) -> dict[int, float]:
        return {
            r.vec_id: math.sqrt(sum(x * x for x in r.embedding))
            for r in table(spark, d, "embeddings").collect()
        }

    src_norms = norms(sf_dir)
    big_norms = norms(out)
    for vec_id, nv in big_norms.items():
        assert math.isclose(
            nv, src_norms[vec_id % sr.KEY_OFFSET], rel_tol=1e-9
        ), vec_id


def test_cli_help_lists_generators_and_pairs():
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    got = subprocess.run(
        [sys.executable, os.path.join(here, "scale_rehearsal.py"), "--help"],
        capture_output=True, text=True, timeout=120,
    )
    assert got.returncode == 0, got.stderr
    for name in sr.PAIRS:
        assert name in got.stdout

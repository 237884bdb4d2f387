"""Shared tombstone machinery for the materialized indexes (r16).

Every index here is immutable parquet grown by appends; DELETE therefore
takes the lake-standard form: a tiny ``{index}/tombstones`` relation of
deleted ids that query paths exclude, re-appends drop (upsert), and the
scheduled rebuild clears while compacting the deletion physically.  The
reference deletes rows from its Postgres store directly
(db/postgres_store.py); tombstone-then-compact is the immutable-file
equivalent.  First consumer was the IVF-PQ tier
(operators/similarity.delete_from_ivfpq_index); the minhash and
fingerprint document indexes share the identical lifecycle through this
module.

Contracts:

* **Idempotent writes** — only ids not already tombstoned are appended,
  so at-least-once redelivery cannot grow the relation.
* **Single writer** — the un-delete path rewrites the relation
  read-modify-write; serialize deletes with appends (the streaming
  sinks' foreachBatch already does; ad-hoc callers must).
* **Bounded size** — deletes-per-rebuild-cycle (takedowns, dedup
  removals), never corpus-scale; crossing ``INSET_CAP`` is a
  rebuild-overdue signal, and the loaders degrade gracefully to a
  broadcast anti-join there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_system_spark.pipeline.fsutil import exists

#: below this count the delete set ships as a plain id list — consumers
#: that filter inside an existing scan closure (numpy membership test)
#: pay ZERO plan cost for it; above it, a localCheckpointed DataFrame
#: for broadcast anti-joins keeps driver memory and plans bounded.
INSET_CAP = 100_000

#: plan-side literal budget: an ``isin`` with more literals than this
#: pays real per-query analysis/codegen cost (~0.5 s at 1k literals
#: measured on the ivfpq shortlist, SCALE.md r16) — beyond it,
#: ``exclude_ids`` switches to a broadcast anti-join.
_ISIN_LITERAL_CAP = 256


def append_tombstones(
    spark: SparkSession, index_path: str, ids, id_col: str
) -> int:
    """Record deleted ids; returns how many NEW tombstones were written
    (0 for a full redelivery — idempotent).  ``ids`` is a DataFrame
    with an ``id_col`` column or an iterable of ints."""
    from data_integration_system_spark.operators._common import local_rows_df

    if not isinstance(ids, DataFrame):
        ids = local_rows_df(
            spark, [(int(v),) for v in ids], f"{id_col} long"
        )
    fresh = ids.select(F.col(id_col).cast("long")).distinct()
    path = f"{index_path}/tombstones"
    if exists(spark, path):
        fresh = fresh.join(spark.read.parquet(path), id_col, "left_anti")
    # tiny relation: coalesce(1) keeps file count = delete batches
    fresh = fresh.coalesce(1).localCheckpoint()  # freeze before any write
    n = fresh.count()
    if n:
        fresh.write.mode("append").parquet(path)
    return n


def load_tombstones(spark: SparkSession, index_path: str, id_col: str):
    """The delete set in its cheapest applicable form: ``None`` (no
    deletes), a plain id list (≤ INSET_CAP), or a localCheckpointed
    DataFrame (pathological sizes)."""
    path = f"{index_path}/tombstones"
    if not exists(spark, path):
        return None
    df = spark.read.parquet(path)
    rows = df.limit(INSET_CAP + 1).collect()
    if len(rows) <= INSET_CAP:
        return [int(r[id_col]) for r in rows]
    return df.localCheckpoint()


def exclude_tombstoned(df: DataFrame, tombstones, col: str) -> DataFrame:
    """Drop rows of ``df`` whose ``col`` is tombstoned — the PLAN-side
    form, for candidate relations already bounded by the probe (pair
    candidates, shortlists).  Small sets ride as an isin literal inside
    the current stage; larger ones broadcast-anti-join (the literal
    tree's per-query analysis cost crosses the join's stage cost at a
    few hundred ids).  Scan-closure consumers (the ivfpq ADC scan)
    should instead take the list form into their own closure — zero
    plan cost (SCALE.md r16)."""
    if tombstones is None:
        return df
    if isinstance(tombstones, list):
        if not tombstones:
            return df
        if len(tombstones) <= _ISIN_LITERAL_CAP:
            return df.filter(~F.col(col).isin(tombstones))
        from data_integration_system_spark.operators._common import (
            local_rows_df,
        )

        tombstones = local_rows_df(
            df.sparkSession, [(v,) for v in tombstones], f"{col} long"
        )
    return df.join(
        F.broadcast(tombstones.toDF(col)), col, "left_anti"
    )


def drop_tombstones_for(
    spark: SparkSession, index_path: str, ids_df: DataFrame, id_col: str
) -> None:
    """Un-delete (upsert semantics): remove ``ids_df``'s ids from the
    tombstones — called by every index append AFTER its data write, so
    a re-appended id serves again with its fresh rows.  Crash before
    the rewrite leaves the id hidden until the at-least-once redelivery
    re-runs the append."""
    path = f"{index_path}/tombstones"
    if not exists(spark, path):
        return
    tomb = spark.read.parquet(path)
    kept = tomb.join(
        ids_df.select(F.col(id_col).cast("long")), id_col, "left_anti"
    ).coalesce(1).localCheckpoint()  # freeze before overwriting source
    if kept.count() < tomb.count():
        kept.write.mode("overwrite").parquet(path)


def clear_tombstones(spark: SparkSession, index_path: str) -> None:
    """Rebuilds compact deletes physically: the fresh index reflects
    the current corpus, so the previous generation's tombstones go."""
    from data_integration_system_spark.pipeline.fsutil import delete_tree

    delete_tree(spark, f"{index_path}/tombstones")

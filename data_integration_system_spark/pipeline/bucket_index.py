"""One lifecycle for the bucketed document indexes: the MinHash
near-dup index (operators/dedup, LSH band rows) and the winnowing
fingerprint index (operators/textops, posting rows).  This module owns
what the two share, so each family keeps only its derivation, join keys
and verify step:

* layout — ``{index}/{rel}`` partitioned by ``bucket = pmod(key,
  n_buckets)``, one file per bucket per write;
* meta — ``{index}/meta`` (``n_buckets int``), so build, append and
  probe cannot disagree on the bucket count;
* tombstones — build clears, append un-deletes, delete appends
  (operators/tombstones lifecycle);
* probe — the query rows' buckets become LITERAL partition filters, so
  a lookup reads only the probed buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_system_spark.operators import tombstones
from data_integration_system_spark.operators._common import (
    cluster_for_partitioned_write,
    local_rows_df,
)
from data_integration_system_spark.pipeline.fsutil import exists

_META_SCHEMA = "n_buckets int"


def _bucket(key: str, n_buckets: int) -> Column:
    return F.pmod(F.col(key), F.lit(n_buckets)).cast("int")


def _write_meta(spark: SparkSession, index_path: str, n_buckets: int) -> None:
    local_rows_df(spark, [(int(n_buckets),)], _META_SCHEMA).coalesce(
        1
    ).write.mode("overwrite").parquet(f"{index_path}/meta")


def _read_n_buckets(spark: SparkSession, index_path: str) -> int:
    """The index's bucket count; the explicit schema skips the
    schema-inference job a bare parquet read would schedule."""
    return int(
        spark.read.schema(_META_SCHEMA)
        .parquet(f"{index_path}/meta")
        .head()["n_buckets"]
    )


def _write_rows(
    index_path: str, rel: str, rows: DataFrame, key: str, n_buckets: int,
    mode: str,
) -> None:
    # bucket-clustered: 1 file per bucket, not tasks × buckets slivers
    # (the probe-side file-count tax), and a 1-2 partition micro-batch
    # is not ONE task serially creating n_buckets files (3-7x, r17)
    cluster_for_partitioned_write(
        rows.withColumn("bucket", _bucket(key, n_buckets)), "bucket", n_buckets
    ).write.mode(mode).partitionBy("bucket").parquet(f"{index_path}/{rel}")


def build(
    spark: SparkSession,
    index_path: str,
    rel: str,
    rows: DataFrame,
    key: str,
    n_buckets: int,
) -> None:
    """Overwrite ``{index}/{rel}`` with ``rows`` bucketed on ``key``,
    record ``n_buckets`` in meta, and clear the previous generation's
    tombstones."""
    _write_rows(index_path, rel, rows, key, n_buckets, "overwrite")
    _write_meta(spark, index_path, n_buckets)
    tombstones.clear_tombstones(spark, index_path)


def append(
    spark: SparkSession,
    index_path: str,
    rel: str,
    rows: DataFrame,
    key: str,
    n_buckets: int,
    doc_ids: DataFrame,
) -> None:
    """Append ``rows`` into the bucket partitions.  An existing index's
    meta bucket count wins over ``n_buckets``; a missing index is
    created (meta included), so a stream can start cold.  ``doc_ids``
    (a ``doc_id`` column) are un-deleted after the write — upsert."""
    if exists(spark, f"{index_path}/meta"):
        n_buckets = _read_n_buckets(spark, index_path)
    else:
        _write_meta(spark, index_path, n_buckets)
    _write_rows(index_path, rel, rows, key, n_buckets, "append")
    tombstones.drop_tombstones_for(spark, index_path, doc_ids, "doc_id")


def delete(spark: SparkSession, index_path: str, doc_ids) -> int:
    """Logical DELETE of ``doc_ids`` (a DataFrame with ``doc_id`` or an
    iterable of ints); returns the count of NEW tombstones."""
    return tombstones.append_tombstones(spark, index_path, doc_ids, "doc_id")


def probe(
    spark: SparkSession,
    index_path: str,
    rel: str,
    queries: DataFrame,
    key: str,
    on: tuple[str, ...] = (),
    carry: tuple[Column, ...] = (),
) -> DataFrame:
    """Candidate pairs ``(q_id, c_id, key, *on, *carry)``: every indexed
    row sharing ``key`` and ``on`` with a query row (``queries`` has
    ``doc_id``, ``key`` and ``on``), a doc never paired with itself,
    tombstoned candidates dropped.  ``carry`` are extra index-side
    columns (e.g. the stored shingle set) for the caller's verify.

    The query rows are frozen (localCheckpoint) so the collected bucket
    list and the join read the same rows; the list becomes literal
    PartitionFilters on the index scan."""
    n_buckets = _read_n_buckets(spark, index_path)
    q = (
        queries.select(F.col("doc_id").alias("q_id"), key, *on)
        .withColumn("bucket", _bucket(key, n_buckets))
        .localCheckpoint()
    )
    buckets = sorted(r["bucket"] for r in q.select("bucket").distinct().collect())
    idx = spark.read.parquet(f"{index_path}/{rel}").filter(
        F.col("bucket").isin(buckets)  # literal -> PartitionFilters
    )
    pairs = q.join(
        idx.select("bucket", key, *on, F.col("doc_id").alias("c_id"), *carry),
        ["bucket", key, *on],
    ).filter(F.col("q_id") != F.col("c_id"))
    return tombstones.exclude_tombstoned(
        pairs, tombstones.load_tombstones(spark, index_path, "doc_id"), "c_id"
    )

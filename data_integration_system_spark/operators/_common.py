"""Shared aggregation helpers enforcing the cross-engine determinism
discipline (SURVEY.md §2B 'Hard parts & risks').

Double-precision SUMs are order-dependent, and Spark/DuckDB do not
accumulate in the same order (Spark: partial aggs per partition; DuckDB:
its own morsel order / segment trees for window frames).  To make value
hashes match bit-for-bit we sum in DECIMAL (exact, associative,
order-independent), round, and cast back to DOUBLE.  The same pattern is
used verbatim in the oracle SQL:

    CAST(ROUND(SUM(CAST(x AS DECIMAL(18,4))), 2) AS DOUBLE)

At 100 TB this costs nothing extra: decimal sum is still a single-pass
hash aggregate with map-side partials.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dec(col: Column | str, scale: int = 4) -> Column:
    """Cast to the canonical exact-sum operand type."""
    return _c(col).cast(f"decimal(18,{scale})")


def money_sum(col: Column | str) -> Column:
    """Order-independent SUM of a money-like double, rounded to 2dp,
    returned as DOUBLE. Mirror SQL: CAST(ROUND(SUM(CAST(x AS
    DECIMAL(18,4))), 2) AS DOUBLE)."""
    return F.round(F.sum(dec(col)), 2).cast("double")


def mean2(col: Column | str) -> Column:
    """Deterministic 2dp mean: exact decimal sum -> double -> / count.
    Mirror SQL: ROUND(CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)
    / COUNT(*), 2)."""
    return F.round(F.sum(dec(col)).cast("double") / F.count("*"), 2)


def drop_hot_keys(df, key_cols: list[str], cap: int):
    """Drop every row whose key-group exceeds ``cap`` rows — the shared
    quadratic-bucket defense (LSH hot buckets, fingerprint stop-hashes).

    One co-keyed aggregation finds the oversized keys; that set is tiny
    by construction, so it broadcasts into a map-side anti-join and the
    input relation is never reshuffled.  Build- and query-side callers
    MUST share this one implementation: the materialized indexes'
    "self-query == inline query" guarantee depends on the prune
    semantics staying identical."""
    hot = (
        df.groupBy(*key_cols)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > cap)
        .select(*key_cols)
    )
    return df.join(F.broadcast(hot), key_cols, "left_anti")


def cluster_for_partitioned_write(df, part_col: str, n_values: int):
    """Key-cluster ``df`` for a ``partitionBy(part_col)`` write with an
    EXPLICIT task count.  A bare ``repartition(part_col)`` is an AQE
    coalesce target: a small-at-this-SF index relation collapses to ONE
    task that writes every partition dir serially (measured 5.3 s ->
    0.9 s for the 256-bucket fingerprint index at sf0.1); an oversized
    fixed count would instead spray tasks × values sliver files.
    ``min(n_values, shuffle partitions)`` tasks each write whole
    partition values — exactly 1 file per value, in parallel — and at
    cluster scale the explicit count follows the deployment's shuffle
    parallelism (session.shuffle_partition_plan)."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(max(1, min(int(n_values), n)), part_col)


def parallelize_scan(df):
    """CPU-bound small-input guard: if the scan yields fewer partitions
    than the cluster has cores (tiny/unsplittable files — a parquet file
    is splittable only at row-group boundaries), round-robin repartition
    so heavy per-row expression work (shingling, hashing, regex) uses
    every core.  The shuffled payload is the SMALL input itself, paid
    once, before the expensive projection multiplies it.  At corpus
    scale the scan already arrives in many splits and this no-ops."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def halve_trunc(x: int) -> int:
    """x // 2 truncating TOWARD ZERO — SQL integer-division semantics
    (DuckDB `//`, Spark `div`), which Python's floor-dividing `//`
    breaks for negative operands.  Every Python-side replay of an
    integer recurrence (EWMA fold, pandas UDAFs) must use this so the
    recurrence stays engine-exact over the FULL integer domain, not
    just the non-negative values the synthetic data happens to have."""
    return x // 2 if x >= 0 else -((-x) // 2)


def local_rows_df(spark, rows, schema):
    """Small literal row-sets (``schema``: DDL string or StructType) as a
    JVM-only scan: a LocalTableScan under the Arrow local-relation
    threshold, an Arrow-batch scan past it, never a pickled Python RDD
    (a write over one spawns a Python worker per task: ~5.4 s for a
    one-row parquet append vs 0.2 s, SCALE.md r13).  The rows go to the
    JVM as a pyarrow Table, whatever the session's Arrow confs; no conf
    is touched, so concurrent callers need no lock.  Naive datetimes
    are read in the session time zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema, timestamp_utc=False)
    if rows:
        table = pa.Table.from_arrays(
            [
                pa.array(col, type=f.type)
                for col, f in zip(zip(*rows), arrow_schema)
            ],
            schema=arrow_schema,
        )
    else:
        table = arrow_schema.empty_table()
    return spark.createDataFrame(table, schema)

"""Partitioning utilities: the parallelism guard for UDF-heavy operators."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition only when the input has fewer partitions than cores.

    Guards UDF-heavy operators against single-file inputs (one parquet file
    → one task → one Python worker). On a real cluster with thousands of
    input splits this is a no-op — no gratuitous shuffle.

    The partition count comes from the JVM plan's own RDD
    (``queryExecution().toRdd()``) — metadata only, no job. ``df.rdd`` would
    additionally build the Python-row conversion plan (an extra
    DeserializeToObject query execution) just to read one integer.
    """
    sc = df.sparkSession.sparkContext
    want = min_partitions or sc.defaultParallelism
    try:
        n = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:  # non-classic backends: fall back to the public path
        n = df.rdd.getNumPartitions()
    if n < want:
        return df.repartition(want)
    return df


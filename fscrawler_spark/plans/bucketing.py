"""Bucketed-table co-located joins — the storage-level shuffle killer
for the frontier ⋈ seen-set ⋈ results joins that dominate a
10^10-URL crawl's wave cost.

Writing both sides of a recurring equi-join ``bucketBy(N, key)`` (with
``sortBy`` so merge-join reads presorted files) makes every future
join on that key SHUFFLE-FREE: Spark's scan reports the bucketing as
its output partitioning, EnsureRequirements sees both sides already
clustered, and the 100 TB exchange that would otherwise run per wave
simply disappears from the plan (test asserts Exchange count 0 vs >=2
for the identical un-bucketed join).  On a lakehouse this is Iceberg's
``bucket(N, key)`` partition transform — same hash, same effect; the
parquet+metastore form here is what local Spark can express
(BASELINE.md documents the no-Iceberg-jars blocker).

Pick N once per dataset family (both join sides MUST agree) at roughly
(total size / healthy task input); re-bucketing is a one-time shuffle
that pays for itself after one reuse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key_cols: list[str],
    n_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) parquet table.
    ``saveAsTable`` is required — bucketing metadata lives in the
    catalog, not the files.  With ``path`` the table is EXTERNAL: its
    files live there instead of under the session's warehouse dir, so
    files a killed run left behind cannot block a rerun (a managed
    table refuses a non-empty location)."""
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *key_cols)
    if sort:
        w = w.sortBy(*key_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read back with bucketing metadata intact (plain spark.table —
    named for symmetry and discoverability)."""
    return spark.table(table)

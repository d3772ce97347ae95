"""Table-format abstraction for the checkpointed writer.

SURVEY.md section 7: "Iceberg availability -- the sandbox may lack Iceberg
runtime jars; abstract the table format (same MERGE-equivalent semantics
on parquet via partition-overwrite + lineage anti-join) and verify at
build time."  This module is that thin seam:

- ``ParquetBucketWriter`` (default): dynamic partition overwrite on plain
  parquet -- replacing exactly the bucket partitions present in the batch
  is the MERGE-equivalent idempotent write.
- ``IcebergBucketWriter``: the production path.  ``available()`` probes
  the session for an Iceberg catalog; writes use ``overwritePartitions``
  on a table partitioned by ``bucket(url)``.  In this sandbox (no Iceberg
  jars) construction raises with instructions.
"""

from __future__ import annotations

from typing import Protocol

from pyspark.sql import DataFrame, SparkSession, functions as F


class BucketTableWriter(Protocol):
    """Idempotent bucket-partitioned writer (MERGE-equivalent).

    A writer MAY additionally expose
    ``written_buckets(spark, target) -> list[int] | None`` -- the set of
    ``part_bucket`` partitions its LAST ``overwrite_buckets`` call
    touched, from the format's own commit metadata.  When present and
    non-None, ``checkpoint.write_scrub_output`` uses it instead of the
    in-job ``Observation`` (collect_set over the write pass): observed
    metrics are VERIFIED to propagate only through the v1 parquet
    ``DataFrameWriter`` path here; whether they fire through a DSv2
    ``writeTo().overwritePartitions()`` plan is untestable without
    Iceberg jars, and an ``obs.get`` that never fires blocks forever.
    Writers without the method (or returning None) take the Observation
    path."""

    def overwrite_buckets(self, df: DataFrame, target: str) -> None: ...

    def read(self, spark: SparkSession, target: str) -> DataFrame: ...


def overwrite_partitions(df: DataFrame, column: str, path: str) -> None:
    """Idempotent parquet write: replace exactly the ``column`` partitions
    present in ``df``, leave every other partition under ``path`` as is.

    The dynamic mode is pinned PER WRITE: relying on the session default
    would silently truncate all previously completed partitions under
    Spark's STATIC default on foreign sessions."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(column)
        .parquet(path)
    )


class ParquetBucketWriter:
    """Dynamic partition overwrite on parquet, through
    ``overwrite_partitions`` (which pins the dynamic mode on the write
    itself, so the session's ``partitionOverwriteMode`` does not matter).

    The batch is clustered by bucket first (``REBALANCE(part_bucket)``),
    so each bucket lands in one reduce task and the table gets about one
    file per non-empty bucket.  Written straight from the M input tasks,
    every task opens a file in every bucket it holds: M x N files (256
    for 1,500 docs on 4 tasks x 64 buckets; up to 10^10 at 10^5 input
    splits x 10^5 buckets), and every resume lists them.  AQE splits a
    bucket larger than the advisory partition size, so one hot bucket is
    not a single straggler task: files ~= buckets + bytes / advisory
    size."""

    def overwrite_buckets(self, df: DataFrame, target: str) -> None:
        overwrite_partitions(
            df.hint("rebalance", "part_bucket"), "part_bucket", target)

    def read(self, spark: SparkSession, target: str) -> DataFrame:
        return spark.read.parquet(target)


def iceberg_available(spark: SparkSession) -> bool:
    """Probe for an Iceberg catalog on the session: BOTH the runtime
    class on the classpath AND at least one configured
    ``spark.sql.catalog.*`` entry -- jars alone cannot resolve a table
    identifier, so picking the Iceberg writer on a jars-only cluster
    would fail at write time with a catalog-resolution error."""
    try:
        java_import = spark.sparkContext._jvm.java.lang.Class
        java_import.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        return False
    try:
        confs = spark.sparkContext.getConf().getAll()
    except Exception:
        return False
    return any(k.startswith("spark.sql.catalog.") for k, _ in confs)


class IcebergBucketWriter:
    """Production writer: Iceberg table partitioned by ``bucket(N, url)``;
    ``overwritePartitions`` replaces exactly the touched buckets (the same
    idempotence contract as ParquetBucketWriter; a row-level
    ``MERGE INTO ... ON t.url = s.url`` is the alternative when buckets
    must interleave).  Requires iceberg-spark-runtime jars + a configured
    catalog."""

    def __init__(self, spark: SparkSession):
        if not iceberg_available(spark):
            raise NotImplementedError(
                "Iceberg runtime not on the classpath. Add "
                "--packages org.apache.iceberg:iceberg-spark-runtime-4.0 "
                "and a spark.sql.catalog.<name> config; then this writer's "
                "overwritePartitions path is the production MERGE-equivalent."
            )
        self.spark = spark

    def overwrite_buckets(self, df: DataFrame, target: str) -> None:  # pragma: no cover
        # snapshot ids BEFORE the commit: written_buckets attributes to
        # THIS write only the snapshots its own commit added (querying
        # 'latest snapshot' after the fact would attribute a concurrent
        # writer's or maintenance job's commit to this run -- review r6)
        self._pre_snapshots = self._snapshot_ids(target)
        # bootstrap: the first run of a new target has no table to
        # overwrite into -- create it partitioned on the bucket column
        # (the parquet writer creates its directory implicitly; without
        # this branch the production path could never run job 1)
        if not self.spark.catalog.tableExists(target):
            df.writeTo(target).partitionedBy(F.col("part_bucket")).create()
            return
        df.writeTo(target).overwritePartitions()

    def _snapshot_ids(self, target: str) -> set | None:  # pragma: no cover
        try:
            if not self.spark.catalog.tableExists(target):
                return set()
            return {
                int(r.snapshot_id)
                for r in self.spark.sql(
                    f"SELECT snapshot_id FROM {target}.snapshots"
                ).collect()
            }
        except Exception:
            return None

    def read(self, spark: SparkSession, target: str) -> DataFrame:  # pragma: no cover
        return spark.read.table(target)

    def written_buckets(  # pragma: no cover -- needs Iceberg jars
        self, spark: SparkSession, target: str
    ) -> list | None:
        """Buckets touched by THIS writer's own ``overwrite_buckets``
        commit, from Iceberg snapshot metadata: the ``entries``
        metadata table restricted to the ADDED manifest entries
        (status = 1) of the snapshots that appeared AFTER the
        snapshot-id set captured immediately before the commit -- a
        metadata-only read, delta-scoped so partitions left by PRIOR
        runs over a reused table are never counted (the same
        stale-partition immunity the Observation gives the parquet
        path), and never misattributed to a snapshot that merely
        happens to be latest.  A write that produced no rows adds no
        snapshot and correctly yields the empty set.  CONTRACT: one
        writer per table at a time, matching ``run_checkpointed``'s
        one-run-per-path contract -- a concurrent foreign commit
        landing inside this write's pre/post window would be included
        in the delta, so multi-writer tables must use the Observation
        or data-read path instead.  Returns None on any metadata-shape
        surprise (including a failed pre-commit snapshot capture) so
        the caller falls back rather than trust a wrong set."""
        pre = getattr(self, "_pre_snapshots", None)
        post = self._snapshot_ids(target)
        if pre is None or post is None:
            return None
        new_ids = post - pre
        if not new_ids:
            return []  # empty write: no snapshot, no buckets
        try:
            rows = spark.sql(
                "SELECT DISTINCT data_file.partition.part_bucket AS b"
                f" FROM {target}.entries"
                f" WHERE snapshot_id IN"
                f" ({', '.join(str(i) for i in sorted(new_ids))})"
                " AND status = 1"
            ).collect()
            return sorted(int(r.b) for r in rows if r.b is not None)
        except Exception:
            return None


def _looks_like_path(target: str) -> bool:
    return "/" in target or target.startswith(".") or "://" in target


def default_writer(spark: SparkSession, target: str = "/") -> BucketTableWriter:
    """Writer selection is TARGET-AWARE: a filesystem path always gets the
    parquet writer (an Iceberg writer would misparse it as a table
    identifier, so merely having the jars on the classpath must not break
    path-based runs); Iceberg is chosen only for catalog table names when
    the runtime is present."""
    if not _looks_like_path(target) and iceberg_available(spark):  # pragma: no cover
        return IcebergBucketWriter(spark)
    return ParquetBucketWriter()

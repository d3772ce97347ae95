"""Checkpointed resume via per-partition lineage (SURVEY.md T4).

The reference checkpoints per ROW: ``INSERT ... ON CONFLICT
(session_id,row_number) DO UPDATE`` (``file.go:740-772``) makes re-running a
session idempotent.  Per-row round-trips cannot scale to 10^12 docs, so the
unit of work here is a deterministic URL-hash BUCKET:

- output is written ``partitionBy("part_bucket")`` with dynamic partition
  overwrite (re-processing a bucket atomically replaces exactly that
  bucket's files -- the parquet-native equivalent of Iceberg MERGE keyed by
  (run_id, bucket); the writer is format-agnostic so an Iceberg catalog can
  be slotted in where its jars exist).
- the parquet writer shuffles the kernel output once by bucket
  (``REBALANCE(part_bucket)``, ``tableio.ParquetBucketWriter``), so files
  ~= non-empty buckets, not input tasks x buckets: at 10^5 input splits x
  10^5 buckets the unclustered write would make up to 10^10 files, every
  one listed by each resume.  The kernel stage itself stays narrow.
- a lineage row (run_id, part_bucket, counts, ts) is appended AFTER the
  bucket's data commits, one file per invocation; lineage is therefore
  the checkpoint marker.
- resume = broadcast anti-join of the input against completed lineage
  buckets (the lineage is read once per invocation): already-done buckets
  are never recomputed or rewritten.

``part_bucket = pmod(xxhash64(url), n_buckets)`` is deterministic (no
rand), so the same url always lands in the same bucket across runs --
required for idempotent resume (SURVEY.md section 4 item 1: deterministic
salt, reproducible runs).  ``n_buckets`` sizes the unit of loss on failure:
at 10^12 docs one would use 10k-100k buckets so a retry redoes <=0.01% of
the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

DEFAULT_BUCKETS = 64


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn(
        "part_bucket",
        F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int"),
    )


def completed_buckets(
    spark: SparkSession, lineage_path: str, run_id: str
) -> DataFrame | None:
    """Distinct completed bucket ids for a run; None if no lineage yet.

    Only a MISSING lineage path means "fresh run"; any other read error
    (transient storage failure, corrupt footer, permissions) re-raises --
    swallowing it would silently restart the whole run AND append a
    second copy of every lineage row."""
    from pyspark.errors import AnalysisException

    try:
        lineage = spark.read.parquet(lineage_path)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            return None
        raise
    return (
        lineage.filter(F.col("run_id") == run_id)
        .select("part_bucket")
        .distinct()
    )


def completed_bucket_ids(
    spark: SparkSession, lineage_path: str, run_id: str
) -> set[int]:
    """``completed_buckets`` collected to the driver (<= n_buckets ints);
    empty on a fresh run."""
    done = completed_buckets(spark, lineage_path, run_id)
    return {r.part_bucket for r in done.collect()} if done is not None else set()


def _drop_done(bucketed: DataFrame, done_ids: set[int]) -> DataFrame:
    # the done side is a local relation, so the kernel job does not list
    # or scan the lineage table again
    if not done_ids:
        return bucketed
    done = bucketed.sparkSession.createDataFrame(
        [(b,) for b in sorted(done_ids)], "part_bucket int"
    )
    return bucketed.join(F.broadcast(done), "part_bucket", "left_anti")


def filter_remaining(
    pages: DataFrame,
    lineage_path: str,
    run_id: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Anti-join input against completed lineage (resume primitive)."""
    done_ids = completed_bucket_ids(pages.sparkSession, lineage_path, run_id)
    return _drop_done(with_bucket(pages, n_buckets), done_ids)


def write_scrub_output(
    out: DataFrame,
    output_path: str,
    lineage_path: str,
    run_id: str,
    bucket_ids: list[int],
    writer=None,
) -> int:
    """Write kernel output partitioned by bucket, then append lineage.
    Returns the number of docs written by THIS invocation (summed from
    the exact lineage rows it appends -- no lineage re-read, and immune
    to duplicate rows a concurrent retry might have appended).

    ``out`` must contain a ``part_bucket`` column.  ``bucket_ids`` is the
    set of candidate buckets for this invocation (all-minus-completed,
    derived driver-side -- no input scan).  Lineage is read back ONLY for
    the intersection of ``bucket_ids`` with the buckets this write
    actually produced: candidate buckets the input never populates
    contribute nothing, so stale partitions left in them by a prior run
    over a reused ``output_path`` (different run_id, or a changed
    ``n_buckets``) are never counted into THIS run's lineage or marked
    complete.  Only the written buckets are replaced, whatever the
    session's ``partitionOverwriteMode``: the parquet writer goes through
    ``tableio.overwrite_partitions``, which pins dynamic mode per write.

    How the produced-bucket set is learned depends on the writer
    (``tableio.BucketTableWriter``): writers exposing
    ``written_buckets`` (Iceberg: snapshot-scoped commit metadata)
    report it themselves -- observed metrics are verified to propagate
    only through the v1 parquet writer path, and an ``Observation``
    whose metrics never fire would block this function forever on a
    DSv2 write.  Other writers take the zero-cost in-job Observation
    (collect_set over the same pass as the write).  If a metadata-aware
    writer returns None (metadata shape surprise), the fallback is a
    partition-pruned read of the candidate buckets -- which restores
    the weaker pre-Observation semantics (a stale candidate partition
    on a reused path WOULD be counted), so it is a last resort, not the
    default.
    """
    from pyspark.sql import Observation

    from .tableio import default_writer

    spark = out.sparkSession
    writer = writer or default_writer(spark, output_path)
    self_reporting = callable(getattr(writer, "written_buckets", None))
    if self_reporting:  # pragma: no cover -- only the Iceberg writer
        obs = None
    else:
        obs = Observation()
        out = out.observe(
            obs, F.collect_set("part_bucket").alias("buckets")
        )
    writer.overwrite_buckets(out, output_path)
    if obs is not None:
        produced = set(obs.get["buckets"])
    else:  # pragma: no cover -- needs Iceberg jars
        wb = writer.written_buckets(spark, output_path)
        if wb is None:
            wb = [
                r.part_bucket
                for r in writer.read(spark, output_path)
                .filter(F.col("part_bucket").isin(list(bucket_ids)))
                .select("part_bucket")
                .distinct()
                .collect()
            ]
        produced = set(wb)
    written_ids = sorted(produced & set(bucket_ids))
    if not written_ids:
        return 0
    # Lineage is computed from the files just committed (partition-pruned
    # read), never from the pre-write plan -- avoids re-running the kernel.
    written = writer.read(spark, output_path).filter(
        F.col("part_bucket").isin(written_ids)
    )
    rows = (
        written.groupBy("part_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum("n_entities").alias("n_entities"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("part_bucket").cast("int"),
            "n_docs",
            "n_kept",
            "n_entities",
        )
        .collect()  # <= n_buckets tiny rows, written AND counted below
    )
    # one lineage file per invocation: createDataFrame would split the
    # rows into defaultParallelism files, and every resume lists them
    lineage = (
        spark.createDataFrame(
            rows,
            "run_id string, part_bucket int, n_docs long, n_kept long,"
            " n_entities long",
        )
        .coalesce(1)
        .withColumn("completed_ts", F.current_timestamp())
    )
    lineage.write.mode("append").parquet(lineage_path)
    return int(sum(r.n_docs for r in rows))


def run_checkpointed(
    pages: DataFrame,
    output_path: str,
    lineage_path: str,
    run_id: str,
    n_buckets: int = DEFAULT_BUCKETS,
    **pipeline_kwargs,
) -> int:
    """Resume-aware end-to-end run.

    Returns the number of docs processed by THIS invocation (0 when the
    run was already complete -- re-running is a no-op, SURVEY.md section 5
    "resume == cold run" invariant).

    CONTRACT: ``output_path`` belongs to ONE ``run_id``.  Lineage rows are
    run-keyed but bucket partitions are not; pointing a second run at the
    same path would overwrite the first run's buckets.  Callers embed the
    run id in the path (as bench.py and the tests do).  Lineage itself is
    immune to path reuse either way: ``write_scrub_output`` records only
    the buckets each invocation actually writes, so stale partitions from
    a prior run are never counted or resume-skipped as this run's work.
    """
    from .pipeline import run_scrub_pipeline

    # The lineage table is read once: the completed ids drive both the
    # resume anti-join and the candidate buckets.  Candidates are derived
    # DRIVER-SIDE from them: all-minus-completed.  Enumerating them from
    # the anti-joined input would execute a full input scan as a separate
    # job before the kernel job re-runs the same scan -- an entire extra
    # pass over the corpus at 10^12 docs.  Candidate buckets the input
    # never populates are harmless: write_scrub_output intersects them
    # with the bucket set the write job actually observes, so they
    # produce no lineage rows even when a reused output dir holds
    # stale partitions under those bucket ids.
    done_ids = completed_bucket_ids(pages.sparkSession, lineage_path, run_id)
    bucket_ids = [b for b in range(n_buckets) if b not in done_ids]
    if not bucket_ids:
        return 0
    remaining = _drop_done(with_bucket(pages, n_buckets), done_ids)
    out = run_scrub_pipeline(remaining, **pipeline_kwargs)
    # part_bucket is recomputed from url (deterministic), keeping the
    # kernel output schema independent of checkpointing.
    out = with_bucket(out, n_buckets)
    return write_scrub_output(
        out, output_path, lineage_path, run_id, bucket_ids
    )

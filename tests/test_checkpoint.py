"""Checkpoint/resume + lineage tests (SURVEY.md T4, section 5 item 4:
resume == cold run)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from azure_based_pii_redactor_spark.engine.checkpoint import (
    filter_remaining,
    run_checkpointed,
    with_bucket,
)
from azure_based_pii_redactor_spark.engine.metrics import (
    domain_counts_salted,
    drop_reason_counts,
    entity_type_counts,
    run_summary,
)
from azure_based_pii_redactor_spark.engine.pipeline import run_scrub_pipeline
from azure_based_pii_redactor_spark.sources.pages import generate_pages

N = 300
BUCKETS = 8


def read_sorted(spark, path):
    return (
        spark.read.parquet(path)
        .select("url", "keep", "drop_reason", "scrubbed_text", "n_entities")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )


def test_resume_equals_cold_run(spark, tmp_path):
    pages = generate_pages(spark, N, seed=42)

    cold_out = str(tmp_path / "cold_out")
    cold_lin = str(tmp_path / "cold_lin")
    n = run_checkpointed(pages, cold_out, cold_lin, "r1", n_buckets=BUCKETS)
    assert n == N

    # Interrupted run: process only a subset of buckets first (simulate a
    # crash after 3 buckets committed), then resume.
    part_out = str(tmp_path / "part_out")
    part_lin = str(tmp_path / "part_lin")
    first = with_bucket(pages, BUCKETS).filter(F.col("part_bucket") < 3)
    from azure_based_pii_redactor_spark.engine.checkpoint import (
        write_scrub_output,
    )
    out1 = with_bucket(run_scrub_pipeline(first), BUCKETS)
    write_scrub_output(out1, part_out, part_lin, "r2", [0, 1, 2])

    n2 = run_checkpointed(pages, part_out, part_lin, "r2", n_buckets=BUCKETS)
    assert 0 < n2 < N  # only the remaining buckets were processed

    pd.testing.assert_frame_equal(
        read_sorted(spark, part_out), read_sorted(spark, cold_out)
    )


def test_rerun_is_noop(spark, tmp_path):
    pages = generate_pages(spark, 100, seed=7)
    out, lin = str(tmp_path / "o"), str(tmp_path / "l")
    assert run_checkpointed(pages, out, lin, "r", n_buckets=4) == 100
    assert run_checkpointed(pages, out, lin, "r", n_buckets=4) == 0  # no-op
    # lineage has exactly one row per bucket
    lineage = spark.read.parquet(lin)
    assert lineage.count() == lineage.select("part_bucket").distinct().count()


def test_filter_remaining_no_lineage(spark, tmp_path):
    pages = generate_pages(spark, 50, seed=1)
    rem = filter_remaining(pages, str(tmp_path / "missing"), "r", 4)
    assert rem.count() == 50


def test_lineage_counts_match_output(spark, tmp_path):
    pages = generate_pages(spark, 200, seed=3)
    out, lin = str(tmp_path / "o2"), str(tmp_path / "l2")
    run_checkpointed(pages, out, lin, "r", n_buckets=BUCKETS)
    lineage = spark.read.parquet(lin)
    written = spark.read.parquet(out)
    agg_l = lineage.agg(
        F.sum("n_docs"), F.sum("n_kept"), F.sum("n_entities")
    ).collect()[0]
    agg_o = written.agg(
        F.count("*"),
        F.sum(F.col("keep").cast("long")),
        F.sum("n_entities"),
    ).collect()[0]
    assert tuple(agg_l) == tuple(agg_o)


def parquet_files(path):
    import glob

    return glob.glob(f"{path}/**/*.parquet", recursive=True)


def test_files_scale_with_buckets_not_tasks(spark, tmp_path):
    """8 input tasks x 16 buckets: the bucket-clustered write leaves at
    most one file per bucket (unclustered, each task writes a file into
    every bucket it holds: up to 128), with the same rows as the
    kernel's own output."""
    pages = generate_pages(spark, N, seed=13, parts=8)
    out, lin = str(tmp_path / "o"), str(tmp_path / "l")
    assert run_checkpointed(pages, out, lin, "r", n_buckets=16) == N
    written = spark.read.parquet(out).select("part_bucket").distinct().count()
    assert len(parquet_files(out)) <= written
    want = (
        run_scrub_pipeline(pages)
        .select("url", "keep", "drop_reason", "scrubbed_text", "n_entities")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(read_sorted(spark, out), want)


def test_lineage_append_is_one_file_per_invocation(spark, tmp_path):
    pages = generate_pages(spark, 200, seed=4)
    lin = str(tmp_path / "l")
    run_checkpointed(pages, str(tmp_path / "o1"), lin, "r1", n_buckets=BUCKETS)
    assert len(parquet_files(lin)) == 1
    run_checkpointed(pages, str(tmp_path / "o2"), lin, "r2", n_buckets=BUCKETS)
    assert len(parquet_files(lin)) == 2


# -- metrics -------------------------------------------------------------------

@pytest.fixture(scope="module")
def scrubbed(spark):
    return run_scrub_pipeline(generate_pages(spark, 400, seed=42)).cache()


def test_drop_reason_counts(spark, scrubbed):
    pdf = drop_reason_counts(scrubbed).toPandas()
    assert pdf["n_docs"].sum() == 400
    assert None in pdf["drop_reason"].tolist()  # kept docs bucket


def test_entity_type_counts(spark, scrubbed):
    pdf = entity_type_counts(scrubbed).toPandas()
    assert (pdf["n"] > 0).all()
    assert pdf["avg_confidence"].between(0, 1).all()


def test_domain_counts_salted_matches_plain(spark, scrubbed):
    salted = domain_counts_salted(scrubbed).toPandas()
    from azure_based_pii_redactor_spark.engine.metrics import with_domain

    plain = (
        with_domain(scrubbed)
        .groupBy("domain")
        .agg(F.count("*").alias("n_docs"))
        .toPandas()
    )
    merged = salted.merge(plain, on="domain", suffixes=("_s", "_p"))
    assert (merged["n_docs_s"] == merged["n_docs_p"]).all()
    # Zipf skew sanity: the hottest domain dominates.
    assert salted.iloc[0]["n_docs"] > salted.iloc[-1]["n_docs"]


def test_run_summary(spark, scrubbed):
    row = run_summary(scrubbed, "t").collect()[0]
    assert row.n_docs == 400
    assert 0 < row.n_kept < 400
    assert 0 <= row.avg_entity_confidence <= 1


def test_table_writer_abstraction(spark, tmp_path):
    """Format seam: parquet writer is the sandbox default; Iceberg writer
    probes the classpath and raises with guidance when absent."""
    from azure_based_pii_redactor_spark.engine.tableio import (
        IcebergBucketWriter,
        ParquetBucketWriter,
        default_writer,
        iceberg_available,
    )

    assert isinstance(default_writer(spark), ParquetBucketWriter)
    if iceberg_available(spark):  # pragma: no cover - jars absent here
        pytest.skip("iceberg on classpath: covered by the parity test")
    with pytest.raises(NotImplementedError, match="iceberg-spark-runtime"):
        IcebergBucketWriter(spark)


def test_iceberg_writer_parity_when_jars_present(spark, tmp_path):
    """Opportunistic Iceberg MERGE-path parity: SKIPS cleanly when the
    runtime jars are absent (this sandbox); the moment a cluster session
    carries iceberg-spark-runtime + a configured local catalog, this
    asserts IcebergBucketWriter.overwrite_buckets is idempotent and
    read-equivalent to the ParquetBucketWriter on the same batch."""
    from pyspark.sql import functions as F

    from azure_based_pii_redactor_spark.engine.tableio import (
        IcebergBucketWriter,
        ParquetBucketWriter,
        iceberg_available,
    )

    if not iceberg_available(spark):
        pytest.skip("no iceberg-spark-runtime on the classpath")
    catalogs = [
        c.removeprefix("spark.sql.catalog.")
        for c, _ in spark.sparkContext.getConf().getAll()
        if c.startswith("spark.sql.catalog.") and c.count(".") == 3
    ]
    if not catalogs:
        pytest.skip("iceberg jars present but no spark.sql.catalog.* set")
    cat = catalogs[0]

    df = spark.range(0, 100).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        (F.col("id") % 4).alias("part_bucket"),
        (F.col("id") * 2).alias("v"),
    )
    table = f"{cat}.default.parity_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} (url string, part_bucket bigint, v bigint) "
        "USING iceberg PARTITIONED BY (part_bucket)"
    )
    iw = IcebergBucketWriter(spark)
    iw.overwrite_buckets(df, table)
    iw.overwrite_buckets(df, table)  # idempotent re-run (resume semantics)

    pw = ParquetBucketWriter()
    pq_target = str(tmp_path / "parity_parquet")
    pw.overwrite_buckets(df, pq_target)
    pw.overwrite_buckets(df, pq_target)

    got = sorted(map(tuple, iw.read(spark, table).collect()))
    want = sorted(map(tuple, pw.read(spark, pq_target).collect()))
    assert got == want and len(got) == 100
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_spark_submit_py_files_packaging(tmp_path):
    """The north-rule operational contract: the pipeline runs under real
    ``spark-submit --py-files app.zip`` (fresh JVM, package imported from
    the zip on driver AND executors), writing output + per-partition
    lineage."""
    import os
    import shutil
    import subprocess
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    app_zip = tmp_path / "app.zip"
    pkg = os.path.join(repo, "azure_based_pii_redactor_spark")
    with zipfile.ZipFile(app_zip, "w") as zf:
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, repo))
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pytest

        pytest.skip("spark-submit not on PATH")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    r = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--py-files", str(app_zip),
         os.path.join(repo, "scripts", "run_pipeline.py"),
         "--input", str(tmp_path / "pages"),
         "--output", str(tmp_path / "out"),
         "--lineage", str(tmp_path / "lineage"),
         "--run-id", "subtest", "--generate", "400"],
        capture_output=True, text=True, timeout=300, env=env, cwd=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import glob

    # output is hash-bucket partitioned (part_bucket=N dirs)
    assert glob.glob(str(tmp_path / "out" / "**" / "*.parquet"),
                     recursive=True)
    assert glob.glob(str(tmp_path / "lineage" / "**" / "*.parquet"),
                     recursive=True)


def test_with_domain_handles_bare_and_cased_urls(spark):
    """Bare-host urls (no path slash), uppercase schemes/hosts, and
    malformed urls must not collapse into one '' domain (the old
    path-slash regexp did exactly that)."""
    from azure_based_pii_redactor_spark.engine.metrics import with_domain

    df = spark.createDataFrame(
        [("https://example.com",), ("https://example.com?q=1",),
         ("HTTPS://Example.COM/p",), ("https://a.example/p/x",),
         ("not a url",)],
        "url string",
    )
    got = dict(
        (r.url, r.domain) for r in with_domain(df).collect()
    )
    assert got["https://example.com"] == "example.com"
    assert got["https://example.com?q=1"] == "example.com"
    assert got["HTTPS://Example.COM/p"] == "example.com"
    assert got["https://a.example/p/x"] == "a.example"
    assert got["not a url"] == ""


def test_duplicate_lineage_rows_do_not_double_count(spark, tmp_path):
    """A retry racing the lineage append can leave duplicate rows for a
    (run_id, bucket); the processed-doc count must come from the rows
    THIS invocation appended (write_scrub_output's return), and resume
    must still treat the run as complete (distinct bucket ids)."""
    from azure_based_pii_redactor_spark.engine.checkpoint import (
        completed_buckets,
        write_scrub_output,
    )

    pages = generate_pages(spark, 100, seed=5)
    out_p = str(tmp_path / "out")
    lin_p = str(tmp_path / "lin")
    n = run_checkpointed(pages, out_p, lin_p, "r9", n_buckets=4)
    assert n == 100
    # simulate the racing retry: append a second copy of one bucket's
    # lineage by re-running the writer for bucket 0 only
    done = spark.read.parquet(lin_p)
    # materialize BEFORE rewriting: the writer overwrites the very
    # files a lazy plan would still be reading
    bucket0_out = spark.read.parquet(out_p).filter(
        F.col("part_bucket") == 0
    ).localCheckpoint()
    n_b0 = write_scrub_output(bucket0_out, out_p, lin_p, "r9", [0])
    assert n_b0 == bucket0_out.count()  # return counts ITS rows only
    lin = spark.read.parquet(lin_p).filter(F.col("run_id") == "r9")
    assert lin.count() == done.count() + 1  # duplicate row exists
    # resume: distinct completed buckets unaffected -> no-op, returns 0
    assert completed_buckets(spark, lin_p, "r9").count() == 4
    assert run_checkpointed(pages, out_p, lin_p, "r9", n_buckets=4) == 0


def test_reused_output_dir_does_not_count_stale_buckets(spark, tmp_path):
    """A second run_id pointed at the SAME output dir, whose input does
    not populate every bucket, must not absorb the first run's stale
    partitions into its own lineage (counts, completion) -- the lineage
    read-back is restricted to buckets THIS invocation's write job
    actually observed (ADVICE r4: driver-side all-minus-completed
    candidate buckets alone would count stale data as done)."""
    from azure_based_pii_redactor_spark.engine.checkpoint import (
        completed_buckets,
    )

    out_p, lin_p = str(tmp_path / "out"), str(tmp_path / "lin")
    pages = generate_pages(spark, 200, seed=11)
    assert run_checkpointed(pages, out_p, lin_p, "old", n_buckets=8) == 200
    # new run over the SAME output dir, input confined to a bucket subset
    subset = with_bucket(pages, 8).filter(F.col("part_bucket") < 2).drop(
        "part_bucket"
    )
    n_sub = subset.count()
    assert 0 < n_sub < 200
    got = run_checkpointed(subset, out_p, lin_p, "new", n_buckets=8)
    assert got == n_sub  # NOT inflated by stale buckets 2..7
    new_lin = spark.read.parquet(lin_p).filter(F.col("run_id") == "new")
    assert sorted(
        r.part_bucket for r in new_lin.select("part_bucket").collect()
    ) == [0, 1]
    assert new_lin.agg(F.sum("n_docs")).collect()[0][0] == n_sub
    # unpopulated buckets are NOT marked complete for the new run
    assert completed_buckets(spark, lin_p, "new").count() == 2


def test_write_scrub_output_empty_input_writes_no_lineage(spark, tmp_path):
    """An invocation whose candidate buckets receive zero rows appends no
    lineage and returns 0 (the observation set is empty)."""
    from azure_based_pii_redactor_spark.engine.checkpoint import (
        completed_buckets,
        write_scrub_output,
    )

    out_p, lin_p = str(tmp_path / "o"), str(tmp_path / "l")
    empty = with_bucket(
        run_scrub_pipeline(generate_pages(spark, 20, seed=2)), 4
    ).filter(F.lit(False))
    assert write_scrub_output(empty, out_p, lin_p, "r", [0, 1, 2, 3]) == 0
    assert completed_buckets(spark, lin_p, "r") is None


def test_completed_buckets_reraises_non_missing_errors(spark, tmp_path):
    """Only a MISSING lineage path means fresh run; a corrupt lineage
    file must raise, not silently restart the whole corpus."""
    from azure_based_pii_redactor_spark.engine.checkpoint import (
        completed_buckets,
    )

    missing = str(tmp_path / "nope")
    assert completed_buckets(spark, missing, "r") is None
    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
        df = completed_buckets(spark, str(corrupt), "r")
        if df is not None:  # corruption may surface at action time
            df.count()


def test_incremental_ingest_composition(spark, tmp_path):
    """The production day-over-day loop, composed from existing pieces
    (no new surface): day-2's crawl slice is deduped against day-1's
    OUTPUT via a broadcast left-anti join on url (history side is read
    back partition-pruned; at 10^12 docs the anti-join key set is the
    day-2 slice, which is the small side), then scrubbed through the
    same checkpointed writer into the same lineage.  Invariants: no url
    appears twice across the combined output, re-running either day is
    a no-op, and the combined lineage counts match the combined output.
    """
    out_p, lin_p = str(tmp_path / "out"), str(tmp_path / "lin")
    day1 = generate_pages(spark, 120, seed=21)
    n1 = run_checkpointed(day1, out_p + "/d1", lin_p, "day1", n_buckets=8)
    assert n1 == 120

    # day-2 slice: 60 re-fetches of day-1 urls + 80 genuinely new pages
    refetch = day1.limit(60)
    fresh = generate_pages(spark, 80, seed=22, start_id=1_000_000)
    day2_raw = refetch.unionByName(fresh)
    seen = spark.read.parquet(out_p + "/d1").select("url")
    day2 = day2_raw.join(F.broadcast(seen), "url", "left_anti")
    n2 = run_checkpointed(day2, out_p + "/d2", lin_p, "day2", n_buckets=8)
    assert n2 == 80  # only the fresh pages were processed

    combined = spark.read.parquet(out_p + "/d1").unionByName(
        spark.read.parquet(out_p + "/d2")
    )
    assert combined.count() == 200
    assert combined.select("url").distinct().count() == 200
    # idempotence: both days are complete, so both re-runs are no-ops
    assert run_checkpointed(day1, out_p + "/d1", lin_p, "day1",
                            n_buckets=8) == 0
    assert run_checkpointed(day2, out_p + "/d2", lin_p, "day2",
                            n_buckets=8) == 0
    lineage = spark.read.parquet(lin_p)
    assert lineage.agg(F.sum("n_docs")).collect()[0][0] == 200

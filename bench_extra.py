"""Side benchmarks for optimization work (guide §1.4): isolated noop-sink
timings for individual operators, with job labels, OUTSIDE the frozen
bench.py.  Never read by the driver -- its numbers are cited in
OPTIMIZATION_r08.md as before/after evidence.

Usage: python bench_extra.py <component> [reps]

Components:
  pagerank       domain PageRank over the bench-shaped edge list
  warc           WARC scan (same fixture + split sizing as bench.py)
  wet            WET scan
  doc_features   text_doc_features isolated
  bloom          decontaminate_bloom of the $SPARK_GRAFT_SF_DIR documents
                 against the text_decontaminate eval set
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 32))
SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       ".bench_scratch")


def _session():
    from azure_based_pii_redactor_spark.engine.session import build_session

    return build_session(app_name="bench_extra",
                         master=f"local[{CPUS}]", shuffle_partitions=CPUS)


def _sf() -> float:
    base = os.path.basename(SF_DIR.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.0


def _pages(spark):
    n_pages = max(int(500_000 * _sf()), 2_000)
    corpus = os.path.join(SCRATCH, f"pages_{n_pages}")
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        from azure_based_pii_redactor_spark.sources.pages import generate_pages

        generate_pages(spark, n_pages, seed=42, parts=256).write.mode(
            "overwrite").parquet(corpus)
    total = sum(
        os.path.getsize(os.path.join(corpus, f))
        for f in os.listdir(corpus) if f.endswith(".parquet")
    )
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    spark.conf.set("spark.sql.files.maxPartitionBytes",
                   str(max(total // (CPUS * 2), 1 << 20)))
    return spark.read.parquet(corpus), n_pages


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(label, fn, reps=3):
    best, samples = 9e9, []
    for _ in range(reps):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        samples.append(round(dt, 3))
        best = min(best, dt)
    return {"label": label, "best": round(best, 3), "samples": samples}


def run_pagerank(spark, reps):
    from pyspark.sql import functions as F

    from azure_based_pii_redactor_spark.engine.operators.urls import (
        collapsed_authority, domain_pagerank,
    )
    from azure_based_pii_redactor_spark.sources.pages import N_DOMAINS

    pages, _ = _pages(spark)
    pr_in = pages.select(
        collapsed_authority(F.col("url")).alias("src_domain"),
        F.concat(
            F.lit("domain"),
            (F.pmod(F.xxhash64("url"), F.lit(N_DOMAINS)) + 1).cast("string"),
            F.lit(".example"),
        ).alias("dst_domain"),
    ).unionByName(
        pages.select(
            collapsed_authority(F.col("url")).alias("src_domain"),
            F.concat(
                F.lit("domain"),
                (F.pmod(F.xxhash64("url", F.lit(7)), F.lit(N_DOMAINS)) + 1)
                .cast("string"),
                F.lit(".example"),
            ).alias("dst_domain"),
        )
    )
    spark.sparkContext.setJobDescription("bench_extra: pagerank")
    return [_timed("pagerank", lambda: _noop(domain_pagerank(pr_in)), reps)]


def run_warc(spark, reps, wet=False):
    from azure_based_pii_redactor_spark.sources.warc import read_warc, read_wet

    _, n_pages = _pages(spark)
    ext = "wet" if wet else "warc"
    d = os.path.join(SCRATCH, f"{ext}_{n_pages}")
    files = [f for f in os.listdir(d) if f.endswith(f".{ext}.gz")]
    total = sum(os.path.getsize(os.path.join(d, f)) for f in files)
    spark.conf.set("spark.sql.files.maxPartitionBytes",
                   str(max(2 * total // max(len(files), 1), 1)))
    reader = read_wet if wet else read_warc
    glob = os.path.join(d, f"*.{ext}.gz")
    _noop(reader(spark, glob).limit(2000))  # warm-up
    spark.sparkContext.setJobDescription(f"bench_extra: {ext}_scan")
    return [_timed(f"{ext}_scan", lambda: _noop(reader(spark, glob)), reps)]


def run_doc_features(spark, reps):
    from azure_based_pii_redactor_spark.engine.operators import textstats

    _noop(textstats.text_doc_features(spark, "/root/testdata/sf0.001"))
    spark.sparkContext.setJobDescription("bench_extra: text_doc_features")
    return [_timed(
        "text_doc_features",
        lambda: _noop(textstats.text_doc_features(spark, SF_DIR)), reps,
    )]


def run_bloom(spark, reps):
    from pyspark.sql import functions as F

    from azure_based_pii_redactor_spark.engine.operators import textstats

    docs = textstats._docs(spark, SF_DIR)
    eval_docs = docs.filter(F.col("doc_id") % textstats.EVAL_MOD == 0)
    m, n_wins = textstats._bloom_bits_frame(
        eval_docs, textstats.WINDOW_N, "text", textstats.BLOOM_FPP
    )[1:3]
    print(json.dumps({"bloom_filter_words": m // 64,
                      "bloom_eval_windows": n_wins}))
    _noop(textstats.decontaminate_bloom(  # warm-up (codegen)
        docs.limit(2_000), eval_docs, fpp=textstats.BLOOM_FPP))
    spark.sparkContext.setJobDescription("bench_extra: decontaminate_bloom")
    return [_timed(
        "decontaminate_bloom",
        lambda: _noop(textstats.decontaminate_bloom(
            docs, eval_docs, fpp=textstats.BLOOM_FPP)),
        reps,
    )]


COMPONENTS = {
    "pagerank": run_pagerank,
    "warc": lambda s, r: run_warc(s, r, wet=False),
    "wet": lambda s, r: run_warc(s, r, wet=True),
    "doc_features": run_doc_features,
    "bloom": run_bloom,
}


def main():
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    fn = COMPONENTS[name]
    spark = _session()
    results = fn(spark, reps)
    print(json.dumps({"component": name, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()

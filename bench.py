"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "docs_per_sec": <pipeline rate>}

The flagship pipeline is benchmarked over a generated pages corpus sized
500k * sf docs (deterministic seed), written to scratch parquet first so
the timed section measures the pipeline, not the generator.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 32))
SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       ".bench_scratch")

HEADLINE = [
    "agg_tpch_q1",
    "agg_session_rollup",
    "join_rows_history",
    "join_latest_per_key",
    "window_latest_feedback_wins",
    "window_topk_per_group",
    "window_time_bucket",
    "scalar_mask_email",
    "text_token_stats",
    "text_ngram_top",
    "text_doc_features",
    "text_dedup_passage_removal",
    "dedup_exact_hash",
    "dedup_minhash_lsh",
    "knn_cosine_topk",
    "join_asof_latest_order",
    "window_sessionize",
]


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.0


def _resolve(name: str):
    """Benchmark queries are looked up as FUNCTIONS on the operator
    modules, not through the driver's curated queries() registration:
    the bench suite deliberately includes single-purpose forms (e.g.
    scalar_mask_email, window_topk_per_group) whose driver slots were
    merged into combined queries."""
    from azure_based_pii_redactor_spark.engine.operators import ALL_MODULES

    for m in ALL_MODULES:
        fn = getattr(m, name, None)
        if fn is not None:
            return fn
    raise KeyError(f"no operator function named {name}")


def main() -> None:
    from azure_based_pii_redactor_spark.engine.pipeline import run_scrub_pipeline
    from azure_based_pii_redactor_spark.engine.session import build_session
    from azure_based_pii_redactor_spark.sources.pages import generate_pages

    sf = _sf_from_dir(SF_DIR)
    n_pages = max(int(500_000 * sf), 2_000)
    spark = build_session(app_name="bench", master=f"local[{CPUS}]",
                          shuffle_partitions=CPUS)

    timings: dict[str, float] = {}

    # -- flagship pipeline over a pre-materialized pages corpus ------------
    corpus = os.path.join(SCRATCH, f"pages_{n_pages}")
    # guard on parquet's _SUCCESS marker: an interrupted run leaves a
    # partial directory a bare exists() would silently benchmark
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        generate_pages(spark, n_pages, seed=42, parts=256).write.mode(
            "overwrite").parquet(corpus)
    total = sum(
        os.path.getsize(os.path.join(corpus, f))
        for f in os.listdir(corpus) if f.endswith(".parquet")
    )
    # ~2 tasks/core for the narrow kernel stage: per-task Python-worker
    # round-trips dominate at 8 tasks/core on this corpus (the default
    # 4 MB openCostInBytes forces one task per small file -- zero it so
    # maxPartitionBytes actually packs files)
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes",
        str(max(total // (CPUS * 2), 1 << 20)),
    )
    pages = spark.read.parquet(corpus)
    # warm-up (python worker + codegen spin-up), untimed
    run_scrub_pipeline(pages.limit(2000)).write.format("noop").mode(
        "overwrite").save()
    # best-of-3: single-run wall-clock noise on this box reaches 2x in
    # transient windows
    pipeline_sec = 9e9
    for _ in range(3):
        t0 = time.time()
        run_scrub_pipeline(pages).write.format("noop").mode(
            "overwrite").save()
        pipeline_sec = min(pipeline_sec, time.time() - t0)
    timings["pipeline_scrub"] = round(pipeline_sec, 3)
    docs_per_sec = round(n_pages / pipeline_sec, 1)

    # -- WARC front door: Common-Crawl-layout ingestion ---------------------
    # Same corpus as .warc.gz (one gzip member per record, html inside an
    # HTTP response payload), 256 files packed ~2 per task (~4 tasks/
    # core) -- the granularity knob a 100k-file crawl shard exposes.
    # Timed: full scan + record parse + schema projection to PAGES rows.
    # A single .warc.gz decodes in ONE task (gzip members are a byte-
    # range affordance, not a parallelism one) -- file count IS the
    # parallelism unit, which the fixture writer makes explicit.
    from azure_based_pii_redactor_spark.sources.warc import (
        read_warc,
        write_warc_corpus,
    )

    warc_dir = os.path.join(SCRATCH, f"warc_{n_pages}")
    warc_done = os.path.join(warc_dir, "_SUCCESS")
    if not os.path.exists(warc_done):
        # marker guards against reusing a PARTIAL fixture from an
        # interrupted run (the writer creates the dir before any file)
        shutil.rmtree(warc_dir, ignore_errors=True)
        write_warc_corpus(spark, warc_dir, n_pages, seed=42, files=256)
        open(warc_done, "w").close()
    # Split sizing for THIS corpus: pack ~2 .warc.gz files per partition
    # -- the parquet-corpus maxPartitionBytes set above would pack all
    # 256 tiny fixture files into a couple of tasks and serialize the
    # decode.  (At production scale files are ~1 GB and one file per
    # task falls out naturally.)
    wfiles = [f for f in os.listdir(warc_dir) if f.endswith(".warc.gz")]
    wtotal = sum(
        os.path.getsize(os.path.join(warc_dir, f)) for f in wfiles
    )
    saved_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes",
        str(max(2 * wtotal // max(len(wfiles), 1), 1)),
    )
    try:
        read_warc(spark, os.path.join(warc_dir, "*.warc.gz")).limit(
            2000
        ).write.format("noop").mode("overwrite").save()  # warm-up, untimed
        best = 9e9
        for _ in range(2):
            t0 = time.time()
            read_warc(
                spark, os.path.join(warc_dir, "*.warc.gz")
            ).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        timings["warc_scan"] = round(best, 3)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", saved_mpb)

    # -- WET front door: Common Crawl's text-only sibling layout ------------
    # The format most CC text pipelines actually ingest (conversion
    # records, payload = extracted plain text, no HTTP envelope).  Same
    # fixture granularity and split-sizing hygiene as warc_scan.
    from azure_based_pii_redactor_spark.sources.warc import (
        read_wet,
        write_wet_corpus,
    )

    wet_dir = os.path.join(SCRATCH, f"wet_{n_pages}")
    wet_done = os.path.join(wet_dir, "_SUCCESS")
    if not os.path.exists(wet_done):
        shutil.rmtree(wet_dir, ignore_errors=True)
        write_wet_corpus(spark, wet_dir, n_pages, seed=42, files=256)
        open(wet_done, "w").close()
    wetfiles = [f for f in os.listdir(wet_dir) if f.endswith(".wet.gz")]
    wettotal = sum(
        os.path.getsize(os.path.join(wet_dir, f)) for f in wetfiles
    )
    saved_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes",
        str(max(2 * wettotal // max(len(wetfiles), 1), 1)),
    )
    try:
        read_wet(spark, os.path.join(wet_dir, "*.wet.gz")).limit(
            2000
        ).write.format("noop").mode("overwrite").save()  # warm-up, untimed
        best = 9e9
        for _ in range(2):
            t0 = time.time()
            read_wet(
                spark, os.path.join(wet_dir, "*.wet.gz")
            ).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        timings["wet_scan"] = round(best, 3)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", saved_mpb)

    # -- end-to-end corpus builder (side metric, not a headline entry) ------
    # The one-call production recipe over the SAME 50k-page corpus: url
    # dedup -> quality filter + scrub -> passage removal ->
    # decontamination (eval = a deterministic 1/41 slice of the corpus
    # itself) -> 50% deterministic sample, in REPORT mode -- the form a
    # real run uses: the per-stage funnel counts every pipeline run
    # must log, with localCheckpoint barriers bounding the Python
    # kernel and the two-scan passage removal to ONE execution each
    # (the fully-lazy form re-runs the kernel once per downstream
    # consumer: measured 30.3 s vs ~20 s here -- at production scale
    # the materialization barrier is the checkpointed output table).
    # Reported as corpus_builder_sec beside the suite (like
    # state_store_ab) so the composed funnel's cost is a measured,
    # comparable number without disturbing the round-over-round
    # headline suite.
    from pyspark.sql import functions as _F

    from azure_based_pii_redactor_spark.engine.corpus import (
        build_training_corpus,
    )

    eval_docs = pages.filter(
        _F.pmod(_F.xxhash64("url"), _F.lit(41)) == 0
    ).select("text")
    cb_sec = 9e9
    for _ in range(2):
        t0 = time.time()
        cb, _r = build_training_corpus(
            pages, eval_docs=eval_docs, sample_pct=50,
        )
        cb.write.format("noop").mode("overwrite").save()
        cb_sec = min(cb_sec, time.time() - t0)
    corpus_builder_sec = round(cb_sec, 3)

    # -- operator headliners ------------------------------------------------
    # Warm-up pass at sf0.001: JVM JIT + whole-stage-codegen compilation
    # otherwise dominates small-SF timings and masks the steady-state rate
    # that matters at 100 TB.
    warm_dir = "/root/testdata/sf0.001"
    for name in HEADLINE:
        _resolve(name)(spark, warm_dir).write.format("noop").mode(
            "overwrite").save()
    for name in HEADLINE:
        # best-of-2 for EVERY entry (r4 lesson: the single-rep artifact was
        # noise-dominated -- a transient host window inflated 16 entries
        # 1.4-1.7x with zero code change, making regression vs noise
        # undecidable from the graded record)
        reps = 2
        best = 9e9
        for _ in range(reps):
            t0 = time.time()
            _resolve(name)(spark, SF_DIR).write.format("noop").mode(
                "overwrite").save()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)

    # -- streaming twin: same kernel under availableNow micro-batches -------
    # Tracks the structured-streaming overhead (checkpointing + per-batch
    # planning) round-over-round; 128 files/trigger -> 2 micro-batches over
    # the 256-part corpus.  Two tuning facts (profiled round 3): per-epoch
    # fixed overhead (offset log, getBatch, planning) is ~0.4 s, so epochs
    # should be as large as latency allows; and input splits must be sized
    # for the MICRO-BATCH, not the corpus -- corpus-sized splits left half
    # the cores idle within each trigger (7.6 s -> ~3.9 s at sf0.1).
    from azure_based_pii_redactor_spark.streaming.scrub_stream import (
        scrub_stream,
    )

    n_epochs = 2
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes",
        str(max(total // n_epochs // (CPUS * 2), 1 << 20)),
    )
    # untimed warm-up on a small corpus: the FIRST streaming query pays
    # ~10 s of one-off cost (streaming plan codegen, sink/commit-log
    # machinery) that the batch entries' warm-up does not cover -- the
    # timed reps below measure steady state, same policy as the batch
    # pipeline's untimed warm-up.
    warm_corpus = os.path.join(SCRATCH, "pages_warm_2000")
    if not os.path.exists(os.path.join(warm_corpus, "_SUCCESS")):
        generate_pages(spark, 2_000, seed=7, parts=8).write.mode(
            "overwrite").parquet(warm_corpus)
    wout = os.path.join(SCRATCH, "stream_warm_out")
    wck = os.path.join(SCRATCH, "stream_warm_ckpt")
    for d in (wout, wck):
        shutil.rmtree(d, ignore_errors=True)
    scrub_stream(spark, warm_corpus, wout, wck,
                 max_files_per_trigger=8).awaitTermination()
    stream_sec = 9e9
    for rep in range(3):  # best-of-3: stream wall-clock is the noisiest
        # (r4 shipped a 74% scrub_stream "regression" that was a noise
        # window hitting both of 2 reps; 3 reps bound that risk)
        stream_out = os.path.join(SCRATCH, f"stream_out{rep}")
        stream_ckpt = os.path.join(SCRATCH, f"stream_ckpt{rep}")
        for d in (stream_out, stream_ckpt):
            shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        q = scrub_stream(spark, corpus, stream_out, stream_ckpt,
                         max_files_per_trigger=256 // n_epochs)
        q.awaitTermination()
        stream_sec = min(stream_sec, time.time() - t0)
    timings["scrub_stream"] = round(stream_sec, 3)
    stream_docs_per_sec = round(n_pages / stream_sec, 1)

    # -- stateful ops: default vs RocksDB state store (VERDICT r4 #3) ------
    # The 10^12-scale state claim (stateful.py docstring: off-heap state +
    # changelog checkpointing) gets a measured number: the two STATEFUL
    # streaming ops (watermarked url dedup, applyInPandasWithState running
    # totals) run over the same corpus under both providers.  The kernel is
    # deliberately NOT in the plan (keep/n_entities are JVM literals): this
    # times the state machinery, not the scrub.  At sf0.1 the state fits
    # heap either way -- the measurement is the rocksdb PRICE (JNI +
    # changelog) paid at a scale where its benefit (state >> heap) cannot
    # show; the benefit claim stays architectural (provider proven engaged
    # by test_dedup_stream.py::test_stream_dedup_under_rocksdb_state_store).
    from pyspark.sql import functions as F

    from azure_based_pii_redactor_spark.streaming.dedup_stream import (
        dedupe_stream,
    )
    from azure_based_pii_redactor_spark.streaming.scrub_stream import (
        read_pages_stream,
    )
    from azure_based_pii_redactor_spark.streaming.stateful import (
        restore_state_store_conf,
        running_domain_counts,
        use_rocksdb_state_store,
    )

    def _run_stateful(tag: str, src: str, files_per_trigger: int) -> float:
        """One pass of both stateful queries (sequential; chaining two
        stateful operators in one query is version-sensitive)."""
        t0 = time.time()
        for i, make in enumerate((
            lambda s: dedupe_stream(s),
            lambda s: running_domain_counts(
                s.select(
                    "url", "warc_ts",
                    F.lit(True).alias("keep"),
                    F.lit(1).alias("n_entities"),
                )
            ),
        )):
            ck = os.path.join(SCRATCH, f"stateful_ck_{tag}_{i}")
            shutil.rmtree(ck, ignore_errors=True)
            q = (
                make(read_pages_stream(spark, src, files_per_trigger))
                .writeStream.format("noop")
                .outputMode("update" if i else "append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return time.time() - t0

    # A/B entries live OUTSIDE the summed total: adding them to "value"
    # would read as a spurious ~12 s cross-round regression in the very
    # round-over-round comparison the best-of-N policy exists to protect
    ab: dict[str, float] = {}
    for provider in ("default", "rocksdb"):
        prev = use_rocksdb_state_store(spark) if provider == "rocksdb" \
            else None
        try:
            _run_stateful(f"warm_{provider}", warm_corpus, 8)  # untimed
            best = 9e9
            for rep in range(2):
                best = min(
                    best,
                    _run_stateful(
                        f"{provider}_{rep}", corpus, 256 // n_epochs
                    ),
                )
            ab[f"stateful_stream_{provider}"] = round(best, 3)
        finally:
            if prev is not None:
                restore_state_store_conf(spark, prev)

    # -- streaming admission loop: per-epoch cost curve (VERDICT r6 #3) -----
    # The scale claim under measurement: "history is never re-shingled"
    # -- each epoch's cost is the BATCH's shingle/band/re-score work
    # plus bounded reads of the persisted stores, so per-epoch wall time
    # stays FLAT as admitted history accumulates.  Evidence shape: seed
    # a history corpus ~8x the slice size (shingled ONCE, by
    # seed_band_store -- its cost is reported as admission_seed_sec),
    # then stream EPOCHS equal crawl slices (fresh docs + a 20%
    # re-fetch/near-dup tail that must be rejected) through
    # run_streaming_admission under one checkpoint.  A rising curve
    # would falsify the claim; admitted counts prove the rejections
    # actually happened.  Streaming one-off costs are already paid by
    # the scrub_stream warm-up above.
    from pyspark.sql import functions as F  # noqa: F811 (scoped above)

    from azure_based_pii_redactor_spark.streaming.admission import (
        run_streaming_admission,
        seed_band_store,
    )

    adm_root = os.path.join(SCRATCH, "admission")
    shutil.rmtree(adm_root, ignore_errors=True)  # always fresh: the
    # epoch curve IS the artifact; reusing stores would skew it
    adm_src = os.path.join(adm_root, "src")
    os.makedirs(adm_src)
    band_p = os.path.join(adm_root, "bands")
    out_p = os.path.join(adm_root, "admitted")
    adm_ckpt = os.path.join(adm_root, "ckpt")
    hist_n = max(n_pages // 3, 1_500)
    slice_n = max(n_pages // 25, 200)
    refetch_n = slice_n // 5
    adm_epochs = 4

    def _docs(df, id_offset=0):
        return df.select(
            (F.xxhash64("url") + F.lit(id_offset)).alias("doc_id"), "text"
        )

    hist_docs = _docs(
        generate_pages(spark, hist_n, seed=11, parts=CPUS)
    ).localCheckpoint()

    # untimed warm-up: TWO tiny epochs through throwaway stores -- the
    # admit_batch plan shapes (64 min-agg signatures, band join, cross
    # re-score; epoch-0's absent-admitted-store shape differs from
    # epoch-1's) each pay seconds of whole-stage-codegen compile on
    # first execution, which otherwise lands on the first timed epochs
    # and fakes a falling curve (measured: 30 s -> 10 s with no data
    # growth)
    warm_hist = _docs(generate_pages(spark, 400, seed=23, parts=4))
    warm_src = os.path.join(adm_root, "warm_src")
    os.makedirs(warm_src)
    seed_band_store(warm_hist, os.path.join(adm_root, "warm_bands"))
    for i in range(2):
        _docs(
            generate_pages(spark, 200, seed=23, parts=2,
                           start_id=400 + i * 200)
        ).write.mode("append").parquet(warm_src)
        run_streaming_admission(
            spark.readStream.schema("doc_id long, text string")
            .parquet(warm_src),
            warm_hist,
            os.path.join(adm_root, "warm_bands"),
            os.path.join(adm_root, "warm_admitted"),
            os.path.join(adm_root, "warm_ckpt"),
        ).awaitTermination()

    t0 = time.time()
    seed_band_store(hist_docs, band_p)
    admission_seed_sec = round(time.time() - t0, 3)

    epoch_secs = []
    for i in range(adm_epochs):
        fresh = generate_pages(
            spark, slice_n, seed=11, parts=8,
            start_id=hist_n + i * slice_n,
        )
        # re-fetches: a disjoint 20% window of the HISTORY generator
        # range re-emitted under new doc_ids -- near-dup rejects
        refetch = generate_pages(
            spark, refetch_n, seed=11, parts=2, start_id=i * refetch_n
        )
        _docs(fresh).unionByName(
            _docs(refetch, id_offset=1 + i)
        ).repartition(8).write.mode("append").parquet(adm_src)
        t0 = time.time()
        q = run_streaming_admission(
            spark.readStream.schema("doc_id long, text string")
            .parquet(adm_src),
            hist_docs, band_p, out_p, adm_ckpt,
        )
        q.awaitTermination()
        epoch_secs.append(round(time.time() - t0, 3))
    adm_counts = {
        int(r.epoch_id): int(r.n)
        for r in spark.read.parquet(out_p)
        .groupBy("epoch_id").agg(F.count("*").alias("n")).collect()
    }
    admission_admitted = [adm_counts.get(i, 0) for i in range(adm_epochs)]

    # -- bloom decontamination, broadcast-join probe (VERDICT r6 #7) --------
    # decontaminate_bloom's probe is k broadcast hash joins of the train
    # windows against the filter's (w, bits) rows (the 10^9-window
    # shape).  Train side = the full bench pages corpus; eval = 1,200
    # disjoint pages (~39k distinct 8-word windows -> ~10.5k filter
    # words at fpp 1e-3).
    import azure_based_pii_redactor_spark.engine.operators.textstats as _ts

    bloom_eval = (
        generate_pages(spark, 1_200, seed=77, parts=8)
        .select(F.xxhash64("url").alias("doc_id"), "text")
        .localCheckpoint()
    )
    train = pages.select(F.xxhash64("url").alias("doc_id"), "text")
    # size the filter once (cheap: 1,200 docs) to record its capacity
    # in the artifact itself
    _, bloom_m, bloom_n_wins = _ts._bloom_bits_frame(
        bloom_eval, _ts.WINDOW_N, "text", 1e-3
    )
    # untimed warm-up (broadcast-join codegen), then best-of-2
    _ts.decontaminate_bloom(
        train.limit(2_000), bloom_eval
    ).write.format("noop").mode("overwrite").save()
    bloom_table_sec = 9e9
    for _ in range(2):
        t0 = time.time()
        _ts.decontaminate_bloom(
            train, bloom_eval
        ).write.format("noop").mode("overwrite").save()
        bloom_table_sec = min(bloom_table_sec, time.time() - t0)
    bloom_table_sec = round(bloom_table_sec, 3)

    # -- sequence packing (side metric, r7) ----------------------------------
    # The packing tape + window assembly over the SAME 50k-page corpus
    # at a production-ish 2,048-token context: pack_sequences' two-phase
    # cumsum (bucket sums -> broadcast offsets -> bounded windows) plus
    # assemble_packed_windows' bounded explode + per-window JVM fold,
    # written to noop so the timing is the operators, not the sink.
    pack_sec = 9e9
    n_windows = 0
    _ts.assemble_packed_windows(  # untimed warm-up (codegen)
        _ts.pack_sequences(
            pages.limit(2_000), 2048, key_col="url"
        ), 2048,
    ).write.format("noop").mode("overwrite").save()
    for _ in range(2):
        t0 = time.time()
        wins = _ts.assemble_packed_windows(
            _ts.pack_sequences(pages, 2048, key_col="url"), 2048
        )
        wins.write.format("noop").mode("overwrite").save()
        pack_sec = min(pack_sec, time.time() - t0)
    n_windows = _ts.pack_sequences(
        pages, 2048, key_col="url"
    ).agg(F.max("last_bin")).collect()[0][0] + 1
    pack_sec = round(pack_sec, 3)

    # -- cross-doc boilerplate line dedup (side metric, r7) ------------------
    # remove_boilerplate_lines over the SAME 50k-page corpus: the
    # generator's shared corpus sentences and bullet-axis lines are
    # genuine cross-document boilerplate, so removal does real work
    # (n_removed > 0 is asserted into the artifact, not assumed).
    from azure_based_pii_redactor_spark.engine.operators.textstats import (
        remove_boilerplate_lines,
    )

    ld_in = pages.select("url", "text")
    remove_boilerplate_lines(  # untimed warm-up
        ld_in.limit(2_000), "url", min_docs=50
    ).write.format("noop").mode("overwrite").save()
    line_dedup_sec = 9e9
    for _ in range(2):
        t0 = time.time()
        remove_boilerplate_lines(ld_in, "url", min_docs=50).write.format(
            "noop"
        ).mode("overwrite").save()
        line_dedup_sec = min(line_dedup_sec, time.time() - t0)
    line_dedup_sec = round(line_dedup_sec, 3)
    line_removed = (
        remove_boilerplate_lines(ld_in, "url", min_docs=50)
        .agg(F.sum("n_removed"))
        .collect()[0][0]
    )
    assert line_removed > 0, (
        "line-dedup bench premise broken: corpus has no cross-doc"
        " boilerplate lines -- the timing would be a no-op"
    )

    # -- domain PageRank (side metric, r7) -----------------------------------
    # 3 integer power iterations over a zipf-skewed domain graph derived
    # from the corpus urls (2 page-level outlinks per page, targets
    # hash-spread over the same domain universe) -- the skewed in-degree
    # distribution is exactly the hard case for the per-iteration
    # domain-keyed join+agg.
    from azure_based_pii_redactor_spark.engine.operators.urls import (
        collapsed_authority,
        domain_pagerank,
    )
    from azure_based_pii_redactor_spark.sources.pages import N_DOMAINS

    pr_in = pages.select(
        collapsed_authority(F.col("url")).alias("src_domain"),
        F.concat(
            F.lit("domain"),
            (F.pmod(F.xxhash64("url"), F.lit(N_DOMAINS)) + 1).cast(
                "string"
            ),
            F.lit(".example"),
        ).alias("dst_domain"),
    ).unionByName(
        pages.select(
            collapsed_authority(F.col("url")).alias("src_domain"),
            F.concat(
                F.lit("domain"),
                (
                    F.pmod(F.xxhash64("url", F.lit(7)), F.lit(N_DOMAINS))
                    + 1
                ).cast("string"),
                F.lit(".example"),
            ).alias("dst_domain"),
        )
    )
    pagerank_sec = 9e9
    for _ in range(2):
        t0 = time.time()
        domain_pagerank(pr_in).write.format("noop").mode(
            "overwrite"
        ).save()
        pagerank_sec = min(pagerank_sec, time.time() - t0)
    pagerank_sec = round(pagerank_sec, 3)
    # untimed graph-size note: distinct domains of the self-loop-free
    # edge list (== pagerank's node set) without re-running iterations
    pr_nodes = (
        pr_in.where(F.col("src_domain") != F.col("dst_domain"))
        .select(
            F.explode(F.array("src_domain", "dst_domain")).alias("d")
        )
        .distinct()
        .count()
    )

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "state_store_ab": ab,
                "corpus_builder_sec": corpus_builder_sec,
                "corpus_builder_docs_per_sec": round(
                    n_pages / corpus_builder_sec, 1
                ),
                "admission_seed_sec": admission_seed_sec,
                "admission_epoch_secs": epoch_secs,
                "admission_admitted": admission_admitted,
                "admission_slice_docs": slice_n + refetch_n,
                "admission_history_docs": hist_n,
                "bloom_table_probe_sec": bloom_table_sec,
                "bloom_table_docs_per_sec": round(
                    n_pages / bloom_table_sec, 1
                ),
                "bloom_filter_words": bloom_m // 64,
                "bloom_eval_windows": bloom_n_wins,
                "pack_windows_sec": pack_sec,
                "pack_docs_per_sec": round(n_pages / pack_sec, 1),
                "pack_n_windows": n_windows,
                "line_dedup_sec": line_dedup_sec,
                "line_dedup_docs_per_sec": round(
                    n_pages / line_dedup_sec, 1
                ),
                "line_dedup_lines_removed": int(line_removed),
                "pagerank_sec": pagerank_sec,
                "pagerank_n_domains": pr_nodes,
                "sf": sf,
                "docs_per_sec": docs_per_sec,
                "stream_docs_per_sec": stream_docs_per_sec,
                "n_pages": n_pages,
                "cpus": CPUS,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

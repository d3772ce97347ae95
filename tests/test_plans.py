"""Physical-plan assertions: the plan shapes that matter at 100 TB
(broadcast joins, filter/column pushdown into the parquet scan, top-k
without global sort, partial aggregation before the exchange).

These pin the OPTIMIZED plan, not just results -- a correct-but-shuffling
plan is a regression even when values match."""

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_dim_joins_are_broadcast(spark):
    from azure_based_pii_redactor_spark.engine.operators.relational import (
        join_rows_history,
        join_snowflake,
    )

    p = plan_of(join_rows_history(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    p2 = plan_of(join_snowflake(spark, SF))
    assert p2.count("BroadcastHashJoin") == 2


def test_filter_pushdown_reaches_scan(spark):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.filter(F.col("l_shipdate") <= "1995-01-01").select(
        "l_orderkey", "l_quantity"
    )
    p = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_column_pruning_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.select("l_orderkey", "l_quantity")
    p = plan_of(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity" in p
    assert "l_extendedprice" not in p  # untouched columns never read


def test_global_limit_uses_take_ordered(spark):
    from azure_based_pii_redactor_spark.engine.operators.relational import (
        window_recent_first_limit,
    )

    p = plan_of(window_recent_first_limit(spark, SF))
    # per-partition top-k + driver merge, NOT a full global sort
    assert "TakeOrderedAndProject" in p


def test_aggregation_is_partial_then_final(spark):
    from azure_based_pii_redactor_spark.engine.operators.relational import (
        agg_tpch_q1,
    )

    p = plan_of(agg_tpch_q1(spark, SF))
    # map-side combine: HashAggregate appears before AND after the exchange
    assert p.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(l_returnflag" in p


def test_kernel_stage_is_narrow(spark):
    from azure_based_pii_redactor_spark.engine.pipeline import run_scrub_pipeline
    from azure_based_pii_redactor_spark.sources.pages import generate_pages

    out = run_scrub_pipeline(generate_pages(spark, 10, seed=1, parts=2))
    p = plan_of(out)
    assert "Exchange" not in p  # no shuffle: scan -> kernel, nothing else
    assert "MapInPandas" in p
    # one extraction path: the raw html column is the kernel's only
    # extraction input (no JVM-side pre-extracted side columns)
    node = out._jdf.queryExecution().optimizedPlan()
    assert node.nodeName() == "MapInPandas"
    cols = node.child().output()
    assert [cols.apply(i).name() for i in range(cols.size())] == [
        "url", "warc_ts", "html", "text", "lang"]


def test_resume_antijoin_is_broadcast(spark, tmp_path):
    from azure_based_pii_redactor_spark.engine.checkpoint import (
        filter_remaining,
        run_checkpointed,
    )
    from azure_based_pii_redactor_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 50, seed=2, parts=2)
    out, lin = str(tmp_path / "o"), str(tmp_path / "l")
    run_checkpointed(pages, out, lin, "r", n_buckets=4)
    rem = filter_remaining(pages, lin, "r", 4)
    p = plan_of(rem)
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_whole_stage_codegen_covers_relational_ops(spark):
    from azure_based_pii_redactor_spark.engine.operators.relational import (
        agg_session_rollup,
    )

    df = agg_session_rollup(spark, SF)
    df.collect()  # AQE finalizes the physical plan on execution
    p = plan_of(df)
    assert "isFinalPlan=true" in p
    # '*(N)' marks whole-stage-codegen'd stages in the plan string
    assert "*(1)" in p and "partial_sum" in p


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing demo: pre-bucketed tables on the join key co-locate, so
    the join plans with zero Exchange on either side -- the 100 TB pattern
    for repeated joins on the same key (SURVEY.md section 4 / task brief
    'bucketing for co-located joins')."""
    import uuid

    from pyspark.sql import functions as F

    suffix = uuid.uuid4().hex[:8]
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
       .mode("overwrite").saveAsTable(f"li_b_{suffix}"))
    (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
       .mode("overwrite").saveAsTable(f"o_b_{suffix}"))
    try:
        lib = spark.table(f"li_b_{suffix}")
        ob = spark.table(f"o_b_{suffix}")
        # disable broadcast so the bucket co-location is what saves us
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = lib.join(ob, lib.l_orderkey == ob.o_orderkey).groupBy(
            "o_orderpriority").agg(F.count("*").alias("n"))
        p = plan_of(joined)
        # the JOIN itself needs no exchange (bucket-co-located scan);
        # only the tiny post-join aggregation shuffles
        join_part = p.split("HashAggregate")[-1]
        assert "SortMergeJoin" in p
        assert "Exchange" not in join_part
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql(f"DROP TABLE IF EXISTS li_b_{suffix}")
        spark.sql(f"DROP TABLE IF EXISTS o_b_{suffix}")


def test_neardup_plan_has_no_cartesian(spark):
    """embedding_cosine_neardup must generate candidates via banded LSH
    bucket equality -- an all-pairs nested-loop join is the 100 TB
    killer this guards against."""
    from azure_based_pii_redactor_spark.engine.operators.similarity import (
        embedding_cosine_neardup,
    )

    plan = plan_of(embedding_cosine_neardup(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_jaccard_plan_has_stop_shingle_guard(spark):
    """dedup_ngram_jaccard's shingle self-join must run behind the
    document-frequency anti-join (stop-shingle guard)."""
    from azure_based_pii_redactor_spark.engine.operators.dedup import (
        dedup_ngram_jaccard,
    )

    plan = optimized_of(dedup_ngram_jaccard(spark, SF))
    assert "LeftAnti" in plan, plan


def test_keyset_pagination_plan(spark):
    """page_after must plan as a pushed-down range filter + top-k
    (TakeOrderedAndProject), never a global sort with offset skip."""
    from azure_based_pii_redactor_spark.engine.operators.relational import (
        window_pagination_keyset,
    )

    plan = plan_of(window_pagination_keyset(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "PushedFilters: []" not in plan, plan


def test_range_join_plan_is_equi(spark):
    """join_range_bucketed must plan the interval predicate as an EQUI
    join on the bucket key (plus refine filter) -- a bare range condition
    degenerates to BroadcastNestedLoopJoin, the O(N*M) killer."""
    from azure_based_pii_redactor_spark.engine.operators.relational import (
        join_range_bucketed,
    )

    plan = plan_of(join_range_bucketed(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_merged_semi_anti_plans(spark):
    """join_semi_anti must keep both legs' join strategies: a left-semi
    and a left-anti hash join (no rewrite into inner joins + distinct)."""
    from azure_based_pii_redactor_spark.engine.operators.relational import (
        join_semi_anti,
    )

    plan = plan_of(join_semi_anti(spark, SF))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_merged_topk_keeps_take_ordered(spark):
    """window_topk's recent-50 leg must still plan as
    TakeOrderedAndProject (per-partition top-k), not a global sort."""
    from azure_based_pii_redactor_spark.engine.operators.relational import (
        window_topk,
    )

    plan = plan_of(window_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_simhash_hamming_plan_no_cartesian(spark):
    """The Hamming block join must stay an equi join on (table, key) --
    never an all-pairs product (that form exists only as the pytest
    oracle)."""
    from azure_based_pii_redactor_spark.engine.operators.dedup import (
        dedup_simhash_hamming,
    )

    plan = plan_of(dedup_simhash_hamming(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_passage_removal_plan_shape(spark):
    """text_dedup_passage_removal must stay join-safe at scale: no
    cartesian/BNLJ anywhere, the removed-index attachment as an equi
    LEFT OUTER join, exactly ONE corpus scan (the doc side -- the
    window table is exploded once into a lazily-checkpointed RDD that
    both window consumers share; r8 replaced the second corpus scan
    AND the word-table explode with the array rebuild), and the keeper
    set returning via a hash join (broadcast at this size), never a
    sort-window over the exploded windows."""
    from azure_based_pii_redactor_spark.engine.operators.textstats import (
        text_dedup_passage_removal,
    )

    df = text_dedup_passage_removal(spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftOuter" in optimized_of(df), plan
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Scan ExistingRDD") == 2, plan  # shared window RDD
    assert "Window" not in plan, plan  # keeper = hash agg, not rank


def test_minhash_verified_plan_bounded(spark):
    """The r4 verified-minhash driver forms: candidates come from the
    banded equi-join, the exact re-score is restricted to candidate
    docs via a BROADCAST semi-join on the candidate id set, and no
    cartesian/nested-loop join appears anywhere -- verification cost is
    bounded by candidates, never corpus^2."""
    from azure_based_pii_redactor_spark.engine.operators.dedup import (
        dedup_minhash_verified,
    )

    df = dedup_minhash_verified(spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    opt = optimized_of(df)
    assert "LeftSemi" in opt, opt


def test_decontaminate_driver_plan(spark):
    """The driver form of decontamination keeps the library plan: eval
    windows broadcast into a LEFT SEMI join, training side unshuffled
    before it."""
    from azure_based_pii_redactor_spark.engine.operators.textstats import (
        text_decontaminate,
    )

    df = text_decontaminate(spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # exactly two hash exchanges, neither on the training windows: the
    # eval-side DISTINCT (tiny, inside the broadcast subtree, keyed on
    # win) and the per-doc count above the join (keyed on doc_id) --
    # the training side reaches the semi join unshuffled
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("Exchange hashpartitioning(doc_id") == 1, plan
    assert plan.count("Exchange hashpartitioning(win") == 1, plan


def test_cap_per_domain_single_shuffle(spark):
    """Domain balancing is ONE hash exchange on the capping key into a
    rank window -- no join, no second shuffle, and the key expression
    lives in the projection (computable in the scan at 10^12 rows)."""
    from pyspark.sql import functions as F

    from azure_based_pii_redactor_spark.engine.operators.urls import (
        cap_per_domain,
    )

    pages = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.concat(F.lit("https://d"), (F.col("doc_id") % 50),
                 F.lit(".example/p"), "doc_id").alias("url"),
        "text",
    )
    plan = plan_of(cap_per_domain(pages, 5))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" in plan, plan
    assert "Join" not in plan, plan


def test_sampling_ops_shuffle_free(spark):
    """sample_mixture is a pure scan-projection filter (zero exchanges);
    sample_to_token_budget's kept frame is likewise a bare filter --
    the budget's one aggregation job runs at call time, and what the
    consumer executes afterwards shuffles nothing."""
    from pyspark.sql import functions as F

    from azure_based_pii_redactor_spark.engine.operators.textstats import (
        sample_mixture,
        sample_to_token_budget,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "source", F.concat(F.lit("s"), F.col("doc_id") % 3)
    )
    plan = plan_of(sample_mixture(docs, {"s0": 0.5, "s1": 1.0}))
    assert "Exchange" not in plan, plan
    kept, total = sample_to_token_budget(docs, 1000, n_buckets=50)
    assert total >= 1000
    plan = plan_of(kept)
    assert "Exchange" not in plan, plan


def test_pack_sequences_no_global_sort(spark):
    """pack_sequences' scale shape: the ONLY exchange is the hash
    partitioning on the md5 bucket feeding the intra-bucket window
    (bounded partitions), the offsets side is a BroadcastHashJoin, and
    there is NO rangepartitioning anywhere -- a global sort over the
    corpus would be the naive (and 100x-fatal) plan for a global
    running sum."""
    from azure_based_pii_redactor_spark.engine.operators.textstats import (
        pack_sequences,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    packed = pack_sequences(docs, 512, n_buckets=64)
    plan = plan_of(packed)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "rangepartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan

    # window assembly stays JVM-side (sort_array fold, no Python) and
    # adds only the bounded regroup on bin -- still no global sort
    from azure_based_pii_redactor_spark.engine.operators.textstats import (
        assemble_packed_windows,
    )

    aplan = plan_of(assemble_packed_windows(packed, 512))
    assert "rangepartitioning" not in aplan, aplan
    assert "BatchEvalPython" not in aplan, aplan
    assert "ArrowEvalPython" not in aplan, aplan


def test_line_dedup_plan_shape(spark):
    """remove_boilerplate_lines must stay join-safe at scale: the
    boilerplate key set returns via a hash join (broadcast at this
    size), no cartesian/BNLJ, no Window over the corpus, and exactly
    TWO corpus scans (key aggregation + join-back -- the same
    two-scan shape as passage removal's windows+words; a third scan
    would mean a stage started recomputing the line table)."""
    from pyspark.sql import functions as F

    from azure_based_pii_redactor_spark.engine.operators.textstats import (
        remove_boilerplate_lines,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.regexp_replace("text", " ", "\n").alias("text")
    )
    df = remove_boilerplate_lines(docs, "doc_id", min_docs=3)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" not in plan, plan
    assert "Join" in plan, plan
    assert plan.count("Scan parquet") == 2, plan


def test_pagerank_iteration_plan_shape(spark):
    """domain_pagerank's returned plan is the LAST iteration (earlier
    rounds are localCheckpointed -- dangling + contributions both read
    the previous ranks, so a lazy loop doubles the embedded plan per
    iteration): exactly ONE 1-row dangling broadcast (the BNLJ), the
    rank exclusion as an equi LeftAnti, no cartesian, and no global
    range exchange (ranks are never globally sorted)."""
    from azure_based_pii_redactor_spark.engine.operators.urls import (
        domain_pagerank,
    )

    edges = spark.createDataFrame(
        [(f"s{i % 5}", f"d{(i + 3) % 11}") for i in range(200)],
        "src_domain string, dst_domain string",
    )
    df = domain_pagerank(edges)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "LeftAnti" in plan, plan
    assert "rangepartitioning" not in plan, plan

"""CCNet-style per-language score bucketing (`textstats.bucket_by_score`):
exact ntile semantics, the Sort-free threshold scale path, agreement
between the two, and composition with the real perplexity kernel."""

from collections import Counter

import pytest

import azure_based_pii_redactor_spark.engine.operators.textstats as ts

SF = "/root/testdata/sf0.001"


def _buckets(df, mode):
    out = ts.bucket_by_score(df, "score", mode=mode).collect()
    return {r["doc_id"]: r["bucket"] for r in out}


def test_ntile_exact_split_and_remainder(spark):
    """7 docs in one language -> thirds of 3/2/2 (standard NTILE gives
    the remainder to the EARLIEST groups), ordered by score then key."""
    df = spark.createDataFrame(
        [(i, "en", float(100 - i)) for i in range(7)],
        "doc_id int, lang string, score double",
    )
    by = _buckets(df, "ntile")
    # ascending score = doc_ids 6,5,4 | 3,2 | 1,0
    assert [by[i] for i in (6, 5, 4)] == ["head"] * 3
    assert [by[i] for i in (3, 2)] == ["middle"] * 2
    assert [by[i] for i in (1, 0)] == ["tail"] * 2


def test_ntile_is_per_language(spark):
    """Partitioning: one language's score distribution must not leak
    into another's cuts -- every language is split independently."""
    rows = [(i, "en", float(i)) for i in range(6)] + [
        (100 + i, "de", float(1000 + i)) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id int, lang string, score double")
    by = _buckets(df, "ntile")
    # de scores are all above every en score, yet de still has heads
    assert by[100] == "head" and by[105] == "tail"
    assert by[0] == "head" and by[5] == "tail"


def test_threshold_mode_agrees_with_ntile(spark):
    """The 10^12-doc threshold path must reproduce ntile assignments on
    the testdata corpus except at cut boundaries: agreement >= 90% and
    every disagreement is exactly one bucket off."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from pyspark.sql import functions as F

    scored = docs.select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("double").alias("score"),
    )
    nt = _buckets(scored, "ntile")
    th = _buckets(scored, "threshold")
    order = {b: i for i, b in enumerate(ts.CCNET_BUCKETS)}
    agree = sum(nt[d] == th[d] for d in nt)
    assert agree / len(nt) >= 0.9
    assert all(abs(order[nt[d]] - order[th[d]]) <= 1 for d in nt)


def test_threshold_mode_is_sort_free(spark):
    """The threshold plan must contain no global Sort/Window over the
    corpus -- the whole point of the scale path (the tiny percentile
    aggregation and the broadcast join are the only exchanges)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from pyspark.sql import functions as F

    scored = docs.select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("double").alias("score"),
    )
    plan = (
        ts.bucket_by_score(scored, "score", mode="threshold")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_composes_with_real_perplexity(spark):
    """CCNet's actual recipe: bucket on kernel perplexity.  The head
    third must be more fluent (lower mean ppl) than the tail third in
    every language, in both modes."""
    from azure_based_pii_redactor_spark.quality import perplexity

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    rows = [
        (r["doc_id"], r["lang"], float(perplexity(r["text"]))) for r in docs
    ]
    df = spark.createDataFrame(rows, "doc_id int, lang string, score double")
    for mode in ("ntile", "threshold"):
        out = ts.bucket_by_score(df, "score", mode=mode).collect()
        stats: dict = {}
        for r in out:
            stats.setdefault((r["lang"], r["bucket"]), []).append(r["score"])
        langs = {lang for lang, _ in stats}
        for lang in langs:
            head = stats.get((lang, "head"))
            tail = stats.get((lang, "tail"))
            if head and tail:
                assert sum(head) / len(head) < sum(tail) / len(tail)


def test_deterministic_across_runs(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from pyspark.sql import functions as F

    scored = docs.select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("double").alias("score"),
    )
    a = _buckets(scored.repartition(7), "ntile")
    b = _buckets(scored.repartition(3), "ntile")
    assert a == b
    sizes = Counter(a.values())
    # thirds within one of each other per the corpus total
    assert max(sizes.values()) - min(sizes.values()) <= len(
        {r["lang"] for r in docs.select("lang").distinct().collect()}
    )


def test_null_score_and_null_lang_policy(spark):
    """NULL handling must be identical in both modes: a NULL language
    is its own group (no rows dropped), and a NULL score is 'tail' --
    a doc the scorer cannot vouch for never outranks a scored one."""
    rows = (
        [(i, "en", float(i)) for i in range(6)]
        + [(10, "en", None), (11, None, 1.0), (12, None, 2.0),
           (13, None, 3.0), (14, None, None)]
    )
    df = spark.createDataFrame(
        rows, "doc_id int, lang string, score double"
    )
    for mode in ("ntile", "threshold"):
        by = _buckets(df, mode)
        assert set(by) == {r[0] for r in rows}, mode  # nothing dropped
        assert by[10] == "tail" and by[14] == "tail", mode
    # the NULL-lang group is bucketed within itself in ntile mode:
    # 4 rows -> thirds (2,1,1), null-score last and forced 'tail'
    nt = _buckets(df, "ntile")
    assert [nt[i] for i in (11, 12, 13, 14)] == [
        "head", "head", "middle", "tail"
    ]


def test_threshold_cuts_reusable_for_identical_selection(spark):
    """The documented resume-identical recipe: persist the tiny cuts
    frame and pass it back -- two runs with the same cuts_df agree
    bit-for-bit regardless of input partitioning."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("double").alias("score"),
    )
    cuts = (
        docs.groupBy("lang")
        .agg(
            F.percentile_approx("score", [1 / 3, 2 / 3], 10_000).alias(
                "__cuts"
            )
        )
        .localCheckpoint()
    )
    a = {r["doc_id"]: r["bucket"] for r in ts.bucket_by_score(
        docs.repartition(7), "score", mode="threshold", cuts_df=cuts
    ).collect()}
    b = {r["doc_id"]: r["bucket"] for r in ts.bucket_by_score(
        docs.coalesce(1), "score", mode="threshold", cuts_df=cuts
    ).collect()}
    assert a == b


def test_threshold_group_without_cuts_row_lands_in_tail(spark):
    """Persisted cuts predate a language: its rows must survive the
    cuts join and land in 'tail' (a scorer that cannot place a doc must
    never outrank a placed one), while the known group is bucketed by
    its cuts as before."""
    docs = spark.createDataFrame(
        [(1, "en", 1.0), (2, "en", 5.0), (3, "en", 9.0),
         (4, "sw", 1.0), (5, "sw", None)],
        "doc_id int, lang string, score double",
    )
    cuts = spark.createDataFrame(
        [("en", [3.0, 6.0])], "lang string, __cuts array<double>"
    )
    got = {r["doc_id"]: r["bucket"] for r in ts.bucket_by_score(
        docs, "score", mode="threshold", cuts_df=cuts
    ).collect()}
    assert got == {1: "head", 2: "middle", 3: "tail", 4: "tail", 5: "tail"}


def test_hashed_linear_score_host_recompute(spark):
    """clf_score is bit-exact against a host-side reimplementation of
    the hash->bucket->weight->sum pipeline (the same guarantee the
    DuckDB oracle checks cross-engine), including the empty-doc zero."""
    import hashlib

    def host_score(text):
        s = 0
        for t in text.split(" "):
            if not t:
                continue
            b = int(hashlib.md5(t.encode()).hexdigest()[:15], 16) \
                % ts.CLF_BUCKETS
            s += (b * ts.CLF_WEIGHT_MULT) % ts.CLF_WEIGHT_MOD \
                - ts.CLF_WEIGHT_MOD // 2
        return s

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, ""), (3, "  double  spaced "),
         (4, "unicode café tokens 中文 here"), (5, None)],
        "doc_id int, text string",
    ).select("doc_id", "text", ts.hashed_linear_score().alias("s"))
    got = {r["doc_id"]: r["s"] for r in df.collect()}
    rows = {1: "the quick brown fox", 2: "", 3: "  double  spaced ",
            4: "unicode café tokens 中文 here"}
    assert got == {**{k: host_score(v) for k, v in rows.items()}, 5: 0}
    assert got[2] == 0  # empty and NULL text both score 0, like the
    # oracle's coalesce

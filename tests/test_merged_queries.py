"""Consistency pins for the round-3 driver-contract curation: every
merged driver query must agree column-for-column with the single-purpose
functions it subsumes (which stay public API / bench surface), so the
demoted forms cannot drift from the oracle-checked merged form."""

import pandas as pd

import azure_based_pii_redactor_spark.engine.operators.relational as rel
import azure_based_pii_redactor_spark.engine.operators.textstats as ts

SF = "/root/testdata/sf0.001"


def _pdf(df):
    return df.toPandas()


def test_text_doc_features_matches_parts(spark):
    merged = _pdf(ts.text_doc_features(spark, SF)).set_index("doc_id")
    quality = _pdf(ts.text_quality_sql(spark, SF)).set_index("doc_id")
    bpe = _pdf(ts.text_token_bpe(spark, SF)).set_index("doc_id")
    vote = _pdf(ts.text_lang_stopword_vote(spark, SF)).set_index("doc_id")
    c4 = _pdf(ts.text_c4_clean_lines(spark, SF)).set_index("doc_id")
    md5 = _pdf(ts.text_fingerprint_md5(spark, SF)).set_index("doc_id")
    for col, src in [
        ("n_words", quality), ("mean_word_len", quality),
        ("keep_simple", quality), ("n_bpe_tokens", bpe),
        ("en_hits", vote), ("es_hits", vote), ("de_hits", vote),
        ("lang_vote", vote), ("n_kept_lines", c4), ("cleaned_len", c4),
        ("fingerprint", md5),
    ]:
        pd.testing.assert_series_equal(
            merged[col], src[col], check_dtype=False, check_names=False
        )


def test_scalar_mask_matches_parts(spark):
    merged = _pdf(rel.scalar_mask(spark, SF)).set_index("c_custkey")
    email = _pdf(rel.scalar_mask_email(spark, SF)).set_index("c_custkey")
    rep = _pdf(rel.scalar_mask_repeat(spark, SF)).set_index("c_custkey")
    pd.testing.assert_series_equal(
        merged["masked"], email["masked"], check_names=False
    )
    pd.testing.assert_series_equal(
        merged["masked_name"], rep["masked_name"], check_names=False
    )


def test_agg_type_stats_subsumes_counts_by_type(spark):
    """A1 (counts by type) is value-identical to the A7 rollup's
    (total, avg_score) columns -- the subsumption the curation relies
    on."""
    a1 = _pdf(rel.agg_counts_by_type(spark, SF)).set_index("event_type")
    a7 = _pdf(rel.agg_type_stats(spark, SF)).set_index("event_type")
    pd.testing.assert_series_equal(
        a1["n"], a7["total"], check_dtype=False, check_names=False
    )
    pd.testing.assert_series_equal(
        a1["avg_value"], a7["avg_score"], check_names=False
    )


def test_approx_aggregates_within_bounds(spark):
    """The approx swaps hold their error bounds (the same booleans the
    driver hash-checks at sf0.01, pinned here at sf0.001 too)."""
    acd = _pdf(rel.agg_approx_count_distinct(spark, SF))
    assert acd["approx_ok"].all(), acd
    apq = _pdf(rel.agg_approx_percentiles(spark, SF))
    for c in ("ok_p50", "ok_p90", "ok_p99"):
        assert apq[c].all(), apq


def test_merged_semi_anti_matches_parts(spark):
    merged = _pdf(rel.join_semi_anti(spark, SF))
    semi_keys = sorted(merged[merged["op"] == "semi"]["c_custkey"])
    anti_keys = sorted(merged[merged["op"] == "anti"]["c_custkey"])
    assert semi_keys == sorted(
        _pdf(rel.join_semi_exists(spark, SF))["c_custkey"]
    )
    assert anti_keys == sorted(
        _pdf(rel.join_anti_not_exists(spark, SF))["c_custkey"]
    )


def test_merged_topk_matches_parts(spark):
    merged = _pdf(rel.window_topk(spark, SF))
    recent_ids = set(merged[merged["scope"] == "recent50"]["event_id"])
    assert recent_ids == set(
        _pdf(rel.window_recent_first_limit(spark, SF))["event_id"]
    )
    topk = merged[merged["scope"] == "topk"]
    parts = _pdf(rel.window_topk_per_group(spark, SF))
    assert sorted(zip(topk.event_type, topk.rnk, topk.event_id)) == sorted(
        zip(parts.event_type, parts.rnk, parts.event_id)
    )


def test_merged_set_ops_matches_parts(spark):
    merged = _pdf(rel.set_ops(spark, SF))
    assert sorted(merged[merged["op"] == "union"]["user_id"]) == sorted(
        _pdf(rel.set_union_distinct(spark, SF))["user_id"]
    )
    assert sorted(merged[merged["op"] == "int_exc"]["user_id"]) == sorted(
        _pdf(rel.set_intersect_except(spark, SF))["user_id"]
    )


def test_passage_removal_keeps_first_occurrence(spark, tmp_path):
    """ExactSubstr semantics: a duplicated 8-word passage survives only
    in the lexicographically first (doc_id, pos) occurrence; overlapping
    duplicated windows merge via the index union; unaffected docs are
    untouched (md5 of original text)."""
    import hashlib

    import azure_based_pii_redactor_spark.engine.operators.textstats as t

    passage = "one two three four five six seven eight"
    docs = [
        (1, f"{passage} tail1 tail2 tail3"),
        (2, f"head1 head2 {passage} tail4"),
        (3, "totally unrelated words that repeat nothing at all here ok"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {r.doc_id: r for r in
            t.text_dedup_passage_removal(spark, str(tmp_path)).collect()}

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    # doc 1 holds the first occurrence: nothing removed
    assert rows[1].n_removed == 0
    assert rows[1].cleaned_md5 == md5(docs[0][1])
    # doc 2 loses exactly the 8 passage words, keeps its head and tail
    assert rows[2].n_removed == 8
    assert rows[2].cleaned_md5 == md5("head1 head2 tail4")
    # doc 3 untouched
    assert rows[3].n_removed == 0
    assert rows[3].cleaned_md5 == md5(docs[2][1])
    # span stats: doc 2's excision is ONE merged 8-word span
    assert (rows[2].n_spans, rows[2].max_span_len,
            rows[2].mean_span_len) == (1, 8, 8.0)
    assert (rows[1].n_spans, rows[1].max_span_len,
            rows[1].mean_span_len) == (0, 0, 0.0)


def test_long_duplicate_excised_as_one_span(spark, tmp_path):
    """VERDICT r4 #6: a 24-word duplicated passage (17 overlapping
    8-word windows) must be removed as ONE merged span of 24, and two
    disjoint duplicated passages in one doc must count as two spans --
    evidence that index-union merging excises long duplicates as units,
    not 8-word confetti."""
    import azure_based_pii_redactor_spark.engine.operators.textstats as t

    long_p = " ".join(f"w{i}" for i in range(24))
    p2 = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [
        (1, f"{long_p} endone"),
        (2, f"{long_p} endtwo"),
        (3, f"{p2} lead1 lead2 filler1 filler2 filler3 filler4 {p2} x"),
        (4, f"start0 {long_p} mid1 mid2 mid3 {p2} close0"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {r.doc_id: r for r in
            t.text_dedup_passage_removal(spark, str(tmp_path)).collect()}
    # doc 2: the whole 24-word passage goes as ONE span
    assert rows[2].n_removed == 24
    assert (rows[2].n_spans, rows[2].max_span_len,
            rows[2].mean_span_len) == (1, 24, 24.0)
    # doc 4: both duplicated passages removed, as TWO disjoint spans
    assert rows[4].n_removed == 24 + 8
    assert rows[4].n_spans == 2
    assert rows[4].max_span_len == 24
    assert rows[4].mean_span_len == 16.0


def test_minhash_estimate_error_bound(spark):
    """The rows-only minhash query's driver-visible error column stays
    inside the 4-sigma bound of a k=32 signature: sigma = sqrt(j(1-j)/k)
    <= 0.0884, so abs_err <= 0.36 for every emitted pair (a signature
    bug shows up as a gross violation, not a near-miss)."""
    import azure_based_pii_redactor_spark.engine.operators.dedup as dd

    rows = dd.dedup_minhash_lsh(spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        assert r.abs_err <= 0.36, (r.doc_a, r.doc_b, r.abs_err)


def test_text_langid_kernel_confusion_rollup(spark):
    """The demoted langid rollup (mapInPandas over documents) still
    runs and agrees with the batch kernel it wraps: per-(lang,
    lang_pred) counts must sum to the corpus size, and the dominant
    prediction for en-labeled docs must be en."""
    from azure_based_pii_redactor_spark.quality.langid import (
        predict_language_batch,
    )

    pdf = ts.text_langid_kernel(spark, SF).toPandas()
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("lang", "text").toPandas()
    )
    assert pdf["n"].sum() == len(docs)
    preds = predict_language_batch(list(docs["text"]))
    import collections

    want = collections.Counter(
        (lang, p[0]) for lang, p in zip(docs["lang"], preds)
    )
    got = {(r.lang, r.lang_pred): r.n for r in pdf.itertuples(index=False)}
    assert got == dict(want)


def test_dedup_simhash_groups_subsumed_by_hamming(spark, tmp_path):
    """The demoted equality-groups form must agree with the
    oracle-checked Hamming query's distance-0 pairs: every member of an
    equality group pairs with its keeper at hamming 0."""
    import azure_based_pii_redactor_spark.engine.operators.dedup as dd

    docs = [(i, f"unique doc number {i} with its own words {i*7}")
            for i in range(20)]
    docs += [(100, "identical twin text here"),
             (101, "identical twin text here"),
             (102, "identical twin text here")]
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite").parquet(str(tmp_path / "documents.parquet"))

    groups = dd.dedup_simhash(spark, str(tmp_path)).collect()
    assert len(groups) == 1
    assert groups[0].keeper_id == 100 and groups[0].n_docs == 3
    zero_pairs = {
        (r.doc_a, r.doc_b)
        for r in dd.dedup_simhash_hamming(spark, str(tmp_path)).collect()
        if r.hamming == 0
    }
    assert {(100, 101), (100, 102), (101, 102)} <= zero_pairs


def test_merged_pagination_legs_agree(spark):
    """The offset and keyset legs fetch the same page by construction."""
    both = _pdf(rel.window_pagination_both(spark, SF))
    off = both[both["mode"] == "offset"].drop(columns="mode")
    key = both[both["mode"] == "keyset"].drop(columns="mode")
    pd.testing.assert_frame_equal(
        off.sort_values("event_id").reset_index(drop=True),
        key.sort_values("event_id").reset_index(drop=True),
    )


def test_decontamination_flags_benchmark_leaks(spark):
    """Training docs sharing an 8-word window with the eval set are
    flagged (and only those); the eval side is broadcast and the
    training side never shuffles before the semi join."""
    import azure_based_pii_redactor_spark.engine.operators.textstats as t

    bench_q = "what is the capital of france and when was it founded"
    train = spark.createDataFrame(
        [
            (1, f"intro text {bench_q} more commentary"),     # leaked
            (2, "clean document about something else entirely okay"),
            (3, bench_q),                                      # verbatim
            (4, "what is the capital of spain and when was it founded"),
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame([(100, bench_q)], "doc_id long, text string")
    got = {r.doc_id: r.n_contaminated_windows
           for r in t.decontaminate(train, evals).collect()}
    assert set(got) == {1, 3}
    assert got[3] == 4  # 11-word eval doc -> 4 distinct 8-gram windows
    # doc 4 differs inside every 8-gram window of the eval doc
    plan = t.decontaminate(train, evals)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_agg_gated_twins_match_parts(spark):
    """The r4 exact+approx merges: the gated driver forms must agree
    column-for-column with the single-purpose public forms."""
    cd = _pdf(rel.agg_count_distinct(spark, SF)).set_index("event_type")
    cdg = _pdf(
        rel.agg_count_distinct_gated(spark, SF)
    ).set_index("event_type")
    acd = _pdf(
        rel.agg_approx_count_distinct(spark, SF)
    ).set_index("event_type")
    for col in ("n_users", "n_events"):
        pd.testing.assert_series_equal(
            cdg[col], cd[col], check_dtype=False, check_names=False
        )
    pd.testing.assert_series_equal(
        cdg["approx_ok"], acd["approx_ok"], check_names=False
    )
    assert cdg["approx_ok"].all()

    p = _pdf(rel.agg_percentiles(spark, SF)).set_index("event_type")
    pg = _pdf(rel.agg_percentiles_gated(spark, SF)).set_index("event_type")
    ap = _pdf(
        rel.agg_approx_percentiles(spark, SF)
    ).set_index("event_type")
    for col in ("p50", "p90", "p99", "n"):
        pd.testing.assert_series_equal(
            pg[col], p[col], check_dtype=False, check_names=False
        )
    for col in ("ok_p50", "ok_p90", "ok_p99"):
        pd.testing.assert_series_equal(
            pg[col], ap[col], check_names=False
        )
        assert pg[col].all()


def test_minhash_verified_pairs_are_exact(spark):
    """The r4 verified driver forms: every emitted pair's jaccard equals
    the exhaustive exact computation (the LSH layer only proposes;
    verification decides), and the estimator bound holds."""
    import azure_based_pii_redactor_spark.engine.operators.dedup as dd
    import pyspark.sql.functions as F

    got = _pdf(dd.dedup_minhash_verified(spark, SF))
    docs = dd._docs(spark, SF)
    truth = _pdf(
        dd._shingle_jaccard(dd._shingles(docs))
        .filter(F.col("raw_j") >= dd.VERIFY_THRESHOLD)
        .select("doc_a", "doc_b", F.round("raw_j", 4).alias("jaccard"))
    )
    got_pairs = got[["doc_a", "doc_b", "jaccard"]].sort_values(
        ["doc_a", "doc_b"]).reset_index(drop=True)
    truth = truth.sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_pairs, truth, check_dtype=False)
    assert got["est_err_ok"].all()


def test_verified_pairs_sit_above_banding_knee(spark):
    """Fixture gate backing the banding-honesty contract (dedup.py note):
    the verified-pairs oracle makes LSH recall a hard requirement, and
    with 8x4 banding the candidate probability is only ~0.40 at j=0.5 --
    the contract is honest only while the fixture corpus's qualifying
    pairs sit high enough that the AGGREGATE expected banding misses
    (sum over pairs of (1-j^4)^8, a union bound on the driver-failure
    probability) stay small.  Measured r5: 5.2e-4 / 2.0e-4 / 1.9e-2 at
    sf0.001/0.01/0.1.  A corpus redraw that lands borderline pairs, or
    enough knee pairs to blow the budget, must trip THIS test before it
    trips the driver.  All three driver sfs checked (not just one)."""
    import pyspark.sql.functions as F

    import azure_based_pii_redactor_spark.engine.operators.dedup as dd

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                   "/root/testdata/sf0.1"):
        truth = (
            dd._shingle_jaccard(dd._shingles(dd._docs(spark, sf_dir)))
            .filter(F.col("raw_j") >= dd.VERIFY_THRESHOLD)
            .agg(
                F.min("raw_j").alias("mn"),
                F.count("*").alias("n"),
                # the DRIVER's banding geometry, not hand-synced 4/8:
                # miss prob per pair = (1 - j^rows)^bands
                F.sum(
                    F.pow(
                        1 - F.pow("raw_j", dd.ROWS_PER_BAND), dd.BANDS
                    )
                ).alias("exp_miss"),
            )
            .collect()[0]
        )
        assert truth.n > 0, f"{sf_dir}: no qualifying pairs at all"
        assert truth.mn >= 0.8, (
            f"{sf_dir}: qualifying pair at j={truth.mn} is inside the "
            "banding knee -- regate the fixture or retune the bands"
        )
        assert truth.exp_miss <= 0.05, (
            f"{sf_dir}: expected banding misses {truth.exp_miss:.3f} "
            f"across {truth.n} qualifying pairs -- the driver would "
            "flake; regate the fixture or add bands"
        )


def test_py_ws_class_matches_str_split():
    """PY_WS_CLASS (the oracle's n_words separator class) must reproduce
    Python str.split() -- the kernel's tokenizer -- for EVERY Unicode
    whitespace character, not just RE2's ASCII \\s (ADVICE r4: a corpus
    containing \\x0B or NBSP would otherwise fail the driver hash compare
    spuriously).  Checks (a) the class covers exactly the str.isspace()
    set, (b) fuzzed count parity through DuckDB itself."""
    import random

    import duckdb

    from azure_based_pii_redactor_spark.engine.operators.textstats import (
        PY_WS_CLASS,
    )

    isspace = [chr(i) for i in range(0x110000) if chr(i).isspace()]
    con = duckdb.connect()
    # (a) exact coverage: each isspace char matches the class alone, and
    # a sample of non-space chars does not
    for ch in isspace:
        assert con.execute(
            "SELECT regexp_matches(?, ?)", [ch, f"^{PY_WS_CLASS}$"]
        ).fetchone()[0], f"missing {ch!r} ({ord(ch):#x})"
    for ch in ["a", "0", ".", "​", "﻿", "­"]:  # zero-width
        # space, BOM, soft hyphen: NOT whitespace to str.split()
        assert not con.execute(
            "SELECT regexp_matches(?, ?)", [ch, f"^{PY_WS_CLASS}$"]
        ).fetchone()[0], f"overmatch {ch!r}"
    # (b) count parity on random mixed strings
    rng = random.Random(13)
    pool = isspace + list("abcXYZ09.@-")
    for _ in range(300):
        s = "".join(
            rng.choice(pool) for _ in range(rng.randint(0, 40))
        )
        got = con.execute(
            "SELECT len(list_filter(string_split_regex(?, ?),"
            " x -> x <> ''))",
            [s, f"{PY_WS_CLASS}+"],
        ).fetchone()[0]
        assert got == len(s.split()), repr(s)


def test_oracle_rounding_rewrite():
    """The registration-time oracle rewrite: every round(expr, n) becomes
    the VARCHAR-mediated decimal form (Spark's shortest-repr HALF_UP),
    including nested calls; scale-less round() and identifiers ending in
    'round' are untouched."""
    from azure_based_pii_redactor_spark.engine.operators.oracle_rounding import (
        duck_round_like_spark as drls,
    )

    got = drls("SELECT round(sum(a), 4) FROM t")
    assert got == (
        "SELECT CAST(round(CAST(CAST((sum(a)) AS VARCHAR)"
        " AS DECIMAL(38,18)), 4) AS DOUBLE) FROM t"
    )
    nested = drls("round(round(x, 6) / y, 4)")
    assert nested.count("DECIMAL(38,18)") == 2
    assert drls("bround(x, 2)") == "bround(x, 2)"
    assert drls("round(x)") == "round(x)"

    # quote-awareness (ADVICE r4): literals containing unbalanced parens,
    # commas, escaped quotes, or the word 'round(' must be opaque to the
    # scanner -- no mis-split, no IndexError at registration
    got = drls("round(len(split(x, '(')), 2)")
    assert got == (
        "CAST(round(CAST(CAST((len(split(x, '('))) AS VARCHAR)"
        " AS DECIMAL(38,18)), 2) AS DOUBLE)"
    )
    got = drls("round(len(split(x, ',)''(')), 3)")
    assert "DECIMAL(38,18)), 3)" in got and "',)''('" in got
    assert drls("SELECT 'round(x, 2)' AS s") == "SELECT 'round(x, 2)' AS s"
    got = drls("round(strpos(x, 'a,b'), 1)")
    assert got.endswith("DECIMAL(38,18)), 1) AS DOUBLE)")
    # '--' comments are opaque: an apostrophe inside one must not flip
    # the in-literal state (which would silently skip every later
    # rewrite), and 'round(' inside one is not a call site
    got = drls("SELECT x -- the builder's filter\n , round(y, 2) FROM t")
    assert "DECIMAL(38,18)), 2)" in got and "builder's" in got
    got = drls("-- round(ignore, 9)\nSELECT round(z, 3)")
    assert got.count("DECIMAL(38,18)") == 1 and "round(ignore, 9)" in got
    # a comment INSIDE round(...) args is excised before re-embedding:
    # the generated CAST is one line, so a surviving '--' would comment
    # out the rest of it (silently dropping the rounding downstream)
    got = drls("SELECT round(x -- avg\n, 2) AS r, y FROM t")
    assert "-- avg" not in got and "DECIMAL(38,18)), 2)" in got
    got = drls("round(x, 2 -- scale\n)")
    assert got.endswith("2) AS DOUBLE)") and "--" not in got
    import duckdb as _duck

    assert _duck.connect().execute(
        drls("SELECT round(1.23456 -- c\n, 2) AS r")
    ).fetchone()[0] == 1.23
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unbalanced"):
        drls("round(x, 2")  # truly unbalanced: loud, not mis-split

    # case-insensitivity (ADVICE r5): SQL resolves ROUND( like round(,
    # so the parity rewrite must too -- an uppercase call silently
    # skipping the rewrite would reintroduce the boundary-digit flips
    got = drls("SELECT ROUND(x, 4), Round(avg(y), 2) FROM t")
    assert got.count("DECIMAL(38,18)") == 2 and "ROUND(" not in got
    assert drls("BROUND(x, 2)") == "BROUND(x, 2)"  # identifier suffix

    # the live registry: every float-rounding oracle went through it
    from azure_based_pii_redactor_spark.engine.operators import all_oracles

    rewritten = sum(
        v.count("DECIMAL(38,18)") for v in all_oracles().values()
    )
    assert rewritten >= 25


def test_oracle_rounding_matches_spark_on_boundary(spark, duck=None):
    """The observed boundary value: avg 56.208749999999995 must round to
    56.2087 on BOTH engines (plain DuckDB round says .2088)."""
    import duckdb

    import pyspark.sql.functions as F

    from azure_based_pii_redactor_spark.engine.operators.oracle_rounding import (
        duck_round_like_spark as drls,
    )

    v = 56.208749999999995
    s = spark.createDataFrame([(v,)], "x double").select(
        F.round("x", 4).alias("r")
    ).first().r
    d = duckdb.connect().execute(
        drls(f"SELECT round(CAST({v!r} AS DOUBLE), 4) AS r")
    ).fetchone()[0]
    assert s == d == 56.2087


def test_doc_features_dialect_parity_on_crlf_and_vtab(spark, tmp_path):
    """The two Java-vs-RE2 divergence classes in text features: a line
    ending '.\\r' (Java $ matches before a final \\r, RE2 does not) and
    a \\x0B separator (in Java's \\s, not RE2's).  Both engines must now
    agree -- computed on a scratch documents table through the SAME
    query + oracle pair the driver runs."""
    import duckdb

    import azure_based_pii_redactor_spark.engine.operators.textstats as t

    d = str(tmp_path / "docs")
    rows = [
        (0, "this line has five words.\r\nshort one", "en", "s", 10),
        (1, "a\x0bb plain words here now.", "en", "s", 10),
        (2, "normal line with five words.", "en", "s", 10),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
    got = (
        t.text_doc_features(spark, d)
        .select("doc_id", "n_bpe_tokens", "n_kept_lines", "cleaned_len")
        .toPandas().set_index("doc_id")
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT *"
        f" FROM '{d}/documents.parquet/*.parquet'"
    )
    from azure_based_pii_redactor_spark.engine.operators import all_oracles

    want = (
        con.execute(all_oracles()["text_doc_features"]).fetchdf()
        .set_index("doc_id")[["n_bpe_tokens", "n_kept_lines", "cleaned_len"]]
    )
    for col in want.columns:
        assert (got[col] == want[col]).all(), (col, got[col], want[col])
    # the '.\r' line is NOT kept (last char is \r, both engines)
    assert got.loc[0, "n_kept_lines"] == 0


def test_minhash_dedup_incremental(spark):
    """The day-over-day admission loop: a new batch checked against
    history with the history side never shuffling.  An exact re-fetch
    and a near-dup both link to their history doc (including a re-fetch
    under the SAME doc_id -- overlapping id spaces are in-contract);
    the novel doc links to nothing; passing the persisted band table
    gives identical links; and the band join itself is plan-pinned as
    a BroadcastHashJoin building the NEW side (on the pre-checkpoint
    candidate frame -- the public function's localCheckpoint severs
    the executed plan, so pinning its output would be vacuous)."""
    from pyspark.sql import functions as F

    import azure_based_pii_redactor_spark.engine.operators.dedup as dd

    base = ("the quick brown fox jumps over the lazy dog while rain "
            "falls on the quiet village green and children play games")
    hist_rows = [(i, f"{base} variant{i} tail{i} words{i}")
                 for i in range(10)]
    history = spark.createDataFrame(hist_rows, "doc_id long, text string")
    new_rows = [
        (100, hist_rows[3][1]),                       # exact re-fetch
        (101, f"{base} variant7 tail7 CHANGED"),      # near-dup of 7
        (102, "completely different content about ships and harbors "
              "and tides and the long journey across the cold sea"),
        (5, hist_rows[5][1]),          # re-fetch under the SAME doc_id
    ]
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    links = dd.minhash_dedup_incremental(new, history)
    got = {(r.new_id, r.hist_id): r.jaccard for r in links.collect()}
    assert (100, 3) in got and got[(100, 3)] == 1.0
    assert (101, 7) in got and got[(101, 7)] >= dd.VERIFY_THRESHOLD
    assert (5, 5) in got and got[(5, 5)] == 1.0  # same-id self-link
    assert not any(nid == 102 for nid, _ in got)

    # the persisted-band-table path (what production passes daily)
    hist_bands = dd._band_hashes(dd._signatures_for(history))
    links2 = dd.minhash_dedup_incremental(
        new, history, history_bands=hist_bands
    )
    got2 = {(r.new_id, r.hist_id): r.jaccard for r in links2.collect()}
    assert got2 == got

    # admit-only-novel composition: anti-join drops exactly the linked docs
    admitted = new.join(
        F.broadcast(links.select(F.col("new_id").alias("doc_id"))),
        "doc_id", "left_anti",
    )
    assert sorted(r.doc_id for r in admitted.collect()) == [102]

    # plan pin on the candidate stage itself: the band join is a
    # BroadcastHashJoin on (band, bucket) -- history streams unshuffled
    cand = dd._incremental_candidates(
        hist_bands, dd._band_hashes(dd._signatures_for(new))
    )
    plan = cand._jdf.queryExecution().executedPlan().toString()
    join_lines = [
        ln for ln in plan.splitlines() if "BroadcastHashJoin" in ln
    ]
    assert any("band" in ln and "bucket" in ln for ln in join_lines), plan


def test_sample_to_token_budget(spark):
    """Token-budget slicing: the kept total reaches the budget and
    overshoots by less than one bucket's tokens; selection is a pure
    function of the key (identical across input order); budget 0 keeps
    nothing; an over-corpus budget keeps everything."""
    from pyspark.sql import functions as F

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(10))) for i in range(500)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus_tokens = 500 * 10

    kept, total = ts.sample_to_token_budget(docs, 2000, n_buckets=100)
    n_kept = kept.count()
    assert total >= 2000
    # overshoot bounded by the cutoff bucket (~corpus/100 = 50 tokens
    # in expectation; allow generous slack for bucket-size variance)
    assert total - 2000 < 500
    assert n_kept == total // 10  # 10 tokens per doc
    # determinism under reshuffling
    kept2, total2 = ts.sample_to_token_budget(
        docs.orderBy(F.rand(3)).repartition(7), 2000, n_buckets=100
    )
    assert total2 == total
    assert sorted(r.doc_id for r in kept2.collect()) == sorted(
        r.doc_id for r in kept.collect()
    )
    assert ts.sample_to_token_budget(docs, 0, n_buckets=100)[0].count() == 0
    kept_all, total_all = ts.sample_to_token_budget(
        docs, 10 * corpus_tokens, n_buckets=100
    )
    assert kept_all.count() == 500 and total_all == corpus_tokens

    # tokenization dialect (ADVICE r5): budget tokens follow the
    # kernel's Python str.split() convention (PY_WS_CLASS -- full
    # Unicode whitespace), so NBSP / U+2028 / ideographic-space-joined
    # words count the same as n_words, not as one ASCII-\s token
    uni = spark.createDataFrame(
        [(1, "a b c　d e")], "doc_id long, text string"
    )
    _, uni_total = ts.sample_to_token_budget(uni, 10**6, n_buckets=10)
    assert uni_total == len("a b c　d e".split()) == 5


def test_sample_mixture(spark):
    """Per-source mixture rates: each source kept at ~its weight via the
    shared md5-bucket rule (exact per-key determinism, not approximate
    rand); unlisted sources dropped; weight 1.0 keeps every doc."""
    from pyspark.sql import functions as F

    rows = [(i, f"t{i}", f"src{i % 3}") for i in range(600)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = ts.sample_mixture(docs, {"src0": 1.0, "src1": 0.25})
    counts = {r.source: r["count"]
              for r in out.groupBy("source").count().collect()}
    assert counts["src0"] == 200            # weight 1.0: all kept
    assert "src2" not in counts             # unlisted: dropped
    assert 20 <= counts.get("src1", 0) <= 80  # ~25% of 200, hash variance
    # exact determinism: the kept src1 ids equal the md5-bucket rule at
    # MIXTURE_DENOM granularity
    expect = [r.doc_id for r in docs.filter(
        (F.col("source") == "src1")
        & (ts.md5_bucket("doc_id", ts.MIXTURE_DENOM)
           < int(0.25 * ts.MIXTURE_DENOM))
    ).collect()]
    got = [r.doc_id for r in out.filter(F.col("source") == "src1").collect()]
    assert sorted(got) == sorted(expect)
    # sub-percent weights survive quantization (percent granularity
    # would zero them out and drop the source entirely); the md5 rule
    # is deterministic for fixed ids, so the counts are exact
    big = spark.range(20_000).select(
        F.col("id").alias("doc_id"), F.lit("src1").alias("source")
    )
    tiny = ts.sample_mixture(big, {"src1": 0.004})
    expect_tiny = big.filter(
        ts.md5_bucket("doc_id", ts.MIXTURE_DENOM)
        < int(0.004 * ts.MIXTURE_DENOM)
    ).count()
    assert tiny.count() == expect_tiny
    assert 0 < expect_tiny < 200  # ~80 of 20k at 0.4%
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep fractions"):
        ts.sample_mixture(docs, {"src0": 1.5})


def test_lsh_slot_legs_match_parts(spark):
    """The r6 two-leg dedup_minhash_lsh driver slot: leg='all' is
    byte-for-byte dedup_minhash_verified; leg='incr' is the incremental
    admission check over the parity split, every cross-check flag true
    (cross-corpus re-score == global re-score), and its pair set is
    exactly the cross-parity subset of the verified pairs."""
    from pyspark.sql import functions as F

    import azure_based_pii_redactor_spark.engine.operators.dedup as dd

    merged = _pdf(dd.dedup_minhash_verified_with_incremental(spark, SF))
    all_leg = merged[merged.leg == "all"].drop(columns="leg")
    part = _pdf(dd.dedup_minhash_verified(spark, SF)).rename(
        columns={"est_err_ok": "flag_ok"}
    )
    pd.testing.assert_frame_equal(
        all_leg.reset_index(drop=True), part, check_dtype=False
    )
    incr = merged[merged.leg == "incr"]
    assert incr.flag_ok.all()
    got_pairs = {
        (min(a, b), max(a, b)) for a, b in zip(incr.doc_a, incr.doc_b)
    }
    want = {
        (a, b)
        for a, b in zip(part.doc_a, part.doc_b)
        if (a % 2) != (b % 2)
    }
    assert got_pairs == want
    # new-batch id (odd) leads in every incr row
    assert all(a % 2 == 1 and b % 2 == 0
               for a, b in zip(incr.doc_a, incr.doc_b))
    # r7 loop legs: the admission loop's batch core driven two epochs
    # deep.  Recompute both admitted sets from the verified 'all'
    # pairs (raw Jaccard >= threshold), mirroring the DuckDB oracle.
    import duckdb as _duck

    all_ids = set(
        _duck.sql(
            f"SELECT doc_id FROM '{SF}/documents.parquet'"
        ).df()["doc_id"]
    )
    pairs = list(zip(all_leg.doc_a, all_leg.doc_b))
    rej1 = {
        (a if a % 3 == 1 else b)
        for a, b in pairs
        if (a % 3) + (b % 3) == 1
    }
    adm1 = {i for i in all_ids if i % 3 == 1} - rej1
    hist2 = {i for i in all_ids if i % 3 == 0} | adm1
    rej2 = {
        (a if a % 3 == 2 else b)
        for a, b in pairs
        if ((a % 3 == 2) != (b % 3 == 2))
        and (b if a % 3 == 2 else a) in hist2
    }
    adm2 = {i for i in all_ids if i % 3 == 2} - rej2
    loop1 = merged[merged.leg == "loop1"]
    loop2 = merged[merged.leg == "loop2"]
    assert set(loop1.doc_a) == adm1 and loop1.flag_ok.all()
    assert set(loop2.doc_a) == adm2 and loop2.flag_ok.all()


def test_stratified_slot_legs_match_parts(spark):
    """The r6 three-leg sample_stratified_deterministic driver slot:
    leg='strat' equals the single-purpose stratified sampler; leg='mix'
    equals sample_mixture(MIXTURE_WEIGHTS) rolled up per language, with
    the omitted source (fr) absent and the sub-percent source kept at
    its exact md5-rule count; leg='dsir' equals the single-purpose
    dsir_lean_score -> top-k pipeline rolled up the same way."""
    from pyspark.sql import functions as F

    merged = _pdf(ts.sample_stratified_with_mixture(spark, SF))
    strat_leg = merged[merged.leg == "strat"].drop(columns="leg")
    part = _pdf(ts.sample_stratified_deterministic(spark, SF))
    pd.testing.assert_frame_equal(
        strat_leg.reset_index(drop=True), part, check_dtype=False
    )
    mix = merged[merged.leg == "mix"].set_index("lang")
    assert "fr" not in mix.index  # unlisted source dropped
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    expect = _pdf(
        ts.sample_mixture(
            docs, ts.MIXTURE_WEIGHTS, source_col="lang", key_col="doc_id"
        )
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
    ).set_index("lang")
    assert mix["n_kept"].to_dict() == expect["n_kept"].to_dict()
    # dsir leg: the selected ids are exactly the single-purpose
    # pipeline's top-k, and exactly DSIR_TOP_K docs are kept in total
    import azure_based_pii_redactor_spark.engine.operators.dsir as dsir

    dleg = merged[merged.leg == "dsir"]
    assert dleg["n_kept"].sum() == dsir.DSIR_TOP_K
    got_ids = sorted(
        int(i) for ids in dleg["kept_ids"] for i in ids.split(",")
    )
    d = docs.withColumn(
        "__t", F.col("doc_id") % dsir.DSIR_TARGET_MOD == 0
    )
    want_ids = sorted(
        r.doc_id
        for r in dsir.dsir_select_topk(
            dsir.dsir_lean_score(d, "__t", keep_cols=("lang",)),
            dsir.DSIR_TOP_K,
        ).collect()
    )
    assert got_ids == want_ids
    # no selected doc is a target doc (targets are the reference
    # distribution, never candidates)
    assert all(i % dsir.DSIR_TARGET_MOD != 0 for i in got_ids)


def test_decontaminate_bloom_superset_and_fpr(spark):
    """Bloom decontamination (the large-eval-suite scale path): NO
    false negatives -- every doc the exact semi-join flags is flagged
    with at least as many windows; false positives over-drop at a rate
    bounded near the configured fpp; the filter size is a function of
    capacity, not corpus; and the probe is k broadcast hash joins (no
    UDF, no shuffle before the per-doc rollup)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    eval_docs = docs.filter(F.col("doc_id") % ts.EVAL_MOD == 0)

    exact = {r.doc_id: r.n_contaminated_windows
             for r in ts.decontaminate(docs, eval_docs).collect()}
    bloom = {r.doc_id: r.n_flagged_windows
             for r in ts.decontaminate_bloom(docs, eval_docs).collect()}
    # superset, window-count dominance
    for d, n_exact in exact.items():
        assert bloom.get(d, 0) >= n_exact, (d, n_exact, bloom.get(d))
    # false-positive budget: extra flagged windows across the corpus
    # stay near fpp * total windows (generous 5x slack for variance)
    total_windows = (
        docs.withColumn("__words", F.split("text", " "))
        .select(F.explode(ts._word_windows(ts.WINDOW_N)).alias("w"))
        .count()
    )
    extra = sum(bloom.values()) - sum(exact.values())
    assert extra <= max(5, 5 * 1e-3 * total_windows), (
        extra, total_windows)

    # capacity sizing: m grows with items, floor 64, multiple of 64
    assert ts._bloom_m_bits(0, 1e-3) == 64
    assert ts._bloom_m_bits(1000, 1e-3) % 64 == 0
    assert ts._bloom_m_bits(2000, 1e-3) > ts._bloom_m_bits(1000, 1e-3)
    # a filter far larger than the eval set needs (fpp=1e-12) must
    # still hold the superset guarantee
    big = {r.doc_id: r.n_flagged_windows
           for r in ts.decontaminate_bloom(
               docs, eval_docs, fpp=1e-12).collect()}
    for d, n_exact in exact.items():
        assert big.get(d, 0) >= n_exact

    # plan shape of the default call: k BROADCAST hash joins, no python
    # UDF, training side unshuffled before the rollup
    plan = (
        ts.decontaminate_bloom(docs, eval_docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") == ts.BLOOM_K
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_contamination_overlap_report(spark):
    """The eval-side contamination report (r7): per benchmark doc, its
    distinct-window leak count + fraction into the training corpus --
    zero-leak and shorter-than-n docs included, so the output is the
    full report."""
    train = spark.createDataFrame(
        [
            # carries exactly eval-100's FIRST window ('a..h')
            (1, "a b c d e f g h z z z"),
            (2, "a b c d e f g h i j"),  # exact copy of eval 100
            (3, "nothing shared here at all in any window sense"),
        ],
        "doc_id long, text string",
    )
    evald = spark.createDataFrame(
        [
            (100, "a b c d e f g h i j"),   # 3 windows, all leaked
            (101, "too short for any"),      # < 8 words: 0 windows
            (102, "p q r s t u v w x y"),   # 3 windows, 0 leaked
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.n_windows, r.n_leaked, r.leak_frac)
        for r in ts.contamination_overlap(train, evald).collect()
    }
    assert rows == {
        100: (3, 3, 1.0),
        101: (0, 0, 0.0),
        102: (3, 0, 0.0),
    }
    # scale pins: the training side must reach the matched-window
    # distinct through BROADCAST semi-join only -- no sort-merge join,
    # no Python eval anywhere
    plan = (
        ts.contamination_overlap(train, evald)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_overlap_leg_matches_operator(spark):
    """The driver slot's leg='overlap' rows equal the direct
    contamination_overlap output over the same eval/train split."""
    from pyspark.sql import functions as F

    merged = _pdf(ts.text_decontaminate_with_bloom(spark, SF))
    leg = merged[merged.leg == "overlap"].set_index("doc_id")[
        "n_contaminated_windows"
    ]
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    direct = {
        r.doc_id: r.n_leaked
        for r in ts.contamination_overlap(
            docs.filter(F.col("doc_id") % ts.EVAL_MOD != 0),
            docs.filter(F.col("doc_id") % ts.EVAL_MOD == 0),
        ).collect()
    }
    assert dict(leg) == direct
    # one row per eval doc, zero-leak docs included
    n_eval = docs.filter(F.col("doc_id") % ts.EVAL_MOD == 0).count()
    assert len(leg) == n_eval


def test_pack_sequences(spark):
    """Sequence packing lays the corpus on one gapless token tape in
    md5 order and chunks it into seq_len windows: offsets recomputed
    exactly in Python, bin spans inclusive, zero-token docs addressable
    but tape-free, deterministic under repartitioning, PY_WS token
    dialect, and seq_len validation."""
    import hashlib

    from pyspark.sql import functions as F

    texts = {
        0: "a b c",                      # 3 tokens
        1: " ".join(f"t{j}" for j in range(700)),  # spans >2 bins at 256
        2: "x y z w v",                  # 5 tokens
        3: "",                           # zero tokens
        4: " ".join(f"u{j}" for j in range(512)),  # exactly 2 bins
        5: "p　q r",                 # unicode ws: 3 tokens
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    out = ts.pack_sequences(docs, 256, n_buckets=4)
    got = {r.doc_id: r for r in out.collect()}
    assert set(out.columns) == {
        "doc_id", "text", "n_tokens", "start_token", "first_bin",
        "last_bin",
    }

    # replicate the tape order host-side: (md5 bucket, 60-bit hash, id)
    def h60(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

    n_tok = {i: len(t.split()) for i, t in texts.items()}
    order = sorted(texts, key=lambda i: (h60(i) % 4, h60(i), i))
    start, expected = 0, {}
    for i in order:
        expected[i] = start
        start += n_tok[i]

    for i in texts:
        r = got[i]
        assert r.n_tokens == n_tok[i], i
        assert r.start_token == expected[i], i
        assert r.first_bin == expected[i] // 256, i
        last = (
            (expected[i] + n_tok[i] - 1) // 256
            if n_tok[i] else expected[i] // 256
        )
        assert r.last_bin == last, i
    # the long doc genuinely spans bins; the empty doc spans none
    assert got[1].last_bin > got[1].first_bin
    assert got[3].first_bin == got[3].last_bin

    # gapless tape: consecutive starts differ by exactly the doc's tokens
    tape = sorted(
        (r.start_token, r.n_tokens) for r in got.values() if r.n_tokens
    )
    for (s0, t0), (s1, _) in zip(tape, tape[1:]):
        assert s1 == s0 + t0

    # determinism across partitioning / input order
    again = {
        r.doc_id: (r.start_token, r.first_bin, r.last_bin)
        for r in ts.pack_sequences(
            docs.orderBy(F.rand(7)).repartition(5), 256, n_buckets=4
        ).collect()
    }
    assert again == {
        i: (r.start_token, r.first_bin, r.last_bin)
        for i, r in got.items()
    }

    import pytest

    with pytest.raises(ValueError):
        ts.pack_sequences(docs, 0)


def test_assemble_packed_windows(spark):
    """Window assembly materializes the packed tape exactly: every
    window but the last holds exactly seq_len tokens, concatenating the
    windows in bin order reproduces the docs concatenated in tape
    order token-for-token, bin-spanning docs contribute the precise
    slice per window, and the result is partition-order independent."""
    import hashlib

    from pyspark.sql import functions as F

    texts = {
        0: " ".join(f"a{j}" for j in range(40)),
        1: " ".join(f"b{j}" for j in range(300)),   # spans bins at 128
        2: " ".join(f"c{j}" for j in range(7)),
        3: "",                                       # no tape presence
        4: " ".join(f"d{j}" for j in range(128)),    # exactly one bin
        5: " ".join(f"e{j}" for j in range(95)),
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    packed = ts.pack_sequences(docs, 128, n_buckets=4)
    wins = {r.bin: r for r in ts.assemble_packed_windows(
        packed, 128).collect()}

    total = sum(len(t.split()) for t in texts.values())
    n_bins = (total + 127) // 128
    assert set(wins) == set(range(n_bins))
    for b in range(n_bins - 1):
        assert wins[b].n_tokens == 128, b
        assert len(wins[b].text.split()) == 128, b
    assert wins[n_bins - 1].n_tokens == total - 128 * (n_bins - 1)

    # round-trip identity: windows in bin order == docs in tape order
    def h60(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

    order = sorted(texts, key=lambda i: (h60(i) % 4, h60(i), i))
    tape = [w for i in order for w in texts[i].split()]
    rebuilt = [w for b in range(n_bins) for w in wins[b].text.split()]
    assert rebuilt == tape

    # partition-order independence
    again = {
        r.bin: r.text
        for r in ts.assemble_packed_windows(
            ts.pack_sequences(
                docs.orderBy(F.rand(11)).repartition(6), 128, n_buckets=4
            ),
            128,
        ).collect()
    }
    assert again == {b: w.text for b, w in wins.items()}

    import pytest

    with pytest.raises(ValueError):
        ts.assemble_packed_windows(packed, -1)

    # grid-consistency guard: assembling on a DIFFERENT grid than the
    # frame was packed with must fail loudly, not silently drop tokens
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    with pytest.raises(
        (SparkRuntimeException, Exception), match="does not match the grid"
    ):
        ts.assemble_packed_windows(packed, 64).collect()


def test_cross_jaccard_pair_driven_matches_exploded_reference(spark):
    """r8: ``_cross_jaccard``'s pair-driven int-encoded plan must equal
    the exploded-shingle equi-join reference bit for bit -- including
    completion of pairs with no shared shingle, zero-shingle docs,
    docs absent from a side, and same-id overlap across corpora."""
    from pyspark.sql import functions as F

    import azure_based_pii_redactor_spark.engine.operators.dedup as dd

    def reference(pairs, new_d, hist_d):
        sh_new = dd._shingles(new_d.join(
            F.broadcast(pairs.select(F.col("new_id").alias("doc_id"))
                        .distinct()), "doc_id", "left_semi"))
        sh_hist = dd._shingles(hist_d.join(
            F.broadcast(pairs.select(F.col("hist_id").alias("doc_id"))
                        .distinct()), "doc_id", "left_semi"))
        inter = (
            sh_new.alias("a")
            .join(sh_hist.alias("b"),
                  F.col("a.shingle") == F.col("b.shingle"))
            .groupBy(F.col("a.doc_id").alias("new_id"),
                     F.col("b.doc_id").alias("hist_id"))
            .agg(F.count("*").alias("i"))
        )
        sz_n = sh_new.groupBy("doc_id").agg(F.count("*").alias("sz_n"))
        sz_h = sh_hist.groupBy("doc_id").agg(F.count("*").alias("sz_h"))
        i = F.coalesce(F.col("i"), F.lit(0))
        denom = (F.coalesce(F.col("sz_n"), F.lit(0))
                 + F.coalesce(F.col("sz_h"), F.lit(0)) - i)
        return (
            pairs.join(inter, ["new_id", "hist_id"], "left")
            .join(sz_n, pairs["new_id"] == sz_n["doc_id"], "left")
            .drop(sz_n["doc_id"])
            .join(sz_h, pairs["hist_id"] == sz_h["doc_id"], "left")
            .drop(sz_h["doc_id"])
            .select("new_id", "hist_id",
                    F.when(denom == 0, F.lit(0.0)).otherwise(i / denom)
                    .alias("raw_j"))
        )

    base = ("the quick brown fox jumps over the lazy dog while rain "
            "falls on the quiet village green and children play games")
    new_d = spark.createDataFrame(
        [(1, base + " tail one"), (2, ""), (3, None), (4, "xy zz"),
         (5, base)],
        "doc_id long, text string",
    )
    hist_d = spark.createDataFrame(
        [(10, base + " tail two"), (11, ""), (13, "zz xy aa bb"),
         (5, base)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (3, 10), (4, 13), (5, 5),
         (1, 99), (99, 10)],
        "new_id long, hist_id long",
    )
    ref = {(r.new_id, r.hist_id): r.raw_j
           for r in reference(pairs, new_d, hist_d).collect()}
    got = {(r.new_id, r.hist_id): r.raw_j
           for r in dd._cross_jaccard(pairs, new_d, hist_d).collect()}
    assert got == ref
    assert got[(5, 5)] == 1.0            # same-id cross-corpus self-link
    assert got[(1, 99)] == 0.0           # absent hist doc completes to 0
    assert got[(2, 10)] == 0.0           # zero-shingle doc
    assert 0.0 < got[(1, 10)] < 1.0      # genuine near-dup score


def test_passage_removal_matches_window_rank_reference(spark):
    """r8: the hash-agg/array-rebuild remove_duplicate_passages must
    equal the r7 sort-window + word-explode formulation bit for bit --
    keeper tie-breaks (min (key, pos)), overlapping-window merges, span
    stats, carry columns, NULL-text drop, and empty/one-word docs."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from azure_based_pii_redactor_spark.engine.operators.textstats import (
        _word_windows,
        remove_duplicate_passages,
    )

    def reference(df, key, n, carry_cols=(), span_stats=False):
        group = [key, *carry_cols]
        with_words = df.withColumn("__words", F.split("text", " "))
        wins = with_words.select(
            key, F.explode(_word_windows(n, with_pos=True)).alias("g")
        ).select(key, "g.pos", "g.win")
        ranked = wins.select(
            key, "pos",
            F.count("*").over(Window.partitionBy("win")).alias("cnt"),
            F.row_number().over(
                Window.partitionBy("win").orderBy(key, "pos")
            ).alias("rn"),
        )
        rm_idx = (
            ranked.filter((F.col("cnt") >= 2) & (F.col("rn") > 1))
            .select(
                key,
                F.explode(
                    F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
                ).alias("idx"),
            )
            .distinct()
            .withColumn("__rm", F.lit(True))
        )
        words_pos = with_words.select(
            *group, F.posexplode("__words").alias("idx", "word")
        )
        kept_word = F.when(F.col("__rm").isNull(), F.col("word"))
        agg = (
            words_pos.join(rm_idx, [key, "idx"], "left")
            .groupBy(*group)
            .agg(
                F.count("*").cast("int").alias("n_words"),
                F.count(F.col("__rm")).cast("int").alias("n_removed"),
                F.array_sort(
                    F.collect_list(F.struct("idx", kept_word.alias("word")))
                ).alias("__arr"),
            )
        )
        from azure_based_pii_redactor_spark.engine.operators.textstats import (
            _marked_array_tail,
        )

        return _marked_array_tail(agg, group, "n_words", " ", span_stats)

    shared = ("alpha beta gamma delta epsilon zeta eta theta "
              "iota kappa lambda mu")
    rows = [
        ("a", shared + " unique-a tail words here now", "en"),
        ("b", shared + " unique-b other tail words", "en"),
        ("c", "totally different text with no overlap at all "
              "beyond seven words", "de"),
        ("d", shared + " " + shared, "en"),     # within-doc repeat
        ("e", None, "en"),                      # NULL text: dropped
        ("f", "", "en"),
        ("g", "one", "en"),
        ("h", shared, "en"),                    # exact window subset
    ]
    df = spark.createDataFrame(rows, "k string, text string, lang string")
    for span in (False, True):
        ref = reference(df, "k", 8, ("lang",), span).orderBy("k").toPandas()
        got = remove_duplicate_passages(
            df, "k", n=8, carry_cols=("lang",), span_stats=span
        ).orderBy("k").toPandas()
        assert got.equals(ref), (span, ref, got)
    assert "e" not in set(
        remove_duplicate_passages(df, "k", n=8).toPandas()["k"]
    )


def test_word_windows_zip_chain_matches_slice_reference(spark):
    """r8: the zip_with-chain window builder must equal the old
    per-position slice + concat_ws form on every doc shape (short docs,
    exact-width docs, empty/blank, multi-space artifacts) for several
    widths including n=1."""
    from pyspark.sql import functions as F

    from azure_based_pii_redactor_spark.engine.operators.textstats import (
        _word_windows,
    )

    def reference(n, with_pos):
        if with_pos:
            body = (f"(w, i) -> struct(i AS pos,"
                    f" concat_ws(' ', slice(__words, i + 1, {n})) AS win)")
        else:
            body = f"(w, i) -> concat_ws(' ', slice(__words, i + 1, {n}))"
        return F.expr(
            f"transform(slice(__words, 1,"
            f" greatest(size(__words) - {n - 1}, 0)), {body})"
        )

    rows = [
        ("a", "one two three four five six seven eight nine ten"),
        ("b", "one two three four five six seven eight"),  # exactly n=8
        ("c", "short doc"),
        ("d", ""),
        ("e", "x"),
        ("f", "a  b   c d e f g h i"),  # multi-space split artifacts
    ]
    df = spark.createDataFrame(rows, "k string, text string").withColumn(
        "__words", F.split("text", " ")
    )
    for n in (1, 2, 3, 8):
        for with_pos in (False, True):
            bad = df.select(
                F.when(
                    _word_windows(n, with_pos) == reference(n, with_pos),
                    0,
                ).otherwise(1).alias("bad")
            ).agg(F.sum("bad")).collect()[0][0]
            assert bad == 0, (n, with_pos)

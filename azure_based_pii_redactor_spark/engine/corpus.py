"""End-to-end training-corpus builder: the whole recipe in one call.

``build_training_corpus`` composes the individually-tested stages in the
order a production data pipeline runs them -- each stage is optional so
callers can reproduce any subset:

1. url-level dedup (canonical key, newest fetch wins) -- cheapest first:
   every later stage's cost scales with surviving rows;
2. fused quality filter + PII scrub (langid -> perplexity -> Gopher/C4
   -> detect -> redact), keep-only;
3. cross-document duplicated-passage REMOVAL (ExactSubstr-style) over
   the scrubbed text;
4. benchmark DECONTAMINATION against an eval set (broadcast semi-join,
   drop contaminated docs);
5. deterministic stratified downsampling (hash of url -- reproducible
   across retries/resumes).

Returns ``(corpus, report)``: the final DataFrame (url, warc_ts, lang,
lang_pred, text) and a small driver-side dict of per-stage row counts --
the funnel numbers every pipeline run must log.

Report mode follows ONE rule: every stage after ``input`` is
``localCheckpoint()``ed once and counted from that checkpoint, so the
next stage, the count and the caller's write all read the materialized
stage instead of re-running the plan behind it (the Python scrub kernel
included).  That costs one ``count()`` per enabled stage, in stage
order.  ``report_counts=False`` builds the plan lazily with no count
jobs -- the production form, whose funnel comes from the lineage and
metrics tables the checkpoint sink writes.  Construction is not fully
job-free: with url dedup AND passage removal both on (the defaults),
building passage removal's lazy window checkpoint over url dedup's
exchange runs that shuffle stage under AQE -- 1 job at construction
(0 with either stage off).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .pipeline import run_scrub_pipeline


def build_training_corpus(
    pages: DataFrame,
    eval_docs: DataFrame | None = None,
    dedup_urls: bool = True,
    remove_boilerplate: int | None = None,
    remove_dup_passages: bool = True,
    sample_pct: int | None = None,
    passage_n: int | None = None,
    report_counts: bool = True,
    quality_filter: bool = True,
    blocklist: DataFrame | None = None,
    honor_noindex: bool = False,
    max_per_domain: int | None = None,
    token_budget: int | None = None,
    **pipeline_kwargs,
) -> tuple[DataFrame, dict]:
    """See module docstring.  ``quality_filter=False`` runs the scrub
    stage in keep-all mode (every row scrubbed, none dropped by the
    langid / perplexity / heuristic gates) -- the recipe for corpora
    whose quality decisions are evaluated separately, and the form the
    driver-checked funnel query uses so every stage count is
    recomputable by the DuckDB oracle (the keep decision itself is
    gated by the flagship pipeline entry instead).  The report stage is
    named ``after_scrub`` in that mode, ``after_quality_filter``
    otherwise.

    ``passage_n`` defaults to ``textstats.WINDOW_N`` -- the ONE window
    knob the driver oracles interpolate; a hand-coded 8 here would
    desynchronize the funnel from its oracle the moment the knob turns.

    Optional stages (all off by default): ``blocklist`` (DataFrame with
    a ``domain`` column) applies ``urls.filter_blocklisted_domains``
    right after url dedup -- the cheapest gate in the whole funnel (url
    only, no text touched) so it runs before anything that reads
    payloads; ``max_per_domain`` applies
    ``urls.cap_per_domain`` right after url dedup (cheapest placement:
    every later stage's cost scales with surviving rows, and capping
    before the scrub saves the kernel on the truncated mega-hosts);
    ``honor_noindex=True`` drops pages whose html carries a robots
    ``noindex`` meta (``urls.filter_noindex`` -- crawl compliance: the
    page itself opted out) right after the blocklist, while the html
    column is still in flight and before any text work;
    ``remove_boilerplate`` (an int = the ``min_docs`` threshold)
    applies ``textstats.remove_boilerplate_lines`` to the scrubbed text
    right BEFORE passage removal -- CCNet-order: shared nav/footer
    lines would otherwise inflate duplicated-passage detection with
    template hits; docs reduced to nothing are dropped
    (``after_line_dedup``); ``token_budget`` applies
    ``textstats.sample_to_token_budget`` as the FINAL stage (a token
    budget only means something over the text
    that actually ships), reporting the kept token total as
    ``kept_tokens`` (a side-channel report key like
    ``scrub_changed_docs``, not a stage).  Note: the budget's bucket-sum
    pass is one eager job even with ``report_counts=False`` -- picking
    the cutoff bucket requires it; lazy mode adds no count job for any
    other stage (construction itself runs 1 job when url dedup and
    passage removal are both on -- module docstring).
    """
    from .operators.textstats import WINDOW_N

    if passage_n is None:
        passage_n = WINDOW_N
    carry = ("warc_ts", "lang", "lang_pred")
    report: dict = {}

    def _stage(name: str, df: DataFrame) -> DataFrame:
        # the one report-mode rule (module docstring); the checkpoint is
        # lazy, so the count's own job materializes it
        if report_counts:
            df = df.localCheckpoint(eager=False)
            report[name] = df.count()
        return df

    def _as_text(cleaned: DataFrame) -> DataFrame:
        # shared tail of the line- and passage-removal cores: back to the
        # corpus shape; docs reduced to nothing are dropped
        return cleaned.select(
            "url", *carry, F.col("cleaned_text").alias("text")
        ).filter(F.length("text") > 0)

    if report_counts:
        report["input"] = pages.count()

    if dedup_urls:
        from .operators.urls import dedup_pages_by_url

        pages = _stage(
            "after_url_dedup", dedup_pages_by_url(pages).drop("canonical_url")
        )

    if blocklist is not None:
        from .operators.urls import filter_blocklisted_domains

        pages = _stage(
            "after_blocklist", filter_blocklisted_domains(pages, blocklist)
        )

    if honor_noindex:
        from .operators.urls import filter_noindex

        pages = _stage("after_noindex", filter_noindex(pages))

    if max_per_domain is not None:
        from .operators.urls import cap_per_domain

        pages = _stage(
            "after_domain_cap", cap_per_domain(pages, max_per_domain)
        )

    if not quality_filter:
        pipeline_kwargs.setdefault("scrub_all", True)
    scrubbed = run_scrub_pipeline(pages, **pipeline_kwargs)
    if quality_filter:
        scrubbed = scrubbed.filter(F.col("keep"))
    kept = _stage(
        "after_quality_filter" if quality_filter else "after_scrub",
        scrubbed.select(
            "url", *carry, F.col("scrubbed_text").alias("text"), "n_entities"
        ),
    )
    if report_counts and not quality_filter:
        # evidence for oracles that recompute downstream stages over the
        # RAW text: how many docs the scrub changed.  0 == the corpus is
        # pattern-bank-clean, so raw-text recomputation is exact.
        # Keep-all mode ONLY: under quality_filter the frame holds kept
        # docs alone, so the count would not mean "docs the scrub
        # changed".  A side-channel key, not a funnel stage;
        # pipeline_corpus_builder pops it before enumerating stages.
        report["scrub_changed_docs"] = kept.filter(
            F.col("n_entities") > 0
        ).count()
    kept = kept.drop("n_entities")

    if remove_boilerplate is not None:
        # the SAME no-keeper line-removal core as the oracle-checked
        # lines leg, over the scrubbed text
        from .operators.textstats import remove_boilerplate_lines

        kept = _stage("after_line_dedup", _as_text(remove_boilerplate_lines(
            kept, "url", min_docs=remove_boilerplate, carry_cols=carry,
        )))

    if remove_dup_passages:
        # the SAME keyed removal core the oracle-checked driver query
        # uses, applied with url as the document key over the SCRUBBED
        # text
        from .operators.textstats import remove_duplicate_passages

        kept = _stage("after_passage_removal", _as_text(
            remove_duplicate_passages(
                kept, "url", n=passage_n, carry_cols=carry
            )
        ))

    if eval_docs is not None:
        from .operators.textstats import decontaminate

        contaminated = decontaminate(
            kept, eval_docs, n=passage_n, text_col="text", id_col="url"
        ).select("url")
        kept = _stage(
            "after_decontamination",
            kept.join(F.broadcast(contaminated), "url", "left_anti"),
        )

    if sample_pct is not None:
        from .operators.textstats import md5_bucket100

        kept = _stage(
            "after_sampling",
            kept.filter(md5_bucket100("url") < sample_pct),
        )

    if token_budget is not None:
        from .operators.textstats import sample_to_token_budget

        kept, kept_tokens = sample_to_token_budget(
            kept, token_budget, key_col="url"
        )
        kept = _stage("after_token_budget", kept)
        # always reported: the total was already computed by the one
        # eager job the budget op inherently pays -- discarding it in
        # lazy mode would force callers to re-aggregate for it (the
        # zero-extra-jobs guarantee concerns the funnel STAGE counts)
        report["kept_tokens"] = kept_tokens

    return kept, report


def admit_batch(
    new_docs: DataFrame,
    history_docs: DataFrame,
    history_bands: DataFrame | None = None,
    threshold: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One call of the day-over-day crawl-admission loop (VERDICT r5
    #7): near-dup-check ``new_docs`` (doc_id, text) against the history
    corpus and return ``(admitted_docs, admitted_bands)`` --

    - ``admitted_docs``: the rows of ``new_docs`` that link to NO
      history document at ``threshold`` (exact cross-corpus shingle
      Jaccard over banded MinHash candidates,
      ``dedup.minhash_dedup_incremental``);
    - ``admitted_bands``: the (doc_id, band, bucket) LSH band-table
      rows of exactly those admitted docs -- the increment a production
      pipeline APPENDS to its persisted band store, so tomorrow's call
      passes the store as ``history_bands`` and history is NEVER
      re-shingled.  The batch's band table is computed ONCE
      (materialized, fed to both the candidate join and this
      increment via an anti-join on the rejected ids -- the batch is
      never shingled twice); the caller appends admitted_docs to the
      history text store the same way.

    Scale shape: the new batch's bands broadcast against the history
    band table (history streams unshuffled off its scan); history TEXTS
    are read only for the candidate ids the re-score needs.  With
    ``history_bands=None`` the band table is derived from
    ``history_docs`` (self-contained form -- re-shingles history every
    call; fine for tests, wrong for 10^12 docs).

    Intra-batch duplicates are the caller's stage (url/exact dedup or
    ``dedup_minhash_verified_clusters`` BEFORE admission, as
    ``build_training_corpus`` orders them): two copies arriving in one
    batch both pass the against-history check by design.

    Compose with ``build_training_corpus`` by running the admitted
    frame through it (the funnel's own stages operate intra-corpus)::

        admitted, bands = admit_batch(day_n, history, history_bands=hb)
        corpus, report = build_training_corpus(as_pages(admitted), ...)
        # then append `bands` to the band store and `admitted` to the
        # history text store
    """
    from .operators.dedup import (
        VERIFY_THRESHOLD,
        _band_hashes,
        _signatures_for,
        minhash_dedup_incremental,
    )

    if threshold is None:
        threshold = VERIFY_THRESHOLD
    # the batch's band table, computed ONCE: localCheckpoint because it
    # feeds both the candidate join inside the incremental check and
    # the admitted-band increment below (bounded: BANDS rows per batch
    # doc) -- recomputing it from text would shingle the batch twice
    new_bands = _band_hashes(
        _signatures_for(new_docs.select("doc_id", "text"))
    ).localCheckpoint()
    links = minhash_dedup_incremental(
        new_docs, history_docs, threshold, history_bands,
        new_bands=new_bands, ordered=False,
        # only the DISTINCT rejected ids are consumed below -- the
        # public form's global sort would pay a range-exchange sampling
        # pass over the whole re-score for nothing
    )
    dup_ids = (
        links.select(F.col("new_id").alias("doc_id"))
        .distinct()
        .localCheckpoint()
    )  # tiny (rejected ids); consumed by BOTH anti-joins below -- the
    # exact re-score (incl. the history-text scan) would otherwise
    # re-execute once per consumer action (review r6)
    admitted = new_docs.join(F.broadcast(dup_ids), "doc_id", "left_anti")
    admitted_bands = new_bands.join(
        F.broadcast(dup_ids), "doc_id", "left_anti"
    )
    return admitted, admitted_bands

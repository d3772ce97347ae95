"""Regenerate PLANS.md: formatted physical plans for the headline
operators with the scale-critical features called out.  The same
properties are ASSERTED in tests/test_plans.py; this artifact makes
them reviewable without running Spark.

Usage: python scripts/dump_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

# (title, what-to-look-for, builder)
def _entries():
    from azure_based_pii_redactor_spark.engine.operators import (
        dedup, relational, similarity, textstats,
    )
    from azure_based_pii_redactor_spark.engine.pipeline import (
        documents_as_pages, run_scrub_pipeline,
    )

    def pipeline(spark):
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        return run_scrub_pipeline(documents_as_pages(docs))

    return [
        ("Fused scrub pipeline (flagship)",
         "ONE narrow mapInPandas stage, no Exchange anywhere: the kernel "
         "is embarrassingly parallel; its input is exactly url, warc_ts, "
         "html, text, lang -- html crosses into Python once and "
         "extract_text decodes it there.",
         pipeline),
        ("agg_tpch_q1",
         "HashAggregate appears TWICE around one Exchange (map-side "
         "partial combine); the date filter is in PushedFilters; "
         "WholeStageCodegen spans the scan->partial-agg pipeline.",
         lambda s: relational.agg_tpch_q1(s, SF)),
        ("join_rows_history",
         "BroadcastHashJoin (customer dim broadcast), no SortMergeJoin, "
         "no shuffle of the orders side before the join.",
         lambda s: relational.join_rows_history(s, SF)),
        ("window_pagination_keyset (primary W3 form)",
         "The literal cursor becomes a pushed-down parquet range "
         "predicate (PushedFilters non-empty) and the page is a "
         "TakeOrderedAndProject -- no global sort, no offset skip.",
         lambda s: relational.window_pagination_keyset(s, SF)),
        ("join_range_bucketed",
         "The pure range join runs as an EQUI join on the bucket key "
         "(no BroadcastNestedLoopJoin/CartesianProduct) with the exact "
         "interval predicate as a post-join filter.",
         lambda s: relational.join_range_bucketed(s, SF)),
        ("dedup_ngram_jaccard",
         "The shingle self-join sits BEHIND a broadcast LEFT ANTI join "
         "(the DF_MAX stop-shingle guard) -- one hot shingle cannot "
         "explode the join.",
         lambda s: dedup.dedup_ngram_jaccard(s, SF)),
        ("dedup_simhash_hamming",
         "Candidates come from an equi join on (table, key) over "
         "DISTINCT simhash values; no all-pairs product anywhere.",
         lambda s: dedup.dedup_simhash_hamming(s, SF)),
        ("embedding_cosine_neardup",
         "Banded-LSH bucket equality generates candidates (equi join); "
         "the exact re-score is a filter after two hash joins -- no "
         "CartesianProduct.",
         lambda s: similarity.embedding_cosine_neardup(s, SF)),
        ("text_dedup_passage_removal",
         "Window rank over window text, removal spans exploded to word "
         "indexes, exclusion as LEFT ANTI join co-partitioned on "
         "doc_id; no nested-loop join.",
         lambda s: textstats.text_dedup_passage_removal(s, SF)),
        ("text_decontaminate",
         "Eval windows are DISTINCT'd then BROADCAST into a LEFT SEMI "
         "join; the training side explodes windows in its scan "
         "projection and reaches the semi join UNSHUFFLED (its only "
         "exchange is the per-doc count ABOVE the join, sized by "
         "contaminated rows) -- the asymmetry (small authoritative "
         "eval set vs 10^12 training docs) is the plan.",
         lambda s: textstats.text_decontaminate(s, SF)),
    ]


def main() -> None:
    from azure_based_pii_redactor_spark.engine.session import build_session

    spark = build_session(app_name="dump_plans", master="local[4]",
                          shuffle_partitions=4)
    out = [
        "# PLANS — formatted physical plans of the headline operators\n",
        "Generated by `python scripts/dump_plans.py` at sf0.001; the",
        "properties called out per plan are pinned by tests/test_plans.py.",
        "AQE is enabled, so exchanges may carry `AQEShuffleRead` wrappers",
        "at runtime; the shapes below are the initial physical plans.\n",
    ]
    import contextlib
    import io

    for title, look_for, build in _entries():
        df = build(spark)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        out.append(f"## {title}\n")
        out.append(f"**Look for:** {look_for}\n")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(_entries())} plans)")
    spark.stop()


if __name__ == "__main__":
    main()

"""The fused quality-filter + PII-scrub pipeline stage.

One ``mapInPandas`` stage runs extract -> langid -> perplexity ->
heuristics -> detect -> scrub per Arrow batch (single Python exchange per
batch, SURVEY.md section 4 item 3 -- chaining separate pandas UDFs would
pay one JVM<->Python round-trip per stage).  Everything upstream and
downstream (filters, projections, aggregations, writes) stays JVM-side.

Extraction has one path: the html column crosses the JVM->Python
boundary once, as-is, and ``extract_text`` decodes it in the kernel --
the same function the single-process oracle calls, so Spark and the
oracle agree on the extracted text per url by construction.  Scoring
has one path too: langid and perplexity score the whole Arrow batch with
the scorers the oracle's ``decide(text)`` calls on a batch of one, so
``lang_score`` and ``ppl`` agree bit for bit.

Scale design:
- narrow stage: no shuffle; input split sizing via
  ``spark.sql.files.maxPartitionBytes`` (session.py) keeps Arrow batches
  uniform.
- the expensive kernel runs AFTER any cheap relational filters the caller
  applies (UDFs are pushdown barriers; callers filter first).
- scrubbing runs only on kept docs by default (``scrub_all=False``) --
  dropped docs carry null scrubbed_text; at a 25-30% drop rate this saves
  the regex bank on a quarter of 10^12 docs.
- training feedback is a broadcast variable (small table, J5 broadcast
  nested-loop semantics -- detector.go:319-389).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ..kernel.column_config import ColumnConfig
from ..kernel.redact import RedactOptions
from ..kernel.scrub import scrub_text, scrub_text_advanced
from ..quality.decide import ALLOWED_LANGS, MAX_PERPLEXITY, MIN_LANG_SCORE, decide
from ..quality.langid import predict_language_batch
from ..quality.perplexity import perplexity_batch
from .schema import SCRUB_OUTPUT_SCHEMA

_WRAP_PREFIX = b"<html><body>"
_WRAP_SUFFIX = b"</body></html>"


def extract_text(html: bytes | None) -> str | None:
    """Recover the extracted text from the html payload.

    Fast path: strip the canonical wrapper (byte-identical round-trip --
    the per-row invariant from BASELINE.json input_hint).  Fallback for
    arbitrary crawled html: a real html.parser extraction
    (script/style subtrees dropped, entities decoded, block boundaries
    as newlines -- a bare tag-strip would leak JS/CSS into the training
    text).
    """
    if html is None:
        return None
    if html.startswith(_WRAP_PREFIX) and html.endswith(_WRAP_SUFFIX):
        # tolerant decode: one malformed Common-Crawl payload must not
        # kill the task; invalid bytes become U+FFFD and the byte-identity
        # flag (extracted_ok) records the mismatch downstream
        return html[len(_WRAP_PREFIX) : -len(_WRAP_SUFFIX)].decode(
            "utf-8", errors="replace")
    from .html_text import html_to_text

    return html_to_text(html.decode("utf-8", errors="replace"))


def _scrub_batch(
    pdf: pd.DataFrame,
    options: RedactOptions,
    feedback: Sequence[dict],
    allowed_langs: frozenset[str],
    min_lang_score: float,
    max_perplexity: float,
    scrub_all: bool,
    column_config: "ColumnConfig | None" = None,
    gpt_validator=None,
    external_detector=None,
) -> pd.DataFrame:
    n = len(pdf)
    out: dict[str, list] = {
        "url": pdf["url"].tolist(),
        "warc_ts": pdf["warc_ts"].tolist(),
        "lang": pdf["lang"].tolist(),
        "lang_pred": [None] * n,
        "lang_score": [0.0] * n,
        "ppl": [0.0] * n,
        "keep": [False] * n,
        "drop_reason": [None] * n,
        "n_words": [0] * n,
        "extracted_ok": [False] * n,
        "entities": [None] * n,
        "n_entities": [0] * n,
        "scrubbed_text": [None] * n,
    }
    texts = pdf["text"].tolist()
    extracted_all: list[str] = [""] * n
    for i, html in enumerate(pdf["html"].tolist()):
        extracted = extract_text(html)
        if extracted is None:
            # No html payload: nothing to extract, fall back to the text
            # column; the invariant is vacuously satisfied.
            extracted = texts[i] or ""
            out["extracted_ok"][i] = True
        else:
            out["extracted_ok"][i] = extracted == (texts[i] or "")
        extracted_all[i] = extracted
    # language ID and perplexity for the whole Arrow batch in one
    # vectorized pass each (single numpy pipeline instead of per-doc
    # calls)
    langs = predict_language_batch(extracted_all)
    ppls = perplexity_batch(extracted_all)
    for i in range(n):
        extracted = extracted_all[i]
        d = decide(
            extracted,
            allowed_langs=allowed_langs,
            min_lang_score=min_lang_score,
            max_perplexity=max_perplexity,
            lang=langs[i],
            ppl=ppls[i],
        )
        out["lang_pred"][i] = d.lang_pred
        out["lang_score"][i] = d.lang_score
        out["ppl"][i] = d.ppl
        out["keep"][i] = d.keep
        out["drop_reason"][i] = d.drop_reason
        out["n_words"][i] = int(d.metrics["n_words"])
        if d.keep or scrub_all:
            if column_config is None and gpt_validator is None \
                    and external_detector is None:
                r = scrub_text(extracted, options, feedback_history=feedback)
            else:
                # advanced path: column filtering + external stages +
                # confidence-adjusted entities (detector.go:138-191)
                r = scrub_text_advanced(
                    extracted, options, feedback_history=feedback,
                    column_config=column_config,
                    gpt_validator=gpt_validator,
                    external_detector=external_detector,
                )
            out["scrubbed_text"][i] = r.scrubbed_text
            out["n_entities"][i] = len(r.entities)
            out["entities"][i] = [e._asdict() for e in r.entities]
    return pd.DataFrame(out)


def run_scrub_pipeline(
    pages: DataFrame,
    options: RedactOptions = RedactOptions(),
    feedback: Sequence[dict] = (),
    allowed_langs: frozenset[str] = ALLOWED_LANGS,
    min_lang_score: float = MIN_LANG_SCORE,
    max_perplexity: float = MAX_PERPLEXITY,
    scrub_all: bool = False,
    column_config: ColumnConfig | None = None,
    gpt_validator=None,
    external_detector=None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> SCRUB_OUTPUT_SCHEMA rows.

    Passing ``column_config`` / ``gpt_validator`` / ``external_detector``
    switches the scrub to the reference's advanced path
    (``DetectWithColumn``): filtered, externally validated (fail-open),
    confidence-adjusted entities.  Callables must be picklable."""
    spark = pages.sparkSession
    bc_feedback = spark.sparkContext.broadcast(list(feedback))

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fb = bc_feedback.value
        for pdf in batches:
            if len(pdf):
                yield _scrub_batch(
                    pdf, options, fb, allowed_langs,
                    min_lang_score, max_perplexity, scrub_all,
                    column_config, gpt_validator, external_detector,
                )

    return pages.select("url", "warc_ts", "html", "text", "lang").mapInPandas(
        fused, schema=SCRUB_OUTPUT_SCHEMA)


def documents_as_pages(documents: DataFrame) -> DataFrame:
    """Adapt the driver's ``documents`` testdata table (doc_id, text, lang,
    source, n_chars) to the pages shape so the same pipeline runs on it."""
    from pyspark.sql import functions as F

    return documents.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def build_session(*args, **kwargs) -> SparkSession:  # convenience re-export
    from .session import build_session as _b

    return _b(*args, **kwargs)

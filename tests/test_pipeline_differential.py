"""Oracle-differential test (SURVEY.md section 5 item 1; the BASELINE.json
correctness gate): the Spark pipeline must agree with the single-process
pure-Python oracle byte-for-byte on scrubbed_text per url, bit for bit on
lang_score and ppl, and exactly on keep/drop labels (F1 == 1.0 here, gate
is >= 0.99)."""

import pandas as pd
import numpy as np

from azure_based_pii_redactor_spark.engine.pipeline import (
    documents_as_pages,
    extract_text,
    run_scrub_pipeline,
)
from azure_based_pii_redactor_spark.engine.schema import PAGES_SCHEMA
from azure_based_pii_redactor_spark.kernel.redact import RedactOptions
from azure_based_pii_redactor_spark.kernel.scrub import scrub_text
from azure_based_pii_redactor_spark.quality.decide import decide
from azure_based_pii_redactor_spark.sources.pages import (
    generate_batch,
    generate_pages,
)

N = 400
FEEDBACK = [
    {"entity_text": "placeholder value", "entity_type": "custom_trained",
     "user_decision": "correct"},
]


def oracle_rows(pdf: pd.DataFrame, feedback=()) -> pd.DataFrame:
    """Single-process oracle: extract_text -> decide -> scrub_text."""
    rows = []
    for r in pdf.itertuples(index=False):
        text = extract_text(r.html)
        ok = text is None or text == (r.text or "")
        if text is None:  # NULL html: the text column stands in
            text = r.text or ""
        d = decide(text)
        scrubbed = None
        n_entities = 0
        if d.keep:
            s = scrub_text(text, feedback_history=list(feedback))
            scrubbed = s.scrubbed_text
            n_entities = len(s.entities)
        rows.append((r.url, ok, d.keep, d.drop_reason, d.lang_pred,
                     d.lang_score, d.ppl, scrubbed, n_entities))
    df = pd.DataFrame(rows, columns=[
        "url", "extracted_ok", "keep", "drop_reason", "lang_pred",
        "lang_score", "ppl", "scrubbed_text",
        "n_entities"]).sort_values("url").reset_index(drop=True)
    return df.astype({"n_entities": "int32"})  # Spark IntegerType


def oracle_frame(seed: int, n: int, feedback=()) -> pd.DataFrame:
    """Single-process oracle over the same generated rows."""
    return oracle_rows(generate_batch(np.arange(n), seed), feedback)


def spark_frame(spark, seed: int, n: int, feedback=(), parts=8) -> pd.DataFrame:
    pages = generate_pages(spark, n, seed=seed, parts=parts)
    return scrubbed_frame(run_scrub_pipeline(pages, feedback=list(feedback)))


def scrubbed_frame(out) -> pd.DataFrame:
    return (
        out.select("url", "extracted_ok", "keep", "drop_reason", "lang_pred",
                   "lang_score", "ppl", "scrubbed_text", "n_entities")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )


def test_generator_partitioning_invariance(spark):
    a = generate_pages(spark, 120, seed=7, parts=2).toPandas().sort_values("url")
    b = generate_pages(spark, 120, seed=7, parts=8).toPandas().sort_values("url")
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))


def test_differential_byte_identical(spark):
    want = oracle_frame(42, N, FEEDBACK)
    got = spark_frame(spark, 42, N, FEEDBACK)
    # lang_score and ppl bit-exact: the oracle and the kernel share scorers
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    # explicit gate statements
    assert (got["keep"] == want["keep"]).all()  # F1 == 1.0
    kept = want["keep"]
    assert (got.loc[kept, "scrubbed_text"] == want.loc[kept, "scrubbed_text"]).all()
    assert got["extracted_ok"].all()  # byte-identical extraction per url


def _wrap(body: bytes) -> bytes:
    return b"<html><body>" + body + b"</body></html>"


def test_edge_rows_match_oracle(spark):
    """Hand-built pages the generator never emits (it writes only the
    canonical wrapper around the text column) go through Spark's kernel
    and through the single-process extract_text -> decide -> scrub_text
    with the same outcome per url."""
    gen = generate_batch(np.arange(8), 42)
    kept_a, kept_b = gen.text[3], gen.text[7]  # both pass decide()
    sentences = [s.strip() + "." for s in kept_a.split(".") if s.strip()]
    markup = (
        "<!DOCTYPE html><html><head><title>t</title>"
        "<style>p { color: red }</style>"
        "<script>var x = '<p>not text</p>';</script></head><body>"
        + "".join(f"<p>{s}</p>" for s in sentences)
        + "</body></html>"
    ).encode("utf-8")
    rows = [
        ("u01_wrap_eq", _wrap(kept_a.encode()), kept_a),
        ("u02_wrap_ne", _wrap(kept_b.encode()), kept_a),
        ("u03_wrap_latin1", _wrap(b"caf\xe9 " + kept_a.encode()), kept_a),
        ("u04_wrap_surrogate", _wrap(b"\xed\xa0\x80 " + kept_b.encode()),
         kept_b),
        ("u05_wrap_empty", _wrap(b""), ""),
        ("u06_markup", markup, kept_a),
        ("u07_html_empty", b"", kept_b),
        ("u08_null_html", None, kept_b),
        ("u09_null_both", None, None),
    ]
    pdf = pd.DataFrame(
        [(u, None, h, t, "en") for u, h, t in rows],
        columns=["url", "warc_ts", "html", "text", "lang"],
    )
    want = oracle_rows(pdf, FEEDBACK)
    # the set covers both extraction outcomes and the kept/scrub path
    assert want["keep"].sum() >= 4
    assert not want["extracted_ok"].all()
    pages = spark.createDataFrame(
        [tuple(r) for r in pdf.itertuples(index=False)], PAGES_SCHEMA
    ).repartition(3)
    got = scrubbed_frame(run_scrub_pipeline(pages, feedback=FEEDBACK))
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_pipeline_partitioning_invariance(spark):
    a = spark_frame(spark, 11, 150, parts=3)
    b = spark_frame(spark, 11, 150, parts=8)
    pd.testing.assert_frame_equal(a, b)


def test_entities_schema_roundtrip(spark):
    pages = generate_pages(spark, 200, seed=42)
    out = run_scrub_pipeline(pages)
    row = (out.filter("n_entities > 0")
              .select("entities").limit(1).collect())[0]
    e = row["entities"][0]
    assert set(e.asDict()) == {"type", "text", "start", "end",
                               "confidence", "category"}
    assert e["end"] > e["start"] >= 0


def test_scrub_all_flag(spark):
    pages = generate_pages(spark, 100, seed=5)
    out = run_scrub_pipeline(pages, scrub_all=True)
    assert out.filter("scrubbed_text IS NULL").count() == 0


def test_documents_adapter(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = documents_as_pages(docs)
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    out = run_scrub_pipeline(pages.limit(50))
    assert out.count() == 50


def test_redact_options_flow_through(spark):
    pages = generate_pages(spark, 150, seed=42)
    out = run_scrub_pipeline(
        pages, options=RedactOptions(redaction_mode="mask",
                                     custom_labels={"url": "<URL>"})
    )
    texts = [r.scrubbed_text for r in
             out.filter("keep AND n_entities > 0").collect()]
    assert texts, "expected some kept docs with entities"
    joined = "\n".join(texts)
    assert "[EMAIL]" not in joined  # custom default labels still apply

"""Property-based sanity for the round-2 kernels (pure Python/numpy --
no Spark session; fast under hypothesis)."""

import numpy as np
from hypothesis import given, settings, strategies as st


@settings(max_examples=200, deadline=None)
@given(
    base=st.integers(min_value=0, max_value=(1 << 60) - 1),
    flip_bits=st.lists(
        st.integers(min_value=0, max_value=59), max_size=3, unique=True
    ),
    k=st.integers(min_value=1, max_value=4),
)
def test_simhash_pigeonhole_block_cover(base, flip_bits, k):
    """The exactness guarantee dedup_simhash_hamming's candidate join
    relies on, mirrored over the IMPLEMENTED scheme (Manku et al. 2007):
    the SIMHASH_BITS-bit value splits into 2k blocks with the same width
    math as the query, and any pair within Hamming distance k leaves at
    least one k-SUBSET of blocks completely clean -- i.e. the pair
    collides in the table keyed by that subset."""
    from itertools import combinations

    from azure_based_pii_redactor_spark.engine.operators.dedup import (
        SIMHASH_BITS,
    )

    flips = flip_bits[:k]  # at most k flipped bits
    other = base
    for b in flips:
        other ^= 1 << b

    n_blocks = 2 * k
    widths = [
        SIMHASH_BITS // n_blocks + (1 if i < SIMHASH_BITS % n_blocks else 0)
        for i in range(n_blocks)
    ]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]

    def block(v, i):
        return (v >> offsets[i]) & ((1 << widths[i]) - 1)

    clean = [i for i in range(n_blocks)
             if block(base, i) == block(other, i)]
    assert any(
        set(combo) <= set(clean)
        for combo in combinations(range(n_blocks), k)
    ), (flips, clean)


@settings(max_examples=50, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_bmp_roundtrip_property(h, w, seed):
    from azure_based_pii_redactor_spark.engine.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    rng = np.random.Generator(np.random.PCG64(seed))
    px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    assert (decode_bmp(encode_bmp(px)) == px).all()


@settings(max_examples=50, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=500),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_wav_roundtrip_property(n, rate, seed):
    from azure_based_pii_redactor_spark.engine.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    rng = np.random.Generator(np.random.PCG64(seed))
    samples = rng.integers(-32768, 32768, n).astype(np.int16)
    back, r = decode_wav(encode_wav(samples, rate))
    assert r == rate and (back == samples).all()


@settings(max_examples=200, deadline=None)
@given(t=st.floats(min_value=-1.0, max_value=1.0))
def test_band_params_well_formed(t):
    """No crash across the threshold range; geometry within plan-friendly
    caps; tighter thresholds never need wider bands."""
    from azure_based_pii_redactor_spark.engine.operators.similarity import (
        _band_params,
    )

    bits, n_bands = _band_params(t)
    assert 2 <= bits <= 32
    assert 1 <= n_bands <= 64


@settings(max_examples=100, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab éñ雪"),
            min_size=0, max_size=120,
        ),
        min_size=1, max_size=8,
    )
)
def test_langid_batch_always_matches_per_doc(texts):
    """On arbitrary (incl. degenerate) unicode inputs a doc's langid does
    not depend on its batch (exact), and the score is the string-trigram
    softmax to float noise, with the same language."""
    from tests.test_quality import langid_reference

    from azure_based_pii_redactor_spark.quality.langid import (
        predict_language,
        predict_language_batch,
    )

    batch = predict_language_batch(texts)
    for t, (lang, score) in zip(texts, batch):
        assert (lang, score) == predict_language(t)
        ref_lang, ref_score = langid_reference(t)
        assert lang == ref_lang
        assert abs(score - ref_score) < 1e-9


@settings(max_examples=300, deadline=None)
@given(text=st.text(
    st.one_of(st.characters(), st.characters(categories=["Cs"]))
))
def test_langid_trigram_rows_match_string_trigrams_property(text):
    """The table-gather trigram rows equal the string-trigram ``_INDEX``
    rows on text from every plane (astral letters, emoji and lone
    surrogates included)."""
    from tests.test_quality import langid_reference_rows

    from azure_based_pii_redactor_spark.quality.langid import _trigram_rows

    ref = langid_reference_rows(text)
    got = _trigram_rows(text)
    if ref is None:
        assert got is None
    else:
        assert got is not None and list(got) == ref


@settings(max_examples=100, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet=st.sampled_from("abcd"), min_size=1, max_size=3),
        min_size=0, max_size=40,
    )
)
def test_ngram_cascade_matches_uncascaded(words):
    """The uniqueness-cascade n-gram fractions equal the brute
    formulation on arbitrary word lists."""
    from collections import Counter

    from azure_based_pii_redactor_spark.quality.heuristics import (
        _ngram_char_fractions,
    )

    text_len = len(" ".join(words))
    got = _ngram_char_fractions(words, text_len)
    for n in (2, 3, 4):
        if len(words) < n:
            assert got[f"top_{n}gram_char_frac"] == 0.0
            continue
        grams = Counter(zip(*(words[i:] for i in range(n))))
        # max by (count, chars, gram): among count ties the gram with
        # the largest char coverage decides (the conservative Gopher
        # reading; insertion-order most_common(1) understated it)
        g, c = max(
            grams.items(),
            key=lambda kv: (kv[1], sum(len(w) for w in kv[0]), kv[0]),
        )
        want = (c * sum(len(w) for w in g)) / text_len \
            if c > 1 and text_len else 0.0
        assert got[f"top_{n}gram_char_frac"] == want, (n, words)
    for n in range(5, 11):
        if len(words) < n:
            assert got[f"dup_{n}gram_char_frac"] == 0.0
            continue
        counts = Counter(zip(*(words[i:] for i in range(n))))
        want = sum(
            (c - 1) * sum(len(w) for w in g)
            for g, c in counts.items() if c > 1
        ) / text_len if text_len else 0.0
        assert got[f"dup_{n}gram_char_frac"] == want, (n, words)


@settings(max_examples=100, deadline=None)
@given(
    text=st.text(
        alphabet=st.sampled_from("the quick brown fox zxq'"),
        max_size=200,
    )
)
def test_perplexity_vectorized_equals_scalar_property(text):
    from azure_based_pii_redactor_spark.quality.perplexity import (
        perplexity,
        perplexity_scalar,
    )

    a, b = perplexity(text), perplexity_scalar(text)
    assert abs(a - b) <= 1e-9 * max(abs(b), 1.0)


@settings(max_examples=100, deadline=None)
@given(
    present=st.lists(st.booleans(), min_size=1, max_size=12),
    with_r=st.booleans(),
)
def test_xlsx_row_gap_property(present, with_r):
    """For any pattern of present/absent rows, parse_xlsx must return a
    DENSE row list (excelize GetRows parity): absent rows appear as empty
    cell lists, present rows keep their 1-based r-derived index.  Without
    r attributes the rows pack densely from 0."""
    from tests.test_tabular import _make_xlsx

    from azure_based_pii_redactor_spark.sources.tabular import parse_xlsx

    rows_xml = []
    for idx, is_present in enumerate(present):
        if not is_present:
            continue
        r = f' r="{idx + 1}"' if with_r else ""
        cref = f' r="A{idx + 1}"' if with_r else ""
        rows_xml.append(
            f'<row{r}><c{cref} t="inlineStr"><is><t>v{idx}</t></is></c></row>'
        )
    if not rows_xml:
        return  # a sheet with no <row> elements yields no rows; trivial
    got = parse_xlsx(_make_xlsx([("S", "".join(rows_xml))]))
    if with_r:
        last = max(i for i, p in enumerate(present) if p)
        want = [
            ("S", i, [f"v{i}"] if present[i] else [])
            for i in range(last + 1)
        ]
    else:  # no r attrs: rows pack densely in document order
        vals = [i for i, p in enumerate(present) if p]
        want = [("S", j, [f"v{i}"]) for j, i in enumerate(vals)]
    assert got == want


@settings(max_examples=200, deadline=None)
@given(
    text=st.text(
        alphabet=st.sampled_from(
            "the be to of and that have with fuck shit a-b.\n "
        ),
        max_size=300,
    )
)
def test_stopword_single_pass_matches_per_word(text):
    """The single-findall stopword counter and the toxicity fast path
    equal the per-word multi-scan formulation on arbitrary text."""
    from azure_based_pii_redactor_spark.quality.heuristics import (
        _STOPWORD_RES,
        _TOXICITY_RES,
        gopher_c4_metrics,
    )

    lower = text.lower()
    m = gopher_c4_metrics(text)
    assert m["stopword_hits"] == float(
        sum(1 for rx in _STOPWORD_RES if rx.search(lower))
    )
    assert m["toxicity_hits"] == float(
        sum(1 for rx in _TOXICITY_RES if rx.search(lower))
    )


def test_rounding_parity_three_engines(spark):
    """The r4 oracle-rounding contract: Spark round(double, 4), the
    rewritten DuckDB form, and the Python shortest-repr HALF_UP
    reference agree on 4000 seeded random doubles plus the observed
    boundary values.  Guards the cross-engine rewrite against engine
    upgrades changing rounding semantics."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb
    import pyspark.sql.functions as F

    from azure_based_pii_redactor_spark.engine.operators.oracle_rounding import (
        duck_round_like_spark as drls,
    )

    rng = random.Random(99)
    vals = (
        [rng.uniform(-1e6, 1e6) for _ in range(2000)]
        + [rng.random() for _ in range(2000)]
        + [56.208749999999995, 46.996249999999996, 3147.6899999999996]
    )
    want = [
        float(
            Decimal(repr(v)).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP
            )
        )
        for v in vals
    ]
    duck = duckdb.connect().execute(
        "SELECT list_transform($1::DOUBLE[], x -> "
        + drls("round(x, 4)")
        + ")",
        [vals],
    ).fetchone()[0]
    assert duck == want
    got_spark = [
        r.r
        for r in spark.createDataFrame([(v,) for v in vals], "x double")
        .select(F.round("x", 4).alias("r"))
        .collect()
    ]
    assert got_spark == want


def test_word_windows_sql_parity_random_texts(spark):
    """word_windows_sql (the oracle-side window definition) must
    segment identically to _word_windows (the Spark-side one) on
    random texts incl. edge shapes (short docs, repeated words, empty
    string, multiple spaces)."""
    import random

    import duckdb
    import pyspark.sql.functions as F

    from azure_based_pii_redactor_spark.engine.operators.textstats import (
        _word_windows,
        word_windows_sql,
    )

    rng = random.Random(4242)
    vocab = ["alpha", "beta", "gamma", "x", "yy", "z9"]
    texts = [""] + ["one two"] + [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30)))
        for _ in range(200)
    ] + ["a  b   c " * 4]  # runs of spaces + trailing space
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).withColumn("__words", F.split("text", " "))
    got = {
        r.doc_id: list(r.wins)
        for r in df.select(
            "doc_id", _word_windows(8).alias("wins")
        ).collect()
    }
    con = duckdb.connect()
    want_rows = con.execute(
        "SELECT i, "
        f"[w for w in {word_windows_sql(8)}] FROM "
        "(SELECT unnest(range(len($1))) AS i, "
        " string_split(unnest($1), ' ') AS ws)",
        [texts],
    ).fetchall()
    want = {i: list(w) for i, w in want_rows}
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from([f"w{i}" for i in range(12)]),
            min_size=0, max_size=20,
        ),
        min_size=1, max_size=8,
    ),
    st.integers(min_value=0, max_value=6),
)
def test_bloom_decontaminate_never_misses_property(spark, docs, n_eval):
    """Property (review-grade guarantee): for ARBITRARY small corpora --
    including empty docs, docs shorter than the window, and an empty
    eval set -- every doc the exact semi-join flags is bloom-flagged
    with >= as many windows (bloom filters cannot produce false
    negatives).  The tiny 12-word vocabulary forces heavy window
    collisions, the regime where a probe/build hash inconsistency
    would surface immediately."""
    from azure_based_pii_redactor_spark.engine.operators import (
        textstats as t,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    eval_docs = d.filter(f"doc_id < {n_eval}")
    exact = {r.doc_id: r.n_contaminated_windows
             for r in t.decontaminate(d, eval_docs, n=3).collect()}
    bloom = {r.doc_id: r.n_flagged_windows
             for r in t.decontaminate_bloom(d, eval_docs, n=3).collect()}
    for doc, ne in exact.items():
        assert bloom.get(doc, 0) >= ne, (doc, ne, bloom.get(doc))

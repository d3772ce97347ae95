"""Quality-filter kernel tests: langid, perplexity, Gopher/C4 rules,
keep/drop decision (north-star stages; SURVEY.md section 7 item 2)."""

from azure_based_pii_redactor_spark.quality import (
    decide,
    first_failing_rule,
    gopher_c4_metrics,
    perplexity,
    predict_language,
)
from azure_based_pii_redactor_spark.quality.corpora import CORPORA
from azure_based_pii_redactor_spark.quality.heuristics import RULE_NAMES

GOOD_EN = " ".join(CORPORA["en"][:8])


# -- langid -------------------------------------------------------------------

def test_langid_predicts_each_language():
    held_out = {
        "en": "The committee met near the old bridge and discussed summer plans with the children.",
        "es": "Los niños jugaban cerca del puente viejo mientras el comité discutía los planes.",
        "de": "Die Kinder spielten in der Nähe der alten Brücke, während der Ausschuss die Pläne besprach.",
        "fr": "Les enfants jouaient près du vieux pont pendant que le comité discutait des projets.",
        "zh": "孩子们在旧桥附近玩耍，委员会讨论夏天的旅行计划。",
    }
    for truth, text in held_out.items():
        lang, score = predict_language(text)
        assert lang == truth, (truth, lang)
        assert score > 0.9


def test_langid_short_text_unk():
    assert predict_language("hi") == ("unk", 0.0)
    assert predict_language("") == ("unk", 0.0)


def test_langid_deterministic():
    t = GOOD_EN
    assert predict_language(t) == predict_language(t)


# -- perplexity ----------------------------------------------------------------

def test_perplexity_separates_fluent_from_gibberish():
    fluent = perplexity(
        "The children walked to the market in the morning and the weather was warm."
    )
    gib = perplexity("qzx wvj kqp zzj xqw vkz pqj wxz jqk zvw " * 5)
    assert fluent < 500
    assert gib > 9_000
    assert fluent < gib / 10


def test_perplexity_empty_is_worst_case():
    assert perplexity("") > 1_000


def test_perplexity_batch_matches_per_doc():
    """``perplexity`` is the batch of one, and a document's value does not
    depend on the batch it lands in (each doc is its own reduceat
    segment): batch-of-many equals batch-of-one exactly, and both sit at
    float noise from the scalar reference formulation."""
    from azure_based_pii_redactor_spark.quality.perplexity import (
        perplexity_batch,
        perplexity_scalar,
    )

    texts = [
        "The children walked to the market in the morning.",
        "",
        "qzx wvj kqp zzj xqw vkz pqj wxz jqk zvw " * 5,
        "the and of to be that with have " * 20,
        "   ",
        "one",
    ]
    batch = perplexity_batch(texts)
    for t, b in zip(texts, batch):
        assert b == perplexity_batch([t])[0] == perplexity(t), t[:30]
        ref = perplexity_scalar(t)
        assert abs(b - ref) <= 1e-9 * max(ref, 1.0), (t[:30], b, ref)


# -- heuristics -----------------------------------------------------------------

def test_rule_order_pinned():
    # drop_reason labels are part of the oracle contract.
    assert RULE_NAMES == (
        "gopher_word_count", "gopher_mean_word_length", "gopher_symbol_ratio",
        "gopher_bullet_lines", "gopher_ellipsis_lines", "gopher_alpha_words",
        "gopher_stopwords", "repetition_dup_lines", "repetition_dup_line_chars",
        "repetition_dup_paragraphs", "repetition_dup_paragraph_chars",
        "repetition_top_2gram", "repetition_top_3gram", "repetition_top_4gram",
        "repetition_dup_5gram", "repetition_dup_6gram", "repetition_dup_7gram",
        "repetition_dup_8gram", "repetition_dup_9gram", "repetition_dup_10gram",
        "c4_lorem_ipsum", "c4_curly_brace", "c4_min_sentences", "c4_toxicity",
    )


def test_good_doc_passes_all_rules():
    assert first_failing_rule(gopher_c4_metrics(GOOD_EN)) is None


def test_word_count_bounds():
    assert first_failing_rule(gopher_c4_metrics("few words here.")) == "gopher_word_count"


def test_symbol_ratio():
    m = gopher_c4_metrics(GOOD_EN + " " + "# " * 40)
    assert first_failing_rule(m) == "gopher_symbol_ratio"


def test_bullet_and_ellipsis_lines():
    bullets = "\n".join("- item number " + str(i) for i in range(60)) + "\nplain."
    m = gopher_c4_metrics(bullets)
    assert m["bullet_line_frac"] > 0.9
    dots = "\n".join(f"line {i} trails off..." for i in range(10))
    assert gopher_c4_metrics(dots)["ellipsis_line_frac"] == 1.0


def test_alpha_word_frac_and_stopwords():
    nums = " ".join(str(i) for i in range(80))
    m = gopher_c4_metrics(nums)
    assert m["alpha_word_frac"] == 0.0
    assert m["stopword_hits"] == 0


def test_dup_lines():
    rep = GOOD_EN + "\n" + ("An exactly repeated line here.\n" * 30)
    m = gopher_c4_metrics(rep)
    assert m["dup_line_frac"] > 0.3
    assert first_failing_rule(m) == "repetition_dup_lines"


def test_dup_paragraphs():
    # 5 copies of a single-line paragraph among 5 unique MULTI-line
    # paragraphs: paragraph dup fraction 0.4 while line dup fraction
    # stays under the line threshold -- isolates the paragraph rule.
    rep_para = "A paragraph that repeats itself in the document body."
    uniq_paras = [
        "\n".join(f"unique paragraph {p} line {i} of the body text"
                  for i in range(10))
        for p in range(5)
    ]
    doc = GOOD_EN + "\n\n" + "\n\n".join(uniq_paras + [rep_para] * 5)
    m = gopher_c4_metrics(doc)
    assert m["dup_para_frac"] > 0.3
    assert m["dup_line_frac"] <= 0.3
    assert first_failing_rule(m) == "repetition_dup_paragraphs"


def test_top_ngram_repetition():
    rep = GOOD_EN + " " + ("winter storm " * 60)
    m = gopher_c4_metrics(rep)
    assert m["top_2gram_char_frac"] > 0.2


def test_c4_rules():
    assert first_failing_rule(gopher_c4_metrics(GOOD_EN + " { code }")) == "c4_curly_brace"
    assert first_failing_rule(
        gopher_c4_metrics(GOOD_EN + " lorem ipsum dolor")) == "c4_lorem_ipsum"
    one_sentence = ("word " * 60).strip() + " the of and."  # stopwords, 1 sentence
    m = gopher_c4_metrics(one_sentence)
    assert m["n_sentences"] < 3
    assert first_failing_rule(gopher_c4_metrics(GOOD_EN + " fuck")) == "c4_toxicity"


# -- decide ----------------------------------------------------------------------

def test_decide_keep():
    d = decide(GOOD_EN)
    assert d.keep and d.drop_reason is None
    assert d.lang_pred == "en" and d.lang_score > 0.9
    assert d.ppl < 500


def test_decide_language_gate_first():
    es = " ".join(CORPORA["es"][:10])
    assert decide(es).drop_reason == "langid_lang"
    assert decide(es, allowed_langs=frozenset({"en", "es"})).drop_reason == "perplexity"


def test_decide_deterministic():
    for text in [GOOD_EN, "", "short", " ".join(CORPORA["de"][:5])]:
        assert decide(text) == decide(text)


# -- regression: max-effort review findings ------------------------------------

def test_stopwords_count_across_newlines_and_punct():
    m = gopher_c4_metrics("word the\nword of,\nword and.\n")
    assert m["stopword_hits"] == 3


def test_toxicity_word_boundaries_no_scunthorpe():
    clean = GOOD_EN + " Matsushita mishit the ball."
    assert gopher_c4_metrics(clean)["toxicity_hits"] == 0
    assert gopher_c4_metrics(GOOD_EN + " what a shit day")["toxicity_hits"] == 1


def test_empty_doc_is_true_worst_perplexity():
    from azure_based_pii_redactor_spark.quality.perplexity import (
        WORST_PERPLEXITY,
    )

    gib = perplexity("zxq qzk jxw vkq " * 20)
    assert perplexity("") == WORST_PERPLEXITY
    # all-OOV gibberish sits at the same ceiling (up to float ulp)
    assert abs(gib - WORST_PERPLEXITY) / WORST_PERPLEXITY < 1e-9


def test_cjk_gate_uses_document_head():
    head_en = " ".join(CORPORA["en"]) * 2  # > 1000 chars of English
    tail_zh = "中文" * 2000
    lang, _ = predict_language(head_en[:1200] + tail_zh)
    assert lang == "en"  # head decides, tail ignored


def test_langid_romance_discrimination():
    held = {
        "it": "I bambini giocavano vicino al vecchio ponte mentre il comitato discuteva i piani per l'estate.",
        "pt": "As crianças brincavam perto da ponte velha enquanto o comitê discutia os planos para o verão.",
        "es": "Los niños jugaban cerca del puente viejo mientras el comité discutía los planes para el verano.",
        "fr": "Les enfants jouaient près du vieux pont pendant que le comité discutait des projets pour l'été.",
    }
    for truth, text in held.items():
        lang, score = predict_language(text)
        assert lang == truth, (truth, lang)
        assert score > 0.9


def test_langid_code_switched_confusion_matrix():
    """Confusion matrix over code-switched documents at the decision
    threshold: for every ordered language pair (dominant, minority) a
    3:1 sentence mix must either predict the DOMINANT language or land
    under MIN_LANG_SCORE (uncertain -> dropped by decide()).  A
    confident prediction of the minority language is the real-world
    failure this pins down."""
    from azure_based_pii_redactor_spark.quality.decide import MIN_LANG_SCORE

    held = {
        "en": ["The committee met near the old bridge to discuss plans.",
               "A quiet road follows the river past the northern farms.",
               "Students finished their essays before the winter break."],
        "es": ["Los niños jugaban cerca del puente viejo por la tarde.",
               "Un camino tranquilo sigue el río hasta las granjas.",
               "Los estudiantes terminaron sus ensayos antes del invierno."],
        "de": ["Die Kinder spielten am Nachmittag in der Nähe der Brücke.",
               "Ein ruhiger Weg folgt dem Fluss zu den nördlichen Höfen.",
               "Die Studenten beendeten ihre Aufsätze vor dem Winter."],
        "fr": ["Les enfants jouaient près du vieux pont l'après-midi.",
               "Un chemin tranquille longe la rivière vers les fermes.",
               "Les étudiants ont terminé leurs essais avant l'hiver."],
        "it": ["I bambini giocavano vicino al vecchio ponte nel pomeriggio.",
               "Una strada tranquilla segue il fiume verso le fattorie.",
               "Gli studenti hanno finito i loro saggi prima dell'inverno."],
        "pt": ["As crianças brincavam perto da ponte velha à tarde.",
               "Um caminho tranquilo segue o rio até as fazendas do norte.",
               "Os estudantes terminaram seus ensaios antes do inverno."],
        "zh": ["孩子们下午在旧桥附近玩耍，天气很好。",
               "一条安静的小路沿着河流通向北方的农场。",
               "学生们在冬天之前完成了他们的文章。"],
    }
    confident_wrong = []
    correct = 0
    total = 0
    for dom, dom_sents in held.items():
        for minor, minor_sents in held.items():
            if dom == minor:
                continue
            text = " ".join(dom_sents) + " " + minor_sents[0]
            lang, score = predict_language(text)
            total += 1
            if lang == dom:
                correct += 1
            elif score >= MIN_LANG_SCORE:
                confident_wrong.append((dom, minor, lang, round(score, 3)))
    assert not confident_wrong, confident_wrong
    assert correct / total >= 0.85, (correct, total)


def test_perplexity_vectorized_matches_scalar():
    """The vectorized scorer is pinned to the scalar reference
    formulation: same decisions, relative difference at float noise."""
    from azure_based_pii_redactor_spark.quality.perplexity import (
        perplexity,
        perplexity_scalar,
    )

    docs = [
        GOOD_EN,
        "",
        "zxq qqq jjj kkw pp zz",
        "the committee met near the old bridge and discussed plans",
        "word " * 500,
        "completely unseen tokens frobnicate zanzibar quux",
    ]
    for t in docs:
        a, b = perplexity(t), perplexity_scalar(t)
        assert abs(a - b) <= 1e-9 * max(abs(b), 1.0), (t[:40], a, b)


def langid_reference_rows(text):
    """Matrix rows of ``text``'s trigrams by the string-trigram reference
    (``_trigrams`` + ``_INDEX``); None when too short to score."""
    from azure_based_pii_redactor_spark.quality import langid as L

    grams = L._trigrams(text)
    if len(grams) < L.MIN_TRIGRAMS:
        return None
    return [L._INDEX.get(tg, 0) for tg in grams]


def langid_reference(text):
    """``(lang, score)`` by the string-trigram dict formulation: softmax
    over per-language sums of ``_TABLE`` rows (``_FLOORS`` for unknown
    trigrams), in plain Python."""
    import math

    from azure_based_pii_redactor_spark.quality import langid as L

    if L.cjk_fraction(text) > 0.3:
        return "zh", 1.0
    grams = L._trigrams(text)
    if len(grams) < L.MIN_TRIGRAMS:
        return "unk", 0.0
    vecs = [L._TABLE.get(tg, L._FLOORS) for tg in grams]
    sums = [sum(v[i] for v in vecs) for i in range(len(L.LANGUAGES))]
    best = max(range(len(L.LANGUAGES)), key=sums.__getitem__)
    z = sum(math.exp(x - sums[best]) for x in sums)
    return L.LANGUAGES[best], 1.0 / z


def test_langid_int_key_matches_string_trigrams():
    """The table-gather trigram rows reproduce the string-trigram dict
    formulation exactly (same rows summed in the same order)."""
    from azure_based_pii_redactor_spark.quality import langid as L

    texts = [
        "The committee met near the old bridge to discuss summer plans.",
        "Les enfants jouaient près du vieux pont pendant l'été.",
        "Die Kinder spielten in der Nähe der alten Brücke im Sommer.",
        "Los niños jugaban cerca del puente viejo en el verano.",
    ]
    for t in texts:
        assert list(L._trigram_rows(t)) == langid_reference_rows(t)


def test_langid_batch_matches_per_doc():
    """``predict_language`` is the batch of one and a doc's score does not
    depend on its batch (exact); the score is the string-trigram softmax
    to float noise, with the same label."""
    from azure_based_pii_redactor_spark.quality.langid import (
        predict_language,
        predict_language_batch,
    )

    texts = [
        "The committee met near the old bridge to discuss summer plans.",
        "hi",  # unk: too short
        "孩子们在旧桥附近玩耍，委员会讨论夏天的旅行计划。",  # zh gate
        "Les enfants jouaient près du vieux pont pendant l'été.",
        "",
        "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 astral letters 😀 and emoji in a page " * 3,
        "\ud800 the committee met near the old bridge \udfff",  # lone
    ]
    batch = predict_language_batch(texts)
    for t, (lang, score) in zip(texts, batch):
        assert (lang, score) == predict_language_batch([t])[0]
        assert (lang, score) == predict_language(t)
        ref_lang, ref_score = langid_reference(t)
        assert lang == ref_lang
        assert abs(score - ref_score) < 1e-9


def test_langid_dense_fast_path_matches_sparse_rows():
    """The dense symbol-trigram table (``_trigram_rows``) must reproduce
    the string-trigram rows exactly on every input class: plain ASCII,
    accents inside the dense alphabet, kept chars OUTSIDE it (CJK,
    macron, fullwidth), astral-plane letters (kept, sparse lookup) and
    emoji (stripped), lone surrogates (a python ``str`` can hold them),
    digits/underscores (normalized to spaces), whitespace runs, and
    too-short docs."""
    from azure_based_pii_redactor_spark.quality import langid as L

    texts = [
        "",
        " \t\n",
        "ab",  # too short
        "The committee met near the old bridge to discuss summer plans.",
        "Les enfants jouaient près du vieux pont pendant l'été.",
        "Die Kinder spielten in der Nähe der alten Brücke im Sommer.",
        "a_b_c 123 456 --- mixed    runs\tand\nnewlines everywhere okay",
        "mixed 中文 with some english text padding words here " * 3,
        "ō" * 30 + " macron beyond latin-1 but BMP kept chars " * 2,
        "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 astral-plane letters take the sparse lookup " * 2,
        "emoji 😀🎉 between words are stripped like punctuation 𠀀 " * 2,
        "\uffff sits at the top of the plane İstanbul " * 2,
        "ＡＢＣ ｆｕｌｌｗｉｄｔｈ ｌｅｔｔｅｒｓ " * 4,
        "\ud800 lone surrogates \udfff in a python str \ud83d\ude00 " * 2,
        "x" * 2000,  # beyond LANGID_MAX_CHARS
    ]
    for t in texts:
        ref = langid_reference_rows(t)
        got = L._trigram_rows(t)
        if ref is None:
            assert got is None, repr(t[:40])
        else:
            assert got is not None and list(got) == ref, repr(t[:40])


def test_gopher_metrics_fast_paths_match_reference_formulations():
    """r8: the set()-probed dup fractions, complement alpha count, and
    str.count sentence tally must equal the reference Counter/findall
    formulations on dup-free docs, dup-heavy docs, and edge shapes."""
    import re
    from collections import Counter

    from azure_based_pii_redactor_spark.quality import heuristics as H

    sent_re = re.compile("[.!?。!?]")  # original class, ASCII dups kept

    def reference(text):
        words = text.split()
        n_words = len(words)
        text_len = len(text)
        lines = [ln for ln in text.split("\n") if ln.strip()]
        n_lines = len(lines)
        lc = Counter(lines)
        paras = [p for p in text.split("\n\n") if p.strip()]
        n_paras = len(paras)
        pc = Counter(paras)
        return {
            "alpha_word_frac": (
                len(H._ALPHA_WORD.findall(text)) / n_words
                if n_words else 0.0
            ),
            "dup_line_frac": (
                sum(c - 1 for c in lc.values() if c > 1) / n_lines
                if n_lines else 0.0
            ),
            "dup_line_char_frac": (
                sum((c - 1) * len(x) for x, c in lc.items() if c > 1)
                / text_len if text_len else 0.0
            ),
            "dup_para_frac": (
                sum(c - 1 for c in pc.values() if c > 1) / n_paras
                if n_paras else 0.0
            ),
            "dup_para_char_frac": (
                sum((c - 1) * len(x) for x, c in pc.items() if c > 1)
                / text_len if text_len else 0.0
            ),
            "n_sentences": float(len(sent_re.findall(text))),
        }

    docs = [
        "",
        "plain clean prose with several distinct lines.\nsecond line!",
        "dup\ndup\ndup\nunique",
        "para\n\npara\n\nother",
        "123 456 --- ,,, alpha mix 9to5 _x_",
        "ends... with ellipsis? yes! 。中文句子！？",
        "x\n\nx\n\nx\ny\ny",
        "a. b! c? d。 e！ f？",
        ("the quick brown fox jumps over the lazy dog and more words "
         "to pass gates. " * 3),
    ]
    for text in docs:
        got = H.gopher_c4_metrics(text)
        for k, v in reference(text).items():
            assert abs(got[k] - v) < 1e-12, (k, text[:40], got[k], v)

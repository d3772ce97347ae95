"""Keep/drop decision: langid -> perplexity -> heuristics, fixed order.

The decision order is part of the oracle contract (drop_reason labels are
compared at F1 >= 0.99 -- BASELINE.json): language gate first, then fluency
(perplexity), then the Gopher/C4 heuristic chain in heuristics.RULES order.
"""

from __future__ import annotations

from typing import NamedTuple

from .heuristics import first_failing_rule, gopher_c4_metrics
from .langid import predict_language
from .perplexity import perplexity

ALLOWED_LANGS: frozenset[str] = frozenset({"en"})
MIN_LANG_SCORE = 0.60
MAX_PERPLEXITY = 9_000.0


class QualityDecision(NamedTuple):
    keep: bool
    drop_reason: str | None
    lang_pred: str
    lang_score: float
    ppl: float
    metrics: dict[str, float]


def decide(
    text: str,
    allowed_langs: frozenset[str] = ALLOWED_LANGS,
    min_lang_score: float = MIN_LANG_SCORE,
    max_perplexity: float = MAX_PERPLEXITY,
    lang: "tuple[str, float] | None" = None,
    ppl: "float | None" = None,
) -> QualityDecision:
    """``lang`` / ``ppl`` may carry precomputed values -- the Arrow-batch
    kernel scores whole batches via ``predict_language_batch`` /
    ``perplexity_batch`` and passes each result through here, so the
    decision logic has exactly one home.  Without them the text is scored
    as a batch of one by the same scorers, so the single-process oracle
    and the kernel agree bit for bit on ``lang_score`` and ``ppl``."""
    lang_pred, lang_score = lang if lang is not None else predict_language(text)
    if ppl is None:
        ppl = perplexity(text)

    # Gate order is fixed; the (expensive) heuristic metrics are computed
    # lazily -- docs dropped by the language/fluency gates only need the
    # cheap word count for the output schema.
    if lang_pred not in allowed_langs:
        return QualityDecision(False, "langid_lang", lang_pred, lang_score,
                               ppl, {"n_words": float(len(text.split()))})
    if lang_score < min_lang_score:
        return QualityDecision(False, "langid_score", lang_pred, lang_score,
                               ppl, {"n_words": float(len(text.split()))})
    if ppl > max_perplexity:
        return QualityDecision(False, "perplexity", lang_pred, lang_score,
                               ppl, {"n_words": float(len(text.split()))})
    metrics = gopher_c4_metrics(text)
    reason = first_failing_rule(metrics)
    if reason is not None:
        return QualityDecision(False, reason, lang_pred, lang_score, ppl, metrics)
    return QualityDecision(True, None, lang_pred, lang_score, ppl, metrics)

"""Deterministic quality-filter kernels (north-star additions).

Language-ID (char n-gram model), n-gram perplexity (interpolated
Kneser-Ney bigram LM -- the smoothing KenLM estimates), and Gopher/C4-style
heuristic rules.  All model artifacts are
generated deterministically from seed corpora embedded in this package --
no external model files, no network (BASELINE.json: no external data).

Pure Python + numpy; no Spark imports (same dual use as kernel/: executed
inside vectorized pandas UDFs and as the pytest oracle).  Each model has
one scorer, the Arrow-batch form (``predict_language_batch``,
``perplexity_batch``); ``predict_language`` and ``perplexity`` score a
batch of one, so the oracle and the kernel compute the same values.
"""

from .langid import predict_language
from .perplexity import perplexity
from .heuristics import gopher_c4_metrics, first_failing_rule
from .decide import QualityDecision, decide

__all__ = [
    "QualityDecision",
    "decide",
    "first_failing_rule",
    "gopher_c4_metrics",
    "perplexity",
    "predict_language",
]

"""KenLM-style bigram perplexity: interpolated Kneser-Ney smoothing
(the same scheme KenLM estimates), trained deterministically.

p(w | v) = max(c(v,w) - D, 0) / ctx(v)  +  D * N1+(v,*) / ctx(v) * p_cont(w)
p_cont(w) = N1+(*,w) / |bigram types|         (continuation probability)
D = n1 / (n1 + 2 * n2)                        (Ney absolute-discount estimate)

with ctx(v) the CONTEXT count (sum of bigrams starting at v -- not the
unigram count: a word seen only sentence-finally has no continuations);
unseen contexts back off fully to p_cont.  A small uniform-floor
interpolation stands in for KenLM's <unk> handling so OOV-only text
scores the finite worst case instead of -inf.  Counts are trained at
import time from the embedded English seed corpus; fluent English
scores low, gibberish and wrong-language text fall to the continuation
floor and score orders of magnitude higher -- which is all the quality
gate needs.  On a production cluster the SAME scoring code loads real
KenLM count tables from a parquet artifact (quality/artifacts.py).
"""

from __future__ import annotations

import math
import re
from collections import Counter

from .corpora import EN_SENTENCES

_WORD = re.compile(r"[a-z']+")

_L_FLOOR = 0.05

BOS = "<s>"


def tokenize(text: str) -> list[str]:
    return _WORD.findall(text.lower())


def _train() -> tuple[Counter, Counter, int, float]:
    uni: Counter = Counter()
    bi: Counter = Counter()
    for sentence in EN_SENTENCES:
        words = [BOS] + tokenize(sentence)
        uni.update(words)
        bi.update(zip(words, words[1:]))
    total = sum(uni.values())
    vocab = len(uni)
    floor = 1.0 / (vocab * 10.0)
    return uni, bi, total, floor


_UNI, _BI, _TOTAL, _FLOOR = _train()


def _kn_stats() -> tuple[float, Counter, Counter, Counter, int]:
    """Kneser-Ney statistics from the bigram table: discount D (Ney
    estimate from the count-of-counts), context counts ctx(v), left
    fan-outs N1+(v,*), right fan-ins N1+(*,w), and the bigram-type
    total."""
    n1 = sum(1 for c in _BI.values() if c == 1)
    n2 = sum(1 for c in _BI.values() if c == 2)
    d = n1 / (n1 + 2.0 * n2) if (n1 + n2) else 0.75
    ctx: Counter = Counter()
    n1p_prev: Counter = Counter()
    cont: Counter = Counter()
    for (v, w), c in _BI.items():
        ctx[v] += c
        n1p_prev[v] += 1
        cont[w] += 1
    return d, ctx, n1p_prev, cont, len(_BI)


_D, _CTX, _N1P, _CONT, _N_BI_TYPES = _kn_stats()


def _vectorize_model():
    """Integer-keyed scoring tables: one dict hash per WORD instead of
    three string hashes plus a tuple build (the profiled hot spot).  OOV
    words map to id 0; ids are shifted by 1 so the packed bigram key
    (prev_id * stride + w_id) never collides across the OOV boundary.
    Bigram counts live in a SORTED key array looked up via one
    vectorized searchsorted per document (no per-word Python); the KN
    per-word statistics (context count, left fan-out, continuation
    probability) are dense id-indexed arrays."""
    import numpy as np

    words = sorted(_UNI)
    wid = {w: i + 1 for i, w in enumerate(words)}
    stride = len(words) + 1
    ctx = np.zeros(stride, dtype=np.float64)
    n1p = np.zeros(stride, dtype=np.float64)
    pcont = np.zeros(stride, dtype=np.float64)
    for w in words:
        ctx[wid[w]] = _CTX.get(w, 0)
        n1p[wid[w]] = _N1P.get(w, 0)
        pcont[wid[w]] = _CONT.get(w, 0) / _N_BI_TYPES
    bi_keys = np.array(
        [wid[p] * stride + wid[w] for (p, w) in _BI], dtype=np.int64
    )
    bi_vals = np.array([float(c) for c in _BI.values()], dtype=np.float64)
    order = np.argsort(bi_keys)
    return wid, stride, ctx, n1p, pcont, bi_keys[order], bi_vals[order]


(_WID, _STRIDE, _CTX_ARR, _N1P_ARR, _PCONT_ARR,
 _BI_KEYS, _BI_VALS) = _vectorize_model()
_BOS_ID = _WID[BOS]


# true worst case: every word hits only the interpolation floor term
WORST_PERPLEXITY = 1.0 / (_L_FLOOR * _FLOOR)


def perplexity(text: str) -> float:
    """Interpolated bigram perplexity of one document: the batch of one
    (``perplexity_batch([text])[0]``)."""
    return perplexity_batch([text])[0]


def _kn_logp(np, ids, prev):
    """Vectorized interpolated-KN log probabilities for aligned
    (prev, word) id arrays."""
    keys = prev * _STRIDE + ids
    pos = np.minimum(np.searchsorted(_BI_KEYS, keys), len(_BI_KEYS) - 1)
    bi = np.where(_BI_KEYS[pos] == keys, _BI_VALS[pos], 0.0)
    ctx = _CTX_ARR[prev]
    safe_ctx = np.maximum(ctx, 1.0)
    p_cont = _PCONT_ARR[ids]
    seen = ctx > 0
    lam = np.where(seen, _D * _N1P_ARR[prev] / safe_ctx, 1.0)
    disc = np.where(seen, np.maximum(bi - _D, 0.0) / safe_ctx, 0.0)
    p = (1.0 - _L_FLOOR) * (disc + lam * p_cont) + _L_FLOOR * _FLOOR
    return np.log(p)


def perplexity_batch(texts: list[str]) -> list[float]:
    """Interpolated bigram perplexity per document; ``inf``-safe (capped by
    the floor).  The only perplexity scorer: ``perplexity`` is the batch
    of one.

    Empty/wordless documents return ``WORST_PERPLEXITY`` (the score of
    all-OOV text -- they must never outscore gibberish).  Token ids for
    every document are concatenated into ONE numpy pipeline (one
    searchsorted, one log, one segmented reduceat); each document is its
    own segment, so its value does not depend on the batch it lands in.
    The scalar reference formulation survives as ``perplexity_scalar``
    and tests pin the two equal to float noise."""
    import numpy as np
    from itertools import repeat

    results = [WORST_PERPLEXITY] * len(texts)
    id_arrays: list[np.ndarray] = []
    doc_meta: list[tuple[int, int]] = []  # (output index, n_words)
    wid_get = _WID.get
    for i, t in enumerate(texts):
        words = tokenize(t)
        if not words:
            continue
        # map(dict.get, words, repeat(0)) stays in C -- the genexpr form
        # was the profiled hot spot (one Python frame per word)
        id_arrays.append(
            np.fromiter(map(wid_get, words, repeat(0)), np.int64, len(words))
        )
        doc_meta.append((i, len(words)))
    if not id_arrays:
        return results
    ids = np.concatenate(id_arrays)
    lens = np.array([n for _, n in doc_meta], dtype=np.int64)
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    prev = np.empty_like(ids)
    prev[1:] = ids[:-1]
    prev[starts] = _BOS_ID  # each document begins at <s>
    sums = np.add.reduceat(_kn_logp(np, ids, prev), starts)
    for (i, n), s in zip(doc_meta, sums):
        results[i] = float(math.exp(-s / n))
    return results


def perplexity_scalar(text: str) -> float:
    """Reference formulation of interpolated KN (the semantics contract;
    tests assert the vectorized path matches it)."""
    words = tokenize(text)
    if not words:
        return WORST_PERPLEXITY
    prev = BOS
    log_sum = 0.0
    for w in words:
        p_cont = _CONT.get(w, 0) / _N_BI_TYPES
        ctx = _CTX.get(prev, 0)
        if ctx:
            disc = max(_BI.get((prev, w), 0) - _D, 0.0) / ctx
            lam = _D * _N1P.get(prev, 0) / ctx
            p = disc + lam * p_cont
        else:
            p = p_cont
        log_sum += math.log((1.0 - _L_FLOOR) * p + _L_FLOOR * _FLOOR)
        prev = w
    return math.exp(-log_sum / len(words))

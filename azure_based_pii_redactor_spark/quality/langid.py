"""Deterministic character-trigram language identification.

A fastText-style linear model over hashed character n-grams, reduced to its
deterministic core: per-language char-trigram log-probability profiles with
add-one smoothing, trained at import time from the embedded seed corpora
(quality/corpora.py).  Chinese is additionally gated by CJK codepoint
fraction (trigram profiles are sparse for ideographic scripts).

Replaces the reference's hardcoded ``language: "en"`` Azure call parameter
(``azure.go:104-112``) with a real per-document language decision, per the
north star.

Scoring: TOTAL log-likelihood of the document's trigrams under each
language profile; prediction = argmax; score = softmax margin of the
winner over the totals (in (0,1], higher = more confident).  Because
the softmax runs over totals rather than per-trigram means, the margin
grows with document length: any clear winner saturates to ~1.0 beyond
a few hundred characters, and the ``MIN_LANG_SCORE`` gate effectively
filters short or genuinely ambiguous documents (the intended behavior
-- a long document with a consistent trigram profile IS high
confidence).  Documents with fewer than ``MIN_TRIGRAMS`` usable
trigrams predict ``("unk", 0.0)``.
"""

from __future__ import annotations

import math
import re
from collections import Counter

from .corpora import CORPORA

LANGUAGES: tuple[str, ...] = tuple(sorted(CORPORA))
MIN_TRIGRAMS = 8

_STRIP = re.compile(r"[0-9\W_]+", re.UNICODE)


LANGID_MAX_CHARS = 1000


def _trigrams(text: str) -> list[str]:
    """Lowercase, collapse digits/punct/space runs to single spaces, then
    slide a 3-char window (word-boundary markers included via the spaces).

    Scoring input is capped at ``LANGID_MAX_CHARS``: web pages are
    overwhelmingly monolingual and per-trigram evidence saturates the
    posterior long before 1000 chars -- a 3x kernel saving on long docs
    (documented semantics: language is decided on the document head)."""
    norm = " " + _STRIP.sub(" ", text[:LANGID_MAX_CHARS].lower()).strip() + " "
    return [norm[i : i + 3] for i in range(len(norm) - 2)]


def _build_profiles() -> tuple[dict[str, list[float]], list[float]]:
    per_lang_counts: dict[str, Counter] = {}
    vocab: set[str] = set()
    for lang in LANGUAGES:
        c: Counter = Counter()
        for sentence in CORPORA[lang]:
            c.update(_trigrams(sentence))
        per_lang_counts[lang] = c
        vocab.update(c)
    v = len(vocab)
    denoms = {
        lang: sum(per_lang_counts[lang].values()) + v + 1
        for lang in LANGUAGES
    }
    # NEUTRAL unknown-trigram penalty: a per-language floor of
    # log(1/denom) would make out-of-vocabulary text drift toward the
    # language with the smallest corpus; unseen trigrams carry no
    # language evidence, so they get one shared floor.
    shared_floor = math.log(1.0 / max(denoms.values()))
    floors = [shared_floor] * len(LANGUAGES)
    # trigram -> per-language log-prob vector (dense per key, tiny vocab)
    table: dict[str, list[float]] = {
        tg: [
            math.log((per_lang_counts[lang].get(tg, 0) + 1.0) / denoms[lang])
            for lang in LANGUAGES
        ]
        for tg in vocab
    }
    return table, floors


_TABLE, _FLOORS = _build_profiles()

# Dense scoring matrix: row 0 = the unknown-trigram floor vector, rows 1..V
# = known trigrams (numpy gather beats per-trigram dict-of-list loops ~5x).
import numpy as _np

_INDEX: dict[str, int] = {tg: i + 1 for i, tg in enumerate(sorted(_TABLE))}
_MATRIX = _np.vstack(
    [_np.array(_FLOORS)] + [_np.array(_TABLE[tg]) for tg in sorted(_TABLE)]
)

_CJK = re.compile(r"[一-鿿㐀-䶿]")

# Integer-key trigram table for fully-vectorized scoring: a trigram's key
# is its three codepoints in base 0x110000 (bijective with the string
# form), looked up via binary search over the sorted key array -- no
# per-trigram Python objects or dict hashing at all.
_CODEPOINT_BASE = 0x110000


def _int_key_table() -> tuple["_np.ndarray", "_np.ndarray"]:
    keys = _np.empty(len(_INDEX), _np.int64)
    rows = _np.empty(len(_INDEX), _np.int64)
    for n, (tg, i) in enumerate(_INDEX.items()):
        a, b, c = (ord(ch) for ch in tg)
        keys[n] = (a * _CODEPOINT_BASE + b) * _CODEPOINT_BASE + c
        rows[n] = i
    order = _np.argsort(keys)
    return keys[order], rows[order]


_KEYS, _ROWS = _int_key_table()

# --- table-gather trigram rows --------------------------------------------
# The per-doc cost of scoring was dominated by the normalization regex sub
# and the binary-searched trigram lookup (profiled: ~60% of the batch).
# Both collapse into table gathers: a per-codepoint symbol table replaces
# the regex (built FROM ``_STRIP`` itself, so the two normalizations cannot
# disagree), and a dense symbol-trigram table replaces ``searchsorted`` for
# trigrams drawn from the corpora's Latin alphabets.  Astral code points
# (above the BMP table) are classified by ``_STRIP`` one by one.  Trigrams
# touching any kept char outside the dense alphabet (CJK vocab chars,
# arbitrary kept letters, astral letters) are resolved through the EXACT
# sparse lookup (``_rows_for``), so row indices equal the string-trigram
# ``_INDEX`` lookup on every input (pinned by tests over all of them).
_BMP = 0x10000
_DENSE_MAX = 0x500  # Latin-1 + Latin Extended covers the non-CJK corpora


def _build_fast_tables():
    m = _STRIP.match
    stripped = [c for c in range(_BMP) if m(chr(c)) is not None]
    dense_chars = sorted(
        ch
        for ch in {c for tg in _TABLE for c in tg}
        if ord(ch) < _DENSE_MAX and ch != " "
    )
    k = len(dense_chars) + 2  # sym 0 = outside the dense set, 1 = space
    sym = _np.zeros(_BMP, _np.int64)
    sym[stripped] = 1  # every non-kept char normalizes to a space
    for i, ch in enumerate(dense_chars):
        sym[ord(ch)] = i + 2
    sym_of = {ch: i + 2 for i, ch in enumerate(dense_chars)}
    sym_of[" "] = 1
    tri = _np.zeros(k * k * k, _np.int64)
    for tg, row in _INDEX.items():
        syms = [sym_of.get(ch) for ch in tg]
        if None in syms:
            continue  # non-dense char: resolved via the sparse lookup
        a, b, c = syms
        tri[(a * k + b) * k + c] = row
    return sym, tri, k


_CP_SYM, _TRI_ROWS, _K_SYM = _build_fast_tables()


def _trigram_rows(text: str) -> "_np.ndarray | None":
    """Matrix row per trigram of ``text``'s normalized head, via table
    gathers (None = too short to score) -- equal to
    ``[_INDEX.get(tg, 0) for tg in _trigrams(text)]`` on every input."""
    cps = _np.frombuffer(
        text[:LANGID_MAX_CHARS].lower().encode("utf-32-le", "surrogatepass"),
        dtype=_np.uint32,
    ).astype(_np.int64)
    if len(cps) and int(cps.max()) >= _BMP:
        astral = cps >= _BMP
        syms = _CP_SYM[_np.where(astral, 0, cps)]
        syms[astral] = [
            0 if _STRIP.match(chr(c)) is None else 1
            for c in cps[astral].tolist()
        ]
    else:
        syms = _CP_SYM[cps]
    n = len(syms)
    has_rare = bool((syms == 0).any())  # kept char outside the dense set
    # pad one space each side, then collapse space runs -- exactly
    # " " + _STRIP.sub(" ", head).strip() + " " on the symbol plane
    buf = _np.empty(n + 2, _np.int64)
    buf[0] = buf[-1] = 1
    buf[1:-1] = syms
    sp = buf == 1
    keep = _np.empty(n + 2, _np.bool_)
    keep[0] = True
    _np.logical_not(sp[1:] & sp[:-1], out=keep[1:])
    s = buf[keep]
    if len(s) - 2 < MIN_TRIGRAMS:
        return None
    rows = _TRI_ROWS[(s[:-2] * _K_SYM + s[1:-1]) * _K_SYM + s[2:]]
    if has_rare:  # trigrams touching a non-dense char: exact sparse lookup
        cbuf = _np.empty(n + 2, _np.int64)
        cbuf[0] = cbuf[-1] = 32
        _np.copyto(cbuf[1:-1], _np.where(buf[1:-1] == 1, 32, cps))
        c = cbuf[keep]
        nd = (s[:-2] == 0) | (s[1:-1] == 0) | (s[2:] == 0)
        keys = (
            c[:-2][nd] * _CODEPOINT_BASE + c[1:-1][nd]
        ) * _CODEPOINT_BASE + c[2:][nd]
        rows[nd] = _rows_for(keys)
    return rows


def _rows_for(keys: "_np.ndarray") -> "_np.ndarray":
    """Matrix row index per trigram key (row 0 = unknown floor)."""
    pos = _np.minimum(_np.searchsorted(_KEYS, keys), len(_KEYS) - 1)
    return _np.where(_KEYS[pos] == keys, _ROWS[pos], 0)


def predict_language_batch(texts) -> list[tuple[str, float]]:
    """Return one ``(lang, score)`` per input; ``("unk", 0.0)`` when
    undecidable.  The only langid scorer: ``predict_language`` is the
    batch of one.  Trigram rows of every doc are concatenated and summed
    per language with one segmented ``reduceat`` per ~1M trigrams; each
    doc is its own segment, so its score does not depend on the batch it
    lands in."""
    out: list = [None] * len(texts)
    segs: list[tuple[int, "_np.ndarray"]] = []
    for j, t in enumerate(texts):
        if cjk_fraction(t) > 0.3:
            out[j] = ("zh", 1.0)
            continue
        tk = _trigram_rows(t)
        if tk is None:
            out[j] = ("unk", 0.0)
            continue
        segs.append((j, tk))
    i = 0
    while i < len(segs):
        chunk: list[tuple[int, "_np.ndarray"]] = []
        total = 0
        while i < len(segs) and total < 1_000_000:  # bound the row gather
            chunk.append(segs[i])
            total += len(segs[i][1])
            i += 1
        starts = _np.zeros(len(chunk), _np.int64)
        _np.cumsum([len(k) for _, k in chunk[:-1]], out=starts[1:])
        rows = _np.concatenate([r for _, r in chunk])
        # per-language 1D take+reduceat beats one (N, L) 2D gather with
        # an axis-0 reduceat ~4x (the 2D row-gather materializes N*L
        # doubles and the axis-0 segmented sum iterates rows in C but
        # strides across columns); identical sums
        sums = _np.empty((len(chunk), _MATRIX.shape[1]))
        for j in range(_MATRIX.shape[1]):
            sums[:, j] = _np.add.reduceat(_MATRIX[:, j].take(rows), starts)
        # posterior under a uniform language prior = softmax of the TOTAL
        # log-likelihoods (argmax keeps the first language on a tie)
        best = _np.argmax(sums, axis=1)
        mx = sums[_np.arange(len(chunk)), best]
        z = _np.exp(sums - mx[:, None]).sum(axis=1)
        for (j, _), b, zz in zip(chunk, best, z):
            out[j] = (LANGUAGES[b], 1.0 / zz)
    return out


def cjk_fraction(text: str) -> float:
    """CJK codepoint fraction of the document HEAD (same
    ``LANGID_MAX_CHARS`` cap as trigram scoring -- language is decided on
    the head everywhere, and a 1 MB doc must not pay a full-text scan for
    the zh gate)."""
    head = text[:LANGID_MAX_CHARS]
    if not head:
        return 0.0
    if head.isascii():  # no CJK codepoint possible: skip the scan
        return 0.0
    return len(_CJK.findall(head)) / len(head)


def predict_language(text: str) -> tuple[str, float]:
    """Return ``(lang, score)``; ``("unk", 0.0)`` when undecidable."""
    return predict_language_batch([text])[0]

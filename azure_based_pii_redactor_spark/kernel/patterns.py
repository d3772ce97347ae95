"""The 18-pattern compiled-regex bank with post-match validators.

Reference: ``redactify/backend/internal/pii/patterns.go:38-179`` (pattern
table), ``:181-196`` (compile once), ``:199-224`` (detect), ``:226-363``
(validators).  Pattern strings are ported verbatim, including the
deliberate quirk ``[A-Z|a-z]`` in the email pattern (``patterns.go:40`` --
a literal ``|`` inside the class).  Go's regexp is RE2; these specific
patterns use no backtracking-sensitive constructs, so Python ``re`` with
identical strings produces identical spans (verified per-pattern in
``tests/test_patterns.py``).

The reference recompiles all 18 patterns per cell (``detector.go:412-416``
constructs a fresh ``RegexDetector`` per call) -- a major perf bug.  Here
everything is compiled once at module import, i.e. once per executor
Python worker.

Iteration order: the reference iterates a Go map (random).  We canonicalize
to alphabetical pattern-name order; output entities are additionally sorted
by ``(start, end, type)``.
"""

from __future__ import annotations

import re

from .entities import Entity, canonical_sort

# (name, regex, confidence, category, label) -- patterns.go:38-179.
_PATTERN_TABLE: list[tuple[str, str, float, str, str]] = [
    ("bank_account", r"\b\d{8,17}\b", 0.70, "FinancialInfo", "[BANK_ACCOUNT]"),
    (
        "bitcoin_address",
        r"\b[13][a-km-zA-HJ-NP-Z1-9]{25,34}\b|bc1[a-z0-9]{39,59}\b",
        0.85,
        "FinancialInfo",
        "[CRYPTO_ADDRESS]",
    ),
    (
        "canada_sin",
        r"\b\d{3}-?\d{3}-?\d{3}\b",
        0.90,
        "PersonalInfo",
        "[CA_SIN]",
    ),
    (
        "credit_card",
        r"\b(?:4[0-9]{12}(?:[0-9]{3})?|5[1-5][0-9]{14}|3[47][0-9]{13}|3[0-9]{13}|6(?:011|5[0-9]{2})[0-9]{12})\b",
        0.90,
        "FinancialInfo",
        "[CREDIT_CARD]",
    ),
    (
        "date",
        r"\b\d{1,2}[/-]\d{1,2}[/-]\d{2,4}\b|\b\d{4}[/-]\d{1,2}[/-]\d{1,2}\b",
        0.70,
        "DateTime",
        "[DATE]",
    ),
    (
        "driver_license",
        r"\b[A-Z]{1,2}\d{6,8}\b|\b\d{8,9}\b",
        0.75,
        "PersonalInfo",
        "[DRIVER_LICENSE]",
    ),
    (
        "email",
        r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b",
        0.95,
        "PersonalInfo",
        "[EMAIL]",
    ),
    (
        "iban",
        r"\b[A-Z]{2}\d{2}[A-Z0-9]{4}\d{7}([A-Z0-9]?){0,16}\b",
        0.90,
        "FinancialInfo",
        "[IBAN]",
    ),
    (
        "ip_address",
        r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
        0.80,
        "TechnicalInfo",
        "[IP_ADDRESS]",
    ),
    (
        "mac_address",
        r"\b[0-9a-fA-F]{2}[:-][0-9a-fA-F]{2}[:-][0-9a-fA-F]{2}[:-][0-9a-fA-F]{2}[:-][0-9a-fA-F]{2}[:-][0-9a-fA-F]{2}\b",
        0.90,
        "TechnicalInfo",
        "[MAC_ADDRESS]",
    ),
    (
        "medical_record",
        r"\bMR[N]?[-.\s]?\d{6,10}\b|\bMED[-.\s]?\d{6,10}\b",
        0.85,
        "HealthInfo",
        "[MEDICAL_RECORD]",
    ),
    (
        "passport",
        r"\b[A-Z]{1,2}\d{6,9}\b",
        0.80,
        "PersonalInfo",
        "[PASSPORT]",
    ),
    (
        "phone_international",
        r"\b\+\d{1,3}[-.\s]?\d{1,14}\b",
        0.85,
        "PersonalInfo",
        "[PHONE]",
    ),
    (
        "phone_us",
        r"\b(?:\+?1[-.\s]?)?\(?([2-9]\d{2})\)?[-.\s]?([2-9]\d{2})[-.\s]?(\d{4})\b",
        0.90,
        "PersonalInfo",
        "[PHONE]",
    ),
    ("ssn", r"\b\d{3}-?\d{2}-?\d{4}\b", 0.95, "FinancialInfo", "[SSN]"),
    (
        "uk_nino",
        r"\b[A-CEGHJ-PR-TW-Z]{1}[A-CEGHJ-NPR-TW-Z]{1}\d{6}[A-D]{1}\b",
        0.95,
        "PersonalInfo",
        "[UK_NINO]",
    ),
    ("url", r"https?://[^\s/$.?#].[^\s]*", 0.85, "TechnicalInfo", "[URL]"),
    (
        "vin",
        r"\b[A-HJ-NPR-Z0-9]{17}\b",
        0.80,
        "PersonalInfo",
        "[VIN]",
    ),
]

# Compiled once per process (fixes the reference's per-cell recompilation,
# detector.go:412-416).
# re.ASCII: Go's RE2 character classes (\d, \w, \b) are ASCII-only;
# Python defaults to Unicode semantics, which would both match non-ASCII
# digits the reference never matches AND miss word boundaries adjacent to
# accented letters.  ASCII mode restores span-identical behavior (tested
# with Arabic-digit and accented-letter vectors).
# Go RE2 \s is [\t\n\f\r ] (no \v); Python ASCII \s includes \v.  All
# \s uses in the bank sit inside character classes, so a literal
# substitution restores span parity on vertical-tab inputs.
_GO_WS = "\\t\\n\\f\\r "

PATTERNS: dict[str, dict] = {
    name: {
        "pattern": re.compile(rx.replace("\\s", _GO_WS), re.ASCII),
        "confidence": conf,
        "category": cat,
        "label": label,
    }
    for name, rx, conf, cat, label in _PATTERN_TABLE
}

ENTITY_TYPES: tuple[str, ...] = tuple(sorted(PATTERNS))


# ---------------------------------------------------------------------------
# Post-match validators -- patterns.go:226-363.
# ---------------------------------------------------------------------------

_NON_DIGIT = re.compile(r"[^\d]", re.ASCII)

_INVALID_SSNS = frozenset(
    {
        "000000000",
        "111111111",
        "222222222",
        "333333333",
        "444444444",
        "555555555",
        "666666666",
        "777777777",
        "888888888",
        "999999999",
        "123456789",
        "987654321",
    }
)


def is_valid_credit_card(number: str) -> bool:
    """Luhn checksum after stripping spaces/dashes -- patterns.go:243-270."""
    cleaned = number.replace(" ", "").replace("-", "")
    if not 13 <= len(cleaned) <= 19:
        return False
    total = 0
    alternate = False
    for ch in reversed(cleaned):
        digit = ord(ch) - 48
        if alternate:
            digit *= 2
            if digit > 9:
                digit = digit % 10 + 1
        total += digit
        alternate = not alternate
    return total % 10 == 0


def is_valid_ssn(ssn: str) -> bool:
    """patterns.go:273-311."""
    cleaned = ssn.replace("-", "")
    if len(cleaned) != 9:
        return False
    if cleaned in _INVALID_SSNS:
        return False
    area = cleaned[:3]
    if area in ("000", "666"):
        return False
    if cleaned[3:5] == "00":
        return False
    if cleaned[5:] == "0000":
        return False
    return True


def is_valid_us_phone(phone: str) -> bool:
    """patterns.go:314-337."""
    cleaned = _NON_DIGIT.sub("", phone)
    if len(cleaned) == 11 and cleaned[0] == "1":
        cleaned = cleaned[1:]
    if len(cleaned) != 10:
        return False
    if cleaned[0] in "01":
        return False
    if cleaned[3] in "01":
        return False
    return True


def is_valid_email(email: str) -> bool:
    """patterns.go:340-363."""
    parts = email.split("@")
    if len(parts) != 2:
        return False
    local, domain = parts
    if not local or not domain:
        return False
    if len(local) > 64 or len(domain) > 253:
        return False
    return "." in domain


_VALIDATORS = {
    "credit_card": is_valid_credit_card,
    "ssn": is_valid_ssn,
    "phone_us": is_valid_us_phone,
    "email": is_valid_email,
}


def is_valid_match(pattern_type: str, text: str) -> bool:
    """patterns.go:227-240 -- patterns without a validator always pass."""
    validator = _VALIDATORS.get(pattern_type)
    return validator(text) if validator is not None else True


# Cheap pre-gates: a pattern cannot match unless one of these substrings
# is present (derived from each regex's mandatory literals); pure
# optimization -- the regex is the decider.  ``digit`` = needs any digit.
_REQUIRES: dict[str, tuple[str, ...]] = {
    "email": ("@",),
    "url": ("http",),
    "phone_international": ("+",),
    "medical_record": ("MR", "MED"),
    "mac_address": (":", "-"),
    "bank_account": ("digit",),
    "canada_sin": ("digit",),
    "credit_card": ("digit",),
    "date": ("digit",),
    "driver_license": ("digit",),
    "iban": ("digit",),
    "passport": ("digit",),
    "phone_us": ("digit",),
    "ssn": ("digit",),
    "uk_nino": ("digit",),
    "bitcoin_address": ("digit",),  # both alternatives contain 1/3/bc1
    "ip_address": ("digit",),  # every IPv4 octet is digits
    # NOT vin: [A-HJ-NPR-Z0-9]{17} admits all-letter strings
}

_DIGIT_RE = re.compile(r"[0-9]")


def _may_match(name: str, text: str, has_digit: bool) -> bool:
    # Evaluated and rejected: hoisting these gates to a pandas
    # str.contains pass over the whole Arrow batch.  The per-doc checks
    # here are already C-level substring scans, and batching them would
    # gate exactly the same finditer set -- profiled as a no-op; the
    # batch-level wins live in langid/perplexity (see quality/).
    req = _REQUIRES.get(name)
    if req is None:
        return True
    for needle in req:
        if needle == "digit":
            if has_digit:
                return True
        elif needle in text:
            return True
    return False


def detect_pii(text: str) -> list[Entity]:
    """Run all 18 patterns; leftmost non-overlapping matches per pattern,
    cross-pattern overlaps allowed -- patterns.go:199-224.

    Output canonically sorted by (start, end, type); see entities.py.
    """
    entities: list[Entity] = []
    has_digit = _DIGIT_RE.search(text) is not None
    for name in ENTITY_TYPES:
        if not _may_match(name, text, has_digit):
            continue
        cfg = PATTERNS[name]
        for m in cfg["pattern"].finditer(text):
            matched = m.group(0)
            if is_valid_match(name, matched):
                entities.append(
                    Entity(
                        type=name,
                        text=matched,
                        start=m.start(),
                        end=m.end(),
                        confidence=cfg["confidence"],
                        category=cfg["category"],
                    )
                )
    return canonical_sort(entities)

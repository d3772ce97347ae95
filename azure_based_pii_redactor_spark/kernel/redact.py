"""Redaction splice and replacement resolution.

Reference: ``applyRedaction`` at ``detector.go:433-473`` and
``getReplacementText`` at ``detector.go:480-509``.  The export-path variant
(``file.go:1145-1175``) differs only in the final fallback: it emits
``[REDACTED_<UPPER(TYPE)>]`` for non-empty types (``file.go:1169-1172``).
We take the detector variant as canonical and expose the export variant via
``RedactOptions.export_style_fallback`` (SURVEY.md section 2.7).

Splice order: the reference sorts by Start descending with an unstable
sort; we canonicalize to descending ``(start, end, type)`` (full reverse of
the canonical ascending order) -- documented resolution of the reference's
unspecified equal-start behavior.  The bounds check is against the
*current* (mutated) string, exactly as ``detector.go:454`` -- overlapping
entities therefore produce order-dependent output; with the canonical order
that output is deterministic.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .entities import Entity

# detector.go:487-494.
DEFAULT_LABELS: dict[str, str] = {
    "Person": "[REDACTED_NAME]",
    "email": "[REDACTED_EMAIL]",
    "phone": "[REDACTED_PHONE]",
    "ssn": "[REDACTED_SSN]",
    "credit_card": "[REDACTED_CARD]",
    "ip_address": "[REDACTED_IP]",
}


@dataclass(frozen=True)
class RedactOptions:
    """Mirrors ``RedactOptions`` -- detector.go:31-37.

    Defaults per ``detector.go:198-206``: mode ``replace``, training on.
    """

    redaction_mode: str = "replace"  # "replace" | "mask" | "remove"
    custom_labels: dict[str, str] = field(default_factory=dict)
    use_training: bool = True
    export_style_fallback: bool = False  # file.go:1169-1172 variant


def resolve_replacement(entity: Entity, options: RedactOptions) -> str:
    """detector.go:480-509 (and file.go:1145-1175 when export-style)."""
    label = options.custom_labels.get(entity.type)
    if label is not None:
        return label
    label = DEFAULT_LABELS.get(entity.type)
    if label is not None:
        return label
    mode = options.redaction_mode
    if mode == "mask":
        return "*" * len(entity.text)
    if mode == "remove":
        return ""
    if options.export_style_fallback and entity.type:
        return f"[REDACTED_{entity.type.upper()}]"
    return "[REDACTED]"


def apply_redaction(
    text: str, entities: list[Entity], options: RedactOptions
) -> str:
    """Reverse-start splice -- detector.go:433-473.

    Fast path: when spans are valid and strictly non-overlapping (the
    common case), a single-pass rebuild produces byte-identical output to
    the reference's reverse splice in O(n) instead of O(n^2) string
    copies.  Overlapping/invalid spans fall back to the exact splice loop
    (order-dependent mutation semantics preserved)."""
    if not entities:
        return text
    ordered = sorted(entities, key=lambda e: (e.start, e.end, e.type))
    n = len(text)
    non_overlapping = all(
        0 <= e.start < e.end <= n for e in ordered
    ) and all(
        a.end <= b.start for a, b in zip(ordered, ordered[1:])
    )
    if non_overlapping:
        parts: list[str] = []
        cursor = 0
        for entity in ordered:
            parts.append(text[cursor : entity.start])
            parts.append(resolve_replacement(entity, options))
            cursor = entity.end
        parts.append(text[cursor:])
        return "".join(parts)

    redacted = text
    for entity in reversed(ordered):
        # Bounds check against the CURRENT string (detector.go:454-461):
        # skip silently-invalid spans produced by earlier overlapping
        # splices.
        if entity.start < 0 or entity.end > len(redacted) or entity.start >= entity.end:
            continue
        replacement = resolve_replacement(entity, options)
        redacted = redacted[: entity.start] + replacement + redacted[entity.end :]
    return redacted

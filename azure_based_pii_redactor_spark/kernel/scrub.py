"""Full detect -> dedup -> training -> dedup -> filter -> splice pipeline.

Mirrors the reference query lifecycle (SURVEY.md section 3.1):
``Detector.Detect`` at ``detector.go:62-136`` (regex always; Azure/GPT are
pluggable remote stages, disabled by default here -- detector.go:113-118
shows regex runs unconditionally) followed by ``applyRedaction``
(``detector.go:433-473``).

Column filtering (``column_config.go:142-196``) is applied only when a
config is supplied -- matching the reference, where the single-text redact
path (pii.go:101-130) never applies column filtering while the CSV path
does so per column.

This module is the BYTE-IDENTITY contract surface: the Spark pipeline calls
``scrub_text`` inside a vectorized kernel, the pytest oracle calls it
single-process, and both must agree trivially because they are the same
function (SURVEY.md section 5 item 1).
"""

from __future__ import annotations

from typing import NamedTuple, Sequence

from .column_config import ColumnConfig
from .entities import Entity, canonical_sort, deduplicate
from .patterns import detect_pii
from .redact import RedactOptions, apply_redaction
from .training import FeedbackRecord, apply_training_feedback

DEFAULT_OPTIONS = RedactOptions()


class ScrubResult(NamedTuple):
    scrubbed_text: str
    entities: list[Entity]


def detect(
    text: str,
    feedback_history: Sequence[FeedbackRecord] = (),
    use_training: bool = True,
    extra_entities: Sequence[Entity] = (),
) -> list[Entity]:
    """``Detector.Detect`` / ``DetectWithoutTraining`` -- detector.go:62-136,
    :287-316.

    ``extra_entities`` is the pluggable slot where a remote NER stage
    (Azure X1 / GPT X2) would contribute; empty by default.
    """
    entities = list(extra_entities) + detect_pii(text)
    entities = deduplicate(canonical_sort(entities))
    if use_training and feedback_history:
        entities = entities + apply_training_feedback(text, feedback_history)
        entities = deduplicate(canonical_sort(entities))
    return entities


def scrub_text(
    text: str,
    options: RedactOptions = DEFAULT_OPTIONS,
    feedback_history: Sequence[FeedbackRecord] = (),
) -> ScrubResult:
    """End-to-end scrub of one document (``Detector.Redact`` --
    detector.go:192-243).  Column filtering and external stages are
    ``scrub_text_advanced``'s path."""
    entities = detect(
        text,
        feedback_history=feedback_history,
        use_training=options.use_training,
    )
    scrubbed = apply_redaction(text, entities, options)
    return ScrubResult(scrubbed_text=scrubbed, entities=entities)


def scrub_text_advanced(
    text: str,
    options: RedactOptions = DEFAULT_OPTIONS,
    feedback_history: Sequence[FeedbackRecord] = (),
    column_config: ColumnConfig | None = None,
    gpt_validator=None,
    external_detector=None,
) -> ScrubResult:
    """The reference's advanced path (``DetectWithColumn`` + redaction):
    column filtering, optional external NER + GPT validation with
    fail-open defaults, confidence adjustment baked into each surviving
    entity, then the standard splice."""
    entities, _scores = detect_with_column(
        text,
        column_config or ColumnConfig(),
        feedback_history=feedback_history,
        gpt_validator=gpt_validator,
        external_detector=external_detector,
        use_training=options.use_training,
    )
    return ScrubResult(
        scrubbed_text=apply_redaction(text, entities, options),
        entities=entities,
    )


def detect_with_column(
    text: str,
    column_config: ColumnConfig,
    feedback_history: Sequence[FeedbackRecord] = (),
    gpt_validator=None,
    external_detector=None,
    use_training: bool = True,
) -> tuple[list[Entity], list]:
    """``Detector.DetectWithColumn`` -- detector.go:138-191: detect ->
    column filtering -> (optional) GPT validation with fail-open-to-redact
    defaults -> confidence scoring (entity confidence updated to the
    adjusted score) -> drop entities the validator says not to redact.

    ``gpt_validator(text, entities)`` returns a list of
    ``(is_real_pii, should_redact, confidence)`` triples or raises; on
    error the reference defaults every entity to
    ``(True, True, 0.8)`` (detector.go:153-164) -- fail-open means
    everything surviving is redactable.

    Returns ``(validated_entities, confidence_scores)``.
    """
    from .confidence import calculate_confidence

    extra = external_detector(text) if external_detector is not None else ()
    entities = detect(
        text,
        feedback_history=feedback_history,
        use_training=use_training,
        extra_entities=extra,
    )
    entities = column_config.apply_filtering(entities, text)

    validations = None
    if gpt_validator is not None and entities:
        try:
            validations = list(gpt_validator(text, entities))
        except Exception:
            validations = [(True, True, 0.8)] * len(entities)

    scores = []
    validated: list[Entity] = []
    for i, entity in enumerate(entities):
        gpt = validations[i] if validations and i < len(validations) else None
        adjusted, signals = calculate_confidence(
            entity, text, feedback_history=feedback_history, gpt_validation=gpt
        )
        scores.append((entity.text, entity.type, entity.confidence,
                       adjusted, signals))
        if gpt is None or gpt[1]:  # should_redact
            validated.append(entity._replace(confidence=adjusted))
    return validated, scores

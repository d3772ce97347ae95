"""Pluggable external-model stages (SURVEY.md section 2.8) -- DISABLED by
default; this sandbox has no external services and the deterministic regex
path is the correctness-bearing path (detector.go:113-118: regex runs
unconditionally, Azure is best-effort).

The interfaces mirror the reference's remote calls so a real NER service
or model UDF can slot in on a production cluster:

- X1 ``ExternalDetector``: text -> entities (Azure Text Analytics shape,
  ``azure.go:76-262``; response entities map Category->type,
  Offset/Length->span).
- X2 ``GPTValidator``: (text, entities) -> [(is_real_pii, should_redact,
  confidence)] (``gpt_validator.go:67-144``; batch 5, temperature 0.1,
  strict-JSON -- and on ANY failure default to redact, the fail-open
  contract the kernel preserves in ``detect_with_column``).
- X3 rate-limit retry (``file.go:511-543``) is NOT ported: Spark task
  retries (``spark.task.maxFailures``) cover transient failures.
"""

from __future__ import annotations

from typing import Protocol, Sequence

from ..kernel.entities import Entity


class ExternalDetector(Protocol):
    def __call__(self, text: str) -> Sequence[Entity]: ...


class GPTValidator(Protocol):
    def __call__(
        self, text: str, entities: Sequence[Entity]
    ) -> Sequence[tuple[bool, bool, float]]: ...

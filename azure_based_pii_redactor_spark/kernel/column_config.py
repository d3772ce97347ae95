"""Column-level entity filtering: thresholds, modes, white/blacklists.

Reference: ``redactify/backend/internal/pii/column_config.go``.
- ``ColumnConfig`` struct ``:73-99`` (defaults ``:126-136``: mode balanced,
  min_confidence 0.7).
- ``ApplyColumnFiltering`` ``:142-196``: disabled short-circuit, confidence
  threshold, type exclusion, whitelist suppression, mode gate, per-type
  entity rules (custom replacement overwrites entity.text), then blacklist
  injection appended AFTER filtering (always redacted).
- Detection-mode gate ``:267-283``: aggressive conf>0.5, balanced conf>0.7,
  conservative conf>0.9, custom -> drop all, disabled -> drop all.
- Whitelist ``:244-264``: regex (``(?i)`` when case-insensitive) MatchString
  i.e. *search* semantics, or literal contains (case-folded when
  insensitive).
- Blacklist ``:286-329``: regex -> find ALL matches; literal -> FIRST
  occurrence only (reference uses strings.Index once).  Matches become
  ``Entity{type:"blacklisted", confidence:1.0, category:"custom"}``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .entities import Entity, canonical_sort


@dataclass(frozen=True)
class EntityRule:
    """column_config.go:64-71."""

    enabled: bool = True
    confidence_threshold: float = 0.0
    custom_replacement: str | None = None


@dataclass(frozen=True)
class ListPattern:
    """Whitelist/blacklist pattern -- column_config.go:44-58."""

    pattern: str
    is_regex: bool = False
    case_sensitive: bool = False


@dataclass
class ColumnConfig:
    """column_config.go:73-99 with defaults from :126-136."""

    column_name: str = ""
    detection_mode: str = "balanced"
    min_confidence: float = 0.7
    entity_rules: dict[str, EntityRule] = field(default_factory=dict)
    whitelist_patterns: list[ListPattern] = field(default_factory=list)
    blacklist_patterns: list[ListPattern] = field(default_factory=list)
    excluded_entity_types: frozenset[str] = frozenset()

    def __post_init__(self) -> None:
        # Compile once (column_config.go:199-230); per-process, not
        # per-cell.  USER patterns compile with Unicode case folding
        # (Go RE2's (?i) folds Unicode too); the ASCII-class contract
        # applies to the built-in bank only (patterns.py).
        self._compile_lists()

    def _compile_lists(self) -> None:
        self._wl_src = tuple(self.whitelist_patterns)
        self._bl_src = tuple(self.blacklist_patterns)
        self._wl_compiled = [
            re.compile(p.pattern if p.case_sensitive else "(?i)" + p.pattern)
            if p.is_regex
            else None
            for p in self.whitelist_patterns
        ]
        self._bl_compiled = [
            re.compile(p.pattern if p.case_sensitive else "(?i)" + p.pattern)
            if p.is_regex
            else None
            for p in self.blacklist_patterns
        ]

    def _ensure_compiled(self) -> None:
        # the dataclass is mutable: recompile if pattern lists were
        # appended to after construction (silent drop would un-redact a
        # blacklist term)
        if (tuple(self.whitelist_patterns) != self._wl_src
                or tuple(self.blacklist_patterns) != self._bl_src):
            self._compile_lists()

    # -- predicates -------------------------------------------------------

    def _is_whitelisted(self, text: str) -> bool:
        """column_config.go:244-264."""
        self._ensure_compiled()
        for pat, compiled in zip(self.whitelist_patterns, self._wl_compiled):
            if pat.is_regex:
                if compiled is not None and compiled.search(text):
                    return True
            elif pat.case_sensitive:
                if pat.pattern in text:
                    return True
            elif pat.pattern.lower() in text.lower():
                return True
        return False

    def _passes_mode(self, entity: Entity) -> bool:
        """column_config.go:267-283."""
        mode = self.detection_mode
        if mode == "aggressive":
            return entity.confidence > 0.5
        if mode == "conservative":
            return entity.confidence > 0.9
        if mode == "balanced":
            return entity.confidence > 0.7
        if mode in ("custom", "disabled"):
            return False
        return entity.confidence > 0.7

    def _blacklist_entities(self, text: str) -> list[Entity]:
        """column_config.go:286-329."""
        self._ensure_compiled()
        out: list[Entity] = []
        for pat, compiled in zip(self.blacklist_patterns, self._bl_compiled):
            if pat.is_regex:
                if compiled is None:
                    continue
                for m in compiled.finditer(text):
                    out.append(
                        Entity(
                            type="blacklisted",
                            text=text[m.start() : m.end()],
                            start=m.start(),
                            end=m.end(),
                            confidence=1.0,
                            category="custom",
                        )
                    )
            else:
                search_text = text if pat.case_sensitive else text.lower()
                needle = pat.pattern if pat.case_sensitive else pat.pattern.lower()
                index = search_text.find(needle)
                if index != -1:  # FIRST occurrence only (reference behavior)
                    out.append(
                        Entity(
                            type="blacklisted",
                            text=text[index : index + len(pat.pattern)],
                            start=index,
                            end=index + len(pat.pattern),
                            confidence=1.0,
                            category="custom",
                        )
                    )
        return out

    # -- main entry -------------------------------------------------------

    def apply_filtering(self, entities: list[Entity], text: str) -> list[Entity]:
        """column_config.go:142-196, preserving clause order exactly."""
        if self.detection_mode == "disabled":
            return []
        filtered: list[Entity] = []
        for entity in entities:
            if entity.confidence < self.min_confidence:
                continue
            if entity.type in self.excluded_entity_types:
                continue
            if self._is_whitelisted(entity.text):
                continue
            if not self._passes_mode(entity):
                continue
            rule = self.entity_rules.get(entity.type)
            if rule is not None:
                if not rule.enabled:
                    continue
                if entity.confidence < rule.confidence_threshold:
                    continue
                if rule.custom_replacement is not None:
                    # Reference overwrites entity.Text (column_config.go:184)
                    entity = entity._replace(text=rule.custom_replacement)
            filtered.append(entity)
        filtered.extend(self._blacklist_entities(text))
        return canonical_sort(filtered)


class ColumnConfigManager:
    """Per-column config registry with JSON (de)serialization -- mirrors
    ``ColumnConfigManager`` (column_config.go:102-136, LoadFromJSON
    :331-345, SaveToJSON :347-355).  Unknown columns get the balanced
    default (column_config.go:126-136).  In Spark the manager is broadcast
    (tiny JSON blob -- the reference persists it in ``csv_metadata``,
    db.go:216 / F4)."""

    def __init__(self) -> None:
        self._configs: dict[str, ColumnConfig] = {}

    def set_config(self, config: ColumnConfig) -> None:
        self._configs[config.column_name] = config

    def get_config(self, column_name: str) -> ColumnConfig:
        return self._configs.get(column_name) or ColumnConfig(
            column_name=column_name
        )

    def apply_column_filtering(
        self, column_name: str, entities: list[Entity], text: str
    ) -> list[Entity]:
        return self.get_config(column_name).apply_filtering(entities, text)

    # -- JSON round-trip ----------------------------------------------------

    def to_json(self) -> str:
        import json

        out = []
        for cfg in self._configs.values():
            out.append(
                {
                    "column_name": cfg.column_name,
                    "detection_mode": cfg.detection_mode,
                    "min_confidence": cfg.min_confidence,
                    "entity_rules": {
                        k: {
                            "enabled": r.enabled,
                            "confidence_threshold": r.confidence_threshold,
                            "custom_replacement": r.custom_replacement,
                        }
                        for k, r in cfg.entity_rules.items()
                    },
                    "whitelist_patterns": [
                        {"pattern": p.pattern, "regex": p.is_regex,
                         "case_sensitive": p.case_sensitive}
                        for p in cfg.whitelist_patterns
                    ],
                    "blacklist_patterns": [
                        {"pattern": p.pattern, "regex": p.is_regex,
                         "case_sensitive": p.case_sensitive}
                        for p in cfg.blacklist_patterns
                    ],
                    "excluded_entity_types": sorted(cfg.excluded_entity_types),
                }
            )
        return json.dumps(out, indent=2)

    @classmethod
    def from_json(cls, data: str) -> "ColumnConfigManager":
        import json

        mgr = cls()
        for c in json.loads(data):
            mgr.set_config(
                ColumnConfig(
                    column_name=c.get("column_name", ""),
                    detection_mode=c.get("detection_mode", "balanced"),
                    min_confidence=c.get("min_confidence", 0.7),
                    entity_rules={
                        k: EntityRule(
                            enabled=r.get("enabled", True),
                            confidence_threshold=r.get(
                                "confidence_threshold", 0.0),
                            custom_replacement=r.get("custom_replacement"),
                        )
                        for k, r in (c.get("entity_rules") or {}).items()
                    },
                    whitelist_patterns=[
                        ListPattern(p["pattern"], p.get("regex", False),
                                    p.get("case_sensitive", False))
                        for p in (c.get("whitelist_patterns") or [])
                    ],
                    blacklist_patterns=[
                        ListPattern(p["pattern"], p.get("regex", False),
                                    p.get("case_sensitive", False))
                        for p in (c.get("blacklist_patterns") or [])
                    ],
                    excluded_entity_types=frozenset(
                        c.get("excluded_entity_types") or ()
                    ),
                )
            )
        return mgr


def default_config_for_data_type(
    column_name: str, data_type: str
) -> ColumnConfig:
    """``GetDefaultConfigForDataType`` -- column_config.go:357-399."""
    if data_type == "email":
        return ColumnConfig(
            column_name=column_name, detection_mode="aggressive",
            entity_rules={"Email": EntityRule(confidence_threshold=0.9)},
        )
    if data_type == "phone":
        return ColumnConfig(
            column_name=column_name, detection_mode="aggressive",
            entity_rules={"PhoneNumber": EntityRule(confidence_threshold=0.8)},
        )
    if data_type == "name":
        return ColumnConfig(
            column_name=column_name, detection_mode="balanced",
            entity_rules={"Person": EntityRule(confidence_threshold=0.8)},
        )
    if data_type == "financial":
        return ColumnConfig(
            column_name=column_name, detection_mode="aggressive",
            min_confidence=0.9,
        )
    if data_type in ("product_code", "reference"):
        return ColumnConfig(
            column_name=column_name, detection_mode="conservative"
        )
    return ColumnConfig(column_name=column_name, detection_mode="balanced")

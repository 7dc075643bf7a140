"""Pattern-config model: the declarative rule surface of the engine.

Mirrors the reference's ``config/relationship_patterns.json`` shape
(loaded by ``pattern_config.py:84-154`` in /root/reference/
bigquery-to-erd): global PK/FK column indicators, per-table-prefix
pattern lists, and filtering rules. ``DEFAULT`` replicates the shipped
config exactly — the hardcoded lists the compiler used before live here
now — and ``from_json`` / ``from_dict`` accept user configs in the
reference's own file format, so a reference user's custom
``relationship_patterns.json`` drops in unchanged.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass(frozen=True)
class PatternConfig:
    """Classification + filtering rule set (wildcards use ``*``)."""

    pk_indicators: tuple[str, ...]
    fk_indicators: tuple[str, ...]
    # prefix -> {"pk": [...], "fk": [...]} (methodologies merged per
    # prefix, as get_patterns_for_table does by collecting all matches)
    table_patterns: dict[str, dict[str, tuple[str, ...]]] = field(
        default_factory=dict)
    max_relationships_per_table: int = 3
    min_confidence_threshold: float = 0.5
    preferred_detection_methods: tuple[str, ...] = (
        "enhanced_pk_fk", "data_vault_pattern")

    @classmethod
    def from_dict(cls, data: dict) -> "PatternConfig":
        cp = data.get("column_patterns", {})
        merged: dict[str, dict[str, list[str]]] = {}
        for _meth, group in data.get("table_patterns", {}).items():
            for _name, pat in group.get("patterns", {}).items():
                prefix = pat.get("prefix", "")
                if not prefix:
                    continue
                slot = merged.setdefault(prefix, {"pk": [], "fk": []})
                for p in pat.get("primary_key_patterns", []):
                    if p not in slot["pk"]:
                        slot["pk"].append(p)
                for p in pat.get("foreign_key_patterns", []):
                    if p not in slot["fk"]:
                        slot["fk"].append(p)
        filt = data.get("filtering_rules", {})
        return cls(
            pk_indicators=tuple(cp.get("primary_key_indicators", [])),
            fk_indicators=tuple(cp.get("foreign_key_indicators", [])),
            table_patterns={
                k: {"pk": tuple(v["pk"]), "fk": tuple(v["fk"])}
                for k, v in merged.items()},
            max_relationships_per_table=filt.get(
                "max_relationships_per_table", 5),
            min_confidence_threshold=filt.get(
                "min_confidence_threshold", 0.3),
            preferred_detection_methods=tuple(
                filt.get("preferred_detection_methods", [])),
        )

    @classmethod
    def from_json(cls, path: str) -> "PatternConfig":
        with open(path, encoding="utf-8") as f:
            return cls.from_dict(json.load(f))


# the shipped config (config/relationship_patterns.json in the
# reference), methodologies merged per prefix
DEFAULT = PatternConfig(
    pk_indicators=(
        "id", "key", "pk", "sk", "surrogate_key", "business_key", "bk",
        "hash_key", "hk", "hub_key", "dim_key", "dk", "link_key", "lk",
        "ref_key", "rk"),
    fk_indicators=(
        "*_id", "*_key", "*_fk", "*_hk", "*_hash_key", "hub_key", "hk"),
    table_patterns={
        "h_": {"pk": ("id", "key", "business_key", "bk", "hash_key",
                      "hk", "hub_key"),
               "fk": ()},
        "dim_": {"pk": ("id", "key", "sk", "surrogate_key", "dim_key",
                        "dk", "hash_key", "hk", "dim_hash_key", "*_id"),
                 "fk": ("*_id", "*_hk", "*_hash_key", "*_fk")},
        "l_": {"pk": ("id", "key", "link_key", "lk", "hash_key", "hk",
                      "link_hash_key"),
               "fk": ("*_hk", "*_hash_key", "hub_key", "hk")},
        "ref_": {"pk": ("id", "key", "ref_key", "rk", "*_code", "*_id"),
                 "fk": ()},
        "fact_": {"pk": ("id", "key", "*_id"), "fk": ("*_id", "*_fk")},
        "bridge_": {"pk": ("id", "key", "relationship_id"),
                    "fk": ("*_id", "*_fk")},
    },
    max_relationships_per_table=3,
    min_confidence_threshold=0.5,
    preferred_detection_methods=("enhanced_pk_fk", "data_vault_pattern"),
)


def to_reference_dict(cfg: PatternConfig) -> dict:
    """Inverse of ``from_dict``: serialize a PatternConfig back to the
    reference's ``relationship_patterns.json`` file format (one merged
    methodology group; ``from_dict(to_reference_dict(c)) == c``)."""
    return {
        "column_patterns": {
            "primary_key_indicators": list(cfg.pk_indicators),
            "foreign_key_indicators": list(cfg.fk_indicators),
        },
        "table_patterns": {"merged": {"patterns": {
            prefix: {
                "prefix": prefix,
                "primary_key_patterns": list(slot["pk"]),
                "foreign_key_patterns": list(slot["fk"]),
            } for prefix, slot in cfg.table_patterns.items()}}},
        "filtering_rules": {
            "max_relationships_per_table":
                cfg.max_relationships_per_table,
            "min_confidence_threshold": cfg.min_confidence_threshold,
            "preferred_detection_methods": list(
                cfg.preferred_detection_methods),
        },
    }


def _rule_rows(cfg: PatternConfig) -> list[tuple[str, str, str]]:
    rows = [("pk_indicator", "", p) for p in cfg.pk_indicators]
    rows += [("fk_indicator", "", p) for p in cfg.fk_indicators]
    for prefix, slot in cfg.table_patterns.items():
        rows += [("table_pk", prefix, p) for p in slot["pk"]]
        rows += [("table_fk", prefix, p) for p in slot["fk"]]
    rows += [
        ("filter", "max_relationships_per_table",
         str(cfg.max_relationships_per_table)),
        ("filter", "min_confidence_threshold",
         str(cfg.min_confidence_threshold)),
        ("filter", "preferred_detection_methods",
         ",".join(cfg.preferred_detection_methods)),
    ]
    return rows


def rules_file_source(spark) -> "object":
    """[Q] S11 rules-file source, roundtrip-gated: DEFAULT is written
    to a scratch file in the reference's own JSON format
    (``to_reference_dict``), loaded back through the real file-source
    path (``from_json``), and the PARSED rule set is emitted row-wise.
    The oracle's VALUES come straight from the DEFAULT dataclass — any
    serialization or parse defect anywhere on the file path turns the
    value hash red. Metadata-scale by nature (same class as the
    catalog fixtures, SURVEY §2 S2/S3)."""
    import os

    from gcp_datalake_utils_spark.sources import local_frame
    from gcp_datalake_utils_spark.sources.scratch import pid_scratch

    d = pid_scratch("/tmp/spark_graft_rules", "default")
    path = os.path.join(d, "relationship_patterns.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(to_reference_dict(DEFAULT), f)
    parsed = PatternConfig.from_json(path)
    return local_frame(
        spark, _rule_rows(parsed), "rule_kind string, scope string, "
                                   "pattern string")


def _rules_file_oracle() -> str:
    vals = ",\n  ".join(
        "({!r}, {!r}, {!r})".format(*r).replace('"', "'")
        for r in _rule_rows(DEFAULT))
    return (f"SELECT * FROM (VALUES\n  {vals}\n)"
            f" AS t(rule_kind, scope, pattern)")


RULES_FILE_SOURCE_ORACLE = _rules_file_oracle()

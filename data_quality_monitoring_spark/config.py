"""Brand-style run configuration: field mappings, enabled fields, variations.

Mirrors the reference's brand config surface (``common/brand_config.py:11-22``,
``brand_configs/esqualo.json``): a JSON file carries

* ``field_mappings``   — logical field → physical column (reference
  ``common/field_mapper.py:10-75``),
* ``enabled_fields``   — which logical fields run detection,
* ``field_variations`` — per-field ruleset variation names.

The reference's ``custom_thresholds`` are not supported: the verdict
thresholds are the constants of ``operators/verdict.py``, so a config that
sets them is rejected rather than silently ignored.

In Spark the mapping layer is just a projection with aliases — applied once
at ingest so every downstream operator sees logical names and Catalyst
prunes unmapped columns out of the scan.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class RunConfig:
    field_mappings: dict[str, str] = field(default_factory=dict)
    enabled_fields: list[str] = field(default_factory=list)
    field_variations: dict[str, str] = field(default_factory=dict)

    @classmethod
    def load(cls, path: str | Path) -> "RunConfig":
        raw = json.loads(Path(path).read_text())
        if "custom_thresholds" in raw:
            raise ValueError(
                f"{path}: custom_thresholds is not supported; the verdict "
                "thresholds are fixed (operators/verdict.DEFAULT_THRESHOLDS)"
            )
        return cls(
            field_mappings=raw.get("field_mappings", {}),
            enabled_fields=raw.get("enabled_fields", list(raw.get("field_mappings", {}))),
            field_variations=raw.get("field_variations", {}),
        )

    def variation(self, logical_field: str) -> str:
        return self.field_variations.get(logical_field, "baseline")

    def apply_mapping(self, df: DataFrame) -> DataFrame:
        """Project physical columns to logical names (reference
        field_mapper semantics); unmapped columns pass through."""
        if not self.field_mappings:
            return df
        cols = []
        mapped_physical = set(self.field_mappings.values())
        for c in df.columns:
            if c in mapped_physical:
                continue
            cols.append(F.col(c))
        for logical, physical in self.field_mappings.items():
            cols.append(F.col(physical).alias(logical))
        return df.select(*cols)

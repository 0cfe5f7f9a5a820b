"""Declarative rule configuration — the reference's metadata spreadsheet
(read_data.py:123-137: XLSX sheet 'DPI-1', header=4) as a plain
dataclass carrying the same information: per-column expected type,
nullability, length limit, PII flags.  Loadable from JSON, from the
reference's CSV export, or DIRECTLY from the XLSX workbook (stdlib
OOXML reader in ``sources/xlsx.py`` — no openpyxl dependency).
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field
from pathlib import Path

VALID_DATATYPES = {
    "integer", "float", "double", "long", "short", "numeric",
    "string", "varchar", "ipv4", "ip", "ipv6", "epoch", "timestamp",
}


@dataclass(frozen=True)
class ColumnSpec:
    """One metadata row (read_data.py:131-133 columns, normalized)."""

    attribute_name: str
    data_type: str | None = None          # None or unknown type → datatype check skipped
    length_total: int | None = None       # Data_Type_Length_Total
    nullable: bool = True
    is_pii: bool = False
    is_pci: bool = False
    is_cpni: bool = False

    @property
    def name_upper(self) -> str:
        return self.attribute_name.upper()


@dataclass
class RulesConfig:
    columns: list[ColumnSpec] = field(default_factory=list)

    def attribute_names(self) -> list[str]:
        return [c.attribute_name for c in self.columns]

    def spec_for(self, column: str) -> ColumnSpec | None:
        cu = column.upper()
        for spec in self.columns:
            if spec.name_upper == cu:
                return spec
        return None

    def to_json(self, path: str | Path) -> None:
        Path(path).write_text(json.dumps([asdict(c) for c in self.columns], indent=2))

    @classmethod
    def from_json(cls, path: str | Path) -> "RulesConfig":
        raw = json.loads(Path(path).read_text())
        return cls(columns=[ColumnSpec(**row) for row in raw])

    @classmethod
    def from_reference_csv(cls, path: str | Path) -> "RulesConfig":
        """Load the reference's metadata-spreadsheet CSV export
        (read_data.py:112-121,131-133): columns Attribute_Name, Data_Type,
        Nullable, IS_PCI, IS_PII, IS_CPNI, Data_Type_Length_Total.
        Attribute names get the reference's '.'→'_' normalization
        (read_data.py:135); unknown/blank datatypes stay None (skipped,
        validation_rulebook.py:687)."""
        import csv as _csv

        with open(path, newline="") as fh:
            return cls(columns=[
                spec for row in _csv.DictReader(fh)
                if (spec := _spec_from_record(row)) is not None
            ])

    @classmethod
    def from_reference_xlsx(
        cls, path: str | Path, sheet_name: str = "DPI-1", header_row: int = 4
    ) -> "RulesConfig":
        """Load the reference's metadata workbook DIRECTLY
        (read_data.py:123-137: ``pd.read_excel(..., sheet_name='DPI-1',
        header=4)``) via the stdlib OOXML reader in ``sources/xlsx.py``
        — no openpyxl needed.  Same row semantics as the CSV path."""
        from .sources.xlsx import read_sheet_records

        return cls(columns=[
            spec for row in read_sheet_records(path, sheet_name, header_row)
            if (spec := _spec_from_record(row)) is not None
        ])


def _spec_from_record(row: dict) -> ColumnSpec | None:
    """One metadata record (CSV DictReader row or XLSX sheet record) →
    ColumnSpec, with the reference's normalizations: '.'→'_' names,
    unknown datatypes skipped, Y/Yes/True/1 truthiness."""

    def truthy(v) -> bool:
        return str(v or "").strip().upper() in {"Y", "YES", "TRUE", "1"}

    name = str(row.get("Attribute_Name") or "").strip()
    if not name:
        return None
    dtype = str(row.get("Data_Type") or "").strip().lower() or None
    if dtype is not None and dtype not in VALID_DATATYPES:
        dtype = None
    raw_len = str(row.get("Data_Type_Length_Total") or "").strip()
    try:
        length = int(float(raw_len)) if raw_len else None
    except ValueError:
        length = None
    return ColumnSpec(
        attribute_name=name.replace(".", "_"),
        data_type=dtype,
        length_total=length,
        nullable=truthy(row.get("Nullable", "Y")),
        is_pii=truthy(row.get("IS_PII")),
        is_pci=truthy(row.get("IS_PCI")),
        is_cpni=truthy(row.get("IS_CPNI")),
    )


@dataclass(frozen=True)
class FilterConfig:
    """Thresholds for the quality-filter pipeline (langid + perplexity +
    heuristics + scrub) — the north-rule stack layered on the contract."""

    expected_langs: tuple[str, ...] = ("en",)
    lang_conf_min: float = 0.60
    # Langid/perplexity score the first N chars only (0 = whole text) —
    # standard practice (fastText/CCNet sample a prefix) and the thing
    # that bounds per-row scoring cost at 100 TB: without it, the 1% of
    # pathological mega-turns dominates total scored bytes.
    score_prefix_chars: int = 512
    # Calibrated on the hermetic byte-4-gram LM: in-domain English scores
    # ~4e3, repetitive text ~1e4, foreign text ~6e4, symbol soup ~7e4.
    ppl_max: float = 30000.0
    min_chars: int = 3
    max_chars: int = 20000
    max_repetition_ratio: float = 0.60   # 1 - distinct_words/words
    max_symbol_ratio: float = 0.30       # non-alnum-nonspace chars / chars
    min_words: int = 1
    boilerplate_prefixes: tuple[str, ...] = (
        "click here to unsubscribe",
        "terms and conditions apply",
        "all rights reserved",
        "lorem ipsum dolor",
    )
    # Conversation-level rollup: if > 0, every turn of a conversation
    # whose kept-turn fraction falls below this is demoted to keep=0
    # with reason "conv_low_keep_frac" (a dialogue with holes can't be
    # replayed for training).  0.0 = per-turn decisions only (default,
    # the reference-parity behavior).  Costs NO extra shuffle in the
    # pipeline: the rollup window rides the bucket partitioning
    # (bucket is a pure function of conv_id).
    conv_min_keep_frac: float = 0.0
    scrub_pii: bool = True
    toxicity_lexicon: tuple[str, ...] = (
        "frakking", "dagnabbit", "gorram", "smeghead",  # synthetic lexicon
    )

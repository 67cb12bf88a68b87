"""PII detection + redaction over text columns — the scrub stage every
web-corpus training pipeline runs between extraction and tokenization.

Reference scope note: the reference stores contributor usernames and photo
metadata verbatim (/root/reference/landlensdb/handlers/cloud.py:499-508
field lists include creator/owner fields); an engine feeding LLM training
data must instead FIND and MASK person-identifying strings at corpus
scale. Everything here is pure JVM column math (``regexp_count`` /
``regexp_replace`` — no Python in the hot path, whole-stage codegen), and
every pattern is RE2-compatible (no backrefs, no lookaround) so the DuckDB
oracle runs the byte-identical expressions.

Patterns are deliberately high-precision/limited-recall (emails, NANP-ish
phone numbers, IPv4) — the shape of the production stage; swapping in a
larger pattern pack or an NER model (a ``map_batches`` kernel) changes
the expressions, not the plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: RE2-safe patterns, shared verbatim with the SQL oracle (PATTERNS_SQL).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"

#: redaction order is LOAD-BEARING for cross-engine parity: the classes
#: can overlap on the same span (an email local part can hold a phone-shaped
#: run; '12.34.56.789-123-4567' matches IPv4 and phone on overlapping
#: text), so a different pass order produces different masked output. Both
#: the Spark operator and the SQL oracle derive their passes from this one
#: list — reorder it only in both-by-construction, never per engine.
_ORDERED = [
    ("email", EMAIL_RE, "[EMAIL]"),
    ("phone", PHONE_RE, "[PHONE]"),
    ("ipv4", IPV4_RE, "[IP]"),
]


def pii_counts(col: Column) -> list[Column]:
    """One count column per PII class (n_email, n_phone, n_ipv4)."""
    return [
        F.regexp_count(col, F.lit(pat)).alias(f"n_{name}")
        for name, pat, _ in _ORDERED
    ]


def redact(col: Column) -> Column:
    """All PII classes masked with their class token, fixed pass order."""
    out = col
    for _, pat, token in _ORDERED:
        out = F.regexp_replace(out, pat, token)
    return out


def scrub_pii(df: DataFrame, text: str = "text") -> DataFrame:
    """Attach per-class match counts and a ``redacted`` text column.

    Scale shape: narrow map — no shuffle, no Python, codegen'd regex over
    each partition; composes with any upstream scan so the regex work rides
    the existing stages.
    """
    col = F.col(text)
    return df.select(
        "*",
        *pii_counts(col),
        redact(col).alias("redacted"),
    )


def pii_sql_exprs(text_expr: str) -> dict[str, str]:
    """The oracle-side DuckDB expressions for the same counts/redaction.

    DuckDB's RE2 lacks ``regexp_count``; ``len(regexp_extract_all(...))``
    counts the same non-overlapping matches. Replacement uses the 'g'
    flag for the same replace-all semantics as Spark's regexp_replace.
    """
    counts = {
        f"n_{name}": (
            f"CAST(len(regexp_extract_all({text_expr}, '{pat}')) AS INTEGER)"
        )
        for name, pat, _ in _ORDERED
    }
    red = text_expr
    for _, pat, token in _ORDERED:
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    counts["redacted"] = red
    return counts

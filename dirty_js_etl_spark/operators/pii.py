"""PII detection + redaction over text columns — the scrubbing pass a
training-data pipeline runs before anything else sees the corpus.

This module GENERALIZES the fixed email/long-number scrub that shipped
in ``operators/corpus.py`` (``redact_pii``/``pii_report``, query x51):
that layer keeps its two hard-wired patterns and now delegates its
replacement chain here (:func:`chain_redact`); this one adds an ordered
configurable pattern list, per-pattern placeholders, replacement-order
counts, and the paired SQL generator that lets an oracle replay the
exact redacted bytes (x211).

Reference scope note: the reference engine has no text operators at all
(its closest concept is the scalar string transforms, ``mappr.js``
TruncateString/ConcatColumns); this module is SURVEY.md §2.3 extension
surface, alongside quality scoring and decontamination.

Design:

- **pure codegen expressions** — detection is ``regexp_count`` and
  redaction is chained ``regexp_replace`` (global by default in Spark),
  both JVM-side; no UDF, so the scrub is a map-only stage that scales
  to 100 TB by partition count alone (no shuffle anywhere);
- **engine-portable patterns** — every default pattern stays inside the
  RE2 ∩ Java-regex dialect (no backreferences, no lookaround), so a
  DuckDB oracle recomputes the exact counts and the exact redacted
  strings (``regexp_extract_all`` + ``regexp_replace(..., 'g')``);
- **deterministic order** — replacement applies in the declared pattern
  order (emails before IPs before phones by default), and ``n_<name>``
  counts what the redactor actually replaced: pattern i is counted on
  the text with patterns < i already redacted, so a digit run inside an
  already-scrubbed IP is never double-reported as a phone;
- NULL text passes through as NULL (counts NULL too) — the scrub never
  fails a job on a missing document.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (name, pattern, placeholder) — conservative shared RE2/Java subset.
# Order matters: emails carry dots and digits, so they redact first;
# IPv4 before the phone patterns so digit runs inside an address are
# already gone when the looser patterns run; the FULL 3-3-4 phone form
# before the 7-digit suffix form, so '555-123-4567' redacts whole
# rather than leaving its last four digits — the most identifying
# part — in the "scrubbed" output.
#
# These defaults are DEMO-GRADE: they exercise the plumbing and the
# oracle replay, not a production PII taxonomy (no international formats, no
# SSNs, no postal addresses). Real deployments must pass their own
# vetted ``patterns`` list.
DEFAULT_PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone_full", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("phone", r"\b\d{3}[-.]\d{3,4}\b", "<PHONE>"),
]


def chain_redact(
    text: Column, patterns: list[tuple[str, str, str]]
) -> Column:
    """The bare replacement chain (no counts): ``text`` with every
    pattern globally replaced by its placeholder, in declared order."""
    red = text
    for _, pat, placeholder in patterns:
        red = F.regexp_replace(red, pat, placeholder)
    return red


def redact_pii(
    df: DataFrame,
    text_col: str | Column = "text",
    patterns: list[tuple[str, str, str]] | None = None,
    out_col: str = "redacted",
) -> DataFrame:
    """Adds ``n_<name>`` replacement counts and ``out_col`` — the text
    with every pattern replaced by its placeholder, applied in declared
    order (each count taken on the text AFTER the earlier patterns
    redacted). Map-only; NULL text yields NULL counts and NULL output."""
    pats = DEFAULT_PII_PATTERNS if patterns is None else patterns
    red = F.col(text_col) if isinstance(text_col, str) else text_col
    out = df
    for name, pat, placeholder in pats:
        out = out.withColumn(f"n_{name}", F.regexp_count(red, F.lit(pat)))
        red = F.regexp_replace(red, pat, placeholder)
    return out.withColumn(out_col, red)


def pii_redaction_sql(
    text_expr: str, patterns: list[tuple[str, str, str]] | None = None
) -> tuple[str, str]:
    """(count_select_list, redacted_expr) — the DuckDB spelling of the
    exact same scrub over ``text_expr``, for oracle strings: counts via
    ``len(regexp_extract_all)``, redaction via chained global
    ``regexp_replace`` in the same declared order."""
    pats = DEFAULT_PII_PATTERNS if patterns is None else patterns
    counts = []
    red = text_expr
    for name, pat, placeholder in pats:
        # escape embedded single quotes so a user-supplied pattern or
        # placeholder can't break (or shift the meaning of) the SQL
        # string literal
        p = pat.replace("'", "''")
        ph = placeholder.replace("'", "''")
        counts.append(
            f"CAST(len(regexp_extract_all({red}, '{p}')) AS INT)"
            f" AS n_{name}"
        )
        red = f"regexp_replace({red}, '{p}', '{ph}', 'g')"
    return ", ".join(counts), red

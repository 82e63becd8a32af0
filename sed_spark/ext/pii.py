"""PII detection and redaction over a text column.

A training-data pipeline scrubs personally identifiable information
before anything reaches a model. This module gives the standard
regex-family pass — emails, North-American-style phone numbers, IPv4
addresses — as pure Column expressions (JVM regex, whole-stage codegen,
no UDF), so a 100 TB corpus scan is one projection with no shuffle.

The patterns deliberately stay in the regex subset with identical
semantics across Java (Spark) and RE2 (DuckDB/Go tooling): character
classes, bounded repetition, and ASCII word boundaries — no backrefs,
no lookaround — so the same pattern doubles as the oracle definition
downstream systems can check against.

Real deployments layer model-based NER on top for names/addresses; that
is a Pandas-UDF stage by construction (model inference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["PII_PATTERNS", "pii_stats", "pii_redact"]

#: detection patterns — order matters for redaction: emails first (their
#: local/domain parts may contain digit runs), then IPv4 before phone so
#: dotted quads never half-match a dotted phone form.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
}


def pii_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document PII match counts: ``n_emails``, ``n_ipv4``,
    ``n_phones`` (non-overlapping left-to-right matches, the shared
    semantics of Java regex and RE2)."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(PII_PATTERNS["email"])).alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PATTERNS["ipv4"])).alias("n_ipv4"),
        F.regexp_count(t, F.lit(PII_PATTERNS["phone"])).alias("n_phones"),
    )


def pii_redact(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "redacted",
    keep_counts: bool = True,
) -> DataFrame:
    """Replace every PII match with a typed placeholder (``<EMAIL>``,
    ``<IP>``, ``<PHONE>``), optionally keeping the per-type counts.

    One projection, three chained ``regexp_replace`` — a single pass
    over the corpus with no shuffle; the replacement order follows
    ``PII_PATTERNS`` (see its docstring). Each count is taken on the
    SAME intermediate text its replacement pass sees, so the counts
    always reconcile with the placeholders actually emitted — e.g. a
    phone number absorbed into an email match (``555-123-4567@x.com``)
    is counted once as an email, not phantom-counted as a phone
    (:func:`pii_stats` counts each pattern on the raw text instead —
    pure detection, no reconciliation guarantee).
    """
    t = F.col(text_col)
    r1 = F.regexp_replace(t, PII_PATTERNS["email"], "<EMAIL>")
    r2 = F.regexp_replace(r1, PII_PATTERNS["ipv4"], "<IP>")
    red = F.regexp_replace(r2, PII_PATTERNS["phone"], "<PHONE>")
    cols = [F.col(id_col)]
    if keep_counts:
        cols += [
            F.regexp_count(t, F.lit(PII_PATTERNS["email"])).alias("n_emails"),
            F.regexp_count(r1, F.lit(PII_PATTERNS["ipv4"])).alias("n_ipv4"),
            F.regexp_count(r2, F.lit(PII_PATTERNS["phone"])).alias("n_phones"),
        ]
    return df.select(*cols, red.alias(out_col))

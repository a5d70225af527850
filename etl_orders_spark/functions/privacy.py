"""PII handling for training-data pipelines: detection/redaction of
contact identifiers, stable pseudonymization, numeric generalization.

All pure Column expressions (JVM regex / hash — zero shuffle, scan
speed at 100 TB). Patterns stick to syntax Java regex and RE2/DuckDB
agree on (no lookbehind), so the pseudonymization query stays
oracle-checkable; the free-text redactors are exercised on planted
fixtures in tests (the driver corpus carries no PII by construction).

The reference loads raw names/emails/phones into Postgres untouched
(reference: dags/etl.py:49-66, user_info columns); these operators are
the redaction step it never had.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# international-ish phone: optional +country, then SEVEN-plus DIGITS
# (each digit may be followed by up to 3 separator chars) — the bound
# is on digit count, not character count, so '1 2 3 4' score lists and
# short dash ranges in prose are not destroyed. Dates (8 digits) still
# look phone-shaped to any digit-count heuristic; documented limit.
PHONE_RE = r"\+?[0-9](?:[()\-. ]{0,3}[0-9]){6,}"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def redact_emails(col: Column | str) -> Column:
    return F.regexp_replace(_c(col), EMAIL_RE, "<EMAIL>")


def redact_phones(col: Column | str) -> Column:
    return F.regexp_replace(_c(col), PHONE_RE, "<PHONE>")


def redact_pii(col: Column | str) -> Column:
    """Emails first (their local parts contain digits), then phones."""
    return redact_phones(redact_emails(col))


def pii_counts(col: Column | str) -> tuple[Column, Column]:
    """(n_emails, n_phones) detected — the audit side of redaction."""
    c = _c(col)
    n_email = F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), 0)).cast("long")
    n_phone = F.size(F.regexp_extract_all(redact_emails(c), F.lit(PHONE_RE), 0)).cast("long")
    return n_email, n_phone


def pseudonym(col: Column | str, salt: str) -> Column:
    """Stable keyed pseudonym: md5(salt || value). Same input + salt
    => same pseudonym (joins still work); rotating the salt breaks
    linkage. md5 is bit-identical across engines, so oracle-safe."""
    return F.md5(F.concat(F.lit(f"{salt}|"), _c(col).cast("string")))


def mask_digits(col: Column | str) -> Column:
    """Replace every digit with ``#`` — kills embedded ids/account
    numbers while keeping the string's shape for debugging."""
    return F.regexp_replace(_c(col), r"[0-9]", "#")


def generalize_numeric(col: Column | str, width: float) -> Column:
    """Bucket a numeric to its containing [k·width, (k+1)·width) floor —
    coarsens quasi-identifiers instead of dropping them."""
    return (F.floor(_c(col) / F.lit(width)) * F.lit(width)).cast("double")

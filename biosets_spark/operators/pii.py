"""PII detection and redaction over text columns.

No reference counterpart (BASELINE.json LLM-pipeline extension): a
training-data pipeline must scrub emails / IP addresses / phone
numbers before corpus release. Pure JVM regex expressions
(regexp_count / regexp_replace) — no Python on the data path, so the
operator runs at scan speed and the filters around it still push down.

Patterns are deliberately portable between Java regex (Spark) and RE2
(DuckDB oracle): no backreferences, no lookaround.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from ..scope import origin

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
# +1 555-123-4567 / 555-123-4567 / 555 123 4567
PHONE_RE = r"(\+\d{1,2} )?\d{3}[- ]\d{3}[- ]\d{4}"

REDACTIONS = [
    ("email", EMAIL_RE, "<EMAIL>"),
    ("ip", IPV4_RE, "<IP>"),
    ("phone", PHONE_RE, "<PHONE>"),
]


def pii_counts(c: Column) -> dict[str, Column]:
    """{kind: match-count Column} for one text column."""
    return {kind: F.regexp_count(c, lit(pat)) for kind, pat, _ in REDACTIONS}


@origin("redact_pii")
def redact_pii(df: DataFrame, text_col: str = "text",
               output_col: str | None = None) -> DataFrame:
    """Replace every email/IPv4/phone match with a typed placeholder
    and append per-kind match counts (``n_email``, ``n_ip``,
    ``n_phone``) plus ``pii_chars_removed`` (original length minus
    redacted length — negative when placeholders are longer than the
    matched text, still a useful audit delta).

    Order matters: emails are redacted FIRST so an alphabetic-host
    address like ``bob@mail4.example.com`` is consumed whole before
    the IP/phone passes can see digit runs inside it; phone runs
    last. (A digit-host ``user@10.0.0.7`` is NOT an email — the RE
    requires an alphabetic TLD — so its IP is correctly caught by the
    IP pass.) Counts are measured on the ORIGINAL text.
    """
    out_col = output_col or text_col
    t = col(text_col)
    counted = df
    for kind, cnt in pii_counts(t).items():
        counted = counted.withColumn(f"n_{kind}", cnt)
    red = t
    for _, pat, repl in REDACTIONS:
        red = F.regexp_replace(red, pat, repl)
    return (
        counted.withColumn("pii_chars_removed", F.length(t) - F.length(red))
        .withColumn(out_col, red)
    )

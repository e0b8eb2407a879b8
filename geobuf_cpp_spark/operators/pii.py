"""PII scrubbing — regex redaction of emails / IPv4 / phone numbers.

A mandatory pass on any web-crawl training corpus. Stays entirely
JVM-side (regexp_count / regexp_replace inside whole-stage codegen) —
at 100 TB this is a full-corpus string scan whose cost must not include
an Arrow round trip per row.

Pattern portability: the patterns below use only the regex subset whose
semantics agree between Java's engine (Spark) and RE2 (DuckDB's
regexp_* — the oracle): character classes, bounded repetition, no
backrefs/lookaround. Replacement order is EMAIL -> IPV4 -> PHONE so a
digit-bearing email never half-matches the later patterns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
PHONE_RE = "\\+[0-9]{1,2} [0-9]{3}-[0-9]{4}"

EMAIL_TOKEN = "<EMAIL>"
IPV4_TOKEN = "<IP>"
PHONE_TOKEN = "<PHONE>"


def scrub_pii(docs_df: DataFrame) -> DataFrame:
    """Redact PII in ``text``; emit per-doc match counts and the
    redacted text.

    Output: (id, n_emails, n_ips, n_phones, clean_text). Each count is
    taken on the text as it stands at that redaction stage (emails on
    the original, IPs after email redaction, phones after both), so the
    counts always equal the number of substitutions actually made.
    """
    t = F.col("text")
    after_email = F.regexp_replace(t, EMAIL_RE, EMAIL_TOKEN)
    after_ip = F.regexp_replace(after_email, IPV4_RE, IPV4_TOKEN)
    clean = F.regexp_replace(after_ip, PHONE_RE, PHONE_TOKEN)
    return docs_df.select(
        F.col("doc_id"),
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(after_email, F.lit(IPV4_RE)).cast("long").alias("n_ips"),
        F.regexp_count(after_ip, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        clean.alias("clean_text"),
    )

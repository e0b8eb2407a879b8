"""Web-corpus URL analytics: host parsing + registered-domain rollups.

A Common-Crawl-shaped corpus is keyed by URL; the first aggregation any
web pipeline runs is the per-registered-domain rollup (page counts,
host/path diversity, language mix) that drives crawl budgeting and
domain-level quality filters. The driver corpus has no URL column, so
the gates synthesize one deterministically from (doc_id, source, lang)
with the SAME SQL on both engines (``url_sql``), then the Spark side
parses it with the JVM ``parse_url`` expression — the real operator
under test — while the DuckDB oracle re-derives host/path/query with
independent string ops.

Scale: one hash-keyed aggregation on the registered domain. The
multi-DISTINCT agg compiles to Spark's expand + two-phase hash
aggregate: the expand multiplies pre-shuffle rows by the number of
DISTINCT measures (4 here), but the shuffle stays keyed by domain with
map-side partials, and a hot mega-domain is exactly the skew shape AQE's
skew-split handles. No Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def url_sql(cast_type: str = "STRING") -> str:
    """Deterministic synthetic URL from (doc_id, source, lang).

    Dialect-portable except the string cast target: pass ``STRING`` for
    Spark, ``VARCHAR`` for DuckDB. 4 subdomains x 3 TLDs x 97 paths, a
    query string on every 7th doc.
    """
    return (
        "'https://' || (CASE doc_id % 4 WHEN 0 THEN 'www' WHEN 1 THEN 'blog' "
        "WHEN 2 THEN 'shop' ELSE 'm' END) || '.' || source || "
        "(CASE doc_id % 3 WHEN 0 THEN '.com' WHEN 1 THEN '.org' "
        "ELSE '.net' END) || "
        f"'/p' || CAST(doc_id % 97 AS {cast_type}) || "
        "(CASE WHEN doc_id % 7 = 0 THEN '?ref=' || lang ELSE '' END)"
    )


def domain_rollup(docs_with_url):
    """Per-registered-domain rollup over a corpus with a URL column.

    Registered domain = last two dot-labels of the host (the eTLD+1
    approximation every crawl frontier uses absent a public-suffix
    list). Output: (reg_domain, n_docs, n_hosts, n_paths, n_langs,
    total_chars, n_with_query) — all BIGINT.
    """
    parts = docs_with_url.select(
        F.expr("parse_url(url, 'HOST')").alias("host"),
        F.expr("parse_url(url, 'PATH')").alias("path"),
        F.expr("parse_url(url, 'QUERY')").alias("query"),
        "lang",
        "n_chars",
    ).withColumn(
        "reg_domain", F.regexp_extract("host", r"([^.]+\.[^.]+)$", 1)
    )
    return parts.groupBy("reg_domain").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
        F.countDistinct("path").cast("long").alias("n_paths"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(F.when(F.col("query").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_with_query"),
    )

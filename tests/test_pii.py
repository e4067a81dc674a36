"""Semantics of the PII scrub (operators/pii.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dirty_js_etl_spark.operators.pii import (
    DEFAULT_PII_PATTERNS,
    redact_pii,
)


def _rows(spark):
    return spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.co.uk and bob@x.io now"),
            (2, "server at 192.168.100.1 port 80"),
            (3, "call 555-0042 or 555-123-4567"),
            (4, "clean text with no pii at all"),
            (5, None),
        ],
        "doc_id long, text string",
    )


def test_redaction_removes_every_match(spark):
    out = redact_pii(_rows(spark), "text")
    # after the scrub, no pattern matches the redacted text anywhere
    checks = [
        F.sum(F.regexp_count("redacted", F.lit(pat))).alias(name)
        for name, pat, _ in DEFAULT_PII_PATTERNS
    ]
    row = out.filter(F.col("redacted").isNotNull()).agg(*checks).collect()[0]
    assert all(v == 0 for v in row), row.asDict()


def test_counts_and_placeholders(spark):
    got = {r.doc_id: r for r in redact_pii(_rows(spark), "text").collect()}
    assert got[1].n_email == 2 and got[1].n_ipv4 == 0 and got[1].n_phone == 0
    assert got[1].redacted == "mail <EMAIL> and <EMAIL> now"
    assert got[2].n_ipv4 == 1
    assert got[2].redacted == "server at <IP> port 80"
    # the full 3-3-4 number redacts WHOLE (the suffix-only
    # pattern used to leave '-4567' in the scrubbed output); 555-0042
    # still matches the 7-digit suffix form
    assert got[3].n_phone_full == 1 and got[3].n_phone == 1
    assert got[3].redacted == "call <PHONE> or <PHONE>"
    assert got[4].n_email == got[4].n_ipv4 == got[4].n_phone == 0
    assert got[4].redacted == "clean text with no pii at all"


def test_null_text_passes_through(spark):
    got = {r.doc_id: r for r in redact_pii(_rows(spark), "text").collect()}
    assert got[5].redacted is None
    assert got[5].n_email is None and got[5].n_phone is None


def test_counts_follow_replacement_order(spark):
    # "168.100" inside the IP would match the phone pattern on RAW text;
    # counting after the IP redacts reports what the scrub replaced
    df = spark.createDataFrame(
        [(1, "at 192.168.100.1 ok")], "doc_id long, text string"
    )
    r = redact_pii(df, "text").collect()[0]
    assert r.n_ipv4 == 1 and r.n_phone == 0 and r.n_phone_full == 0
    assert r.redacted == "at <IP> ok"


def test_redaction_sql_escapes_quotes():
    # A pattern/placeholder containing a single quote must
    # produce a syntactically valid oracle string (doubled quotes)
    import duckdb

    from dirty_js_etl_spark.operators.pii import pii_redaction_sql

    counts, red = pii_redaction_sql(
        "t", [("quo", r"o'[a-z]+", "<O'NAME>")]
    )
    row = duckdb.sql(
        f"SELECT {counts}, {red} AS red FROM (SELECT 'call o''brien' AS t)"
    ).fetchone()
    assert row == (1, "call <O'NAME>")

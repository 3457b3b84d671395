"""PII redaction: planted spans, clean-row negatives, engine parity traps."""

from polycheck_spark.operators import pii as P


def _one(spark, text):
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    return P.redact_pii(df).collect()[0]


def test_all_three_kinds_found_and_replaced(spark):
    r = _one(spark, "mail a.b-c_d%9+x@sub.example.co.uk or 10.200.3.44 "
                    "or 555-867-5309 today")
    assert (r["n_emails"], r["n_ips"], r["n_phones"]) == (1, 1, 1)
    assert r["clean_text"] == "mail <EMAIL> or <IP> or <PHONE> today"


def test_clean_text_stays_untouched(spark):
    s = "version 1.2.3 of the 2024-01-01 build costs 1.999 dollars"
    r = _one(spark, s)
    assert (r["n_emails"], r["n_ips"], r["n_phones"]) == (0, 0, 0)
    assert r["clean_text"] == s


def test_version_quad_matches_ipv4_by_design(spark):
    # documented behavior: the IPv4 pattern is purely syntactic (no 0-255
    # range check), so a 4-part version string IS redacted — pinned here so
    # a future "smarter" pattern is a deliberate, oracle-synced change
    r = _one(spark, "release 10.1.2.3 notes")
    assert r["n_ips"] == 1 and r["clean_text"] == "release <IP> notes"


def test_counts_use_original_text_not_redacted(spark):
    # an email whose domain would look like nothing after redaction;
    # counts must reflect the pre-redaction text independently per kind
    r = _one(spark, "a@b.com 1.2.3.4 c@d.org")
    assert r["n_emails"] == 2 and r["n_ips"] == 1
    assert r["clean_text"] == "<EMAIL> <IP> <EMAIL>"


def test_email_wins_over_embedded_digit_runs(spark):
    # digits inside an email local part must not surface as phone/ip after
    # the email is collapsed first (application order email -> ip -> phone)
    r = _one(spark, "reach 555-123-4567.bill@corp.net maybe")
    assert r["n_emails"] == 1
    assert r["clean_text"] == "reach <EMAIL> maybe"
    # the phone COUNT still sees the raw text (counts are pre-redaction)
    assert r["n_phones"] == 1


def test_multiple_spans_per_doc_all_replaced(spark):
    r = _one(spark, "x@y.io z@w.ai 1.1.1.1 2.2.2.2 111-222-3333 444-555-6666")
    assert (r["n_emails"], r["n_ips"], r["n_phones"]) == (2, 2, 2)
    assert r["clean_text"] == "<EMAIL> <EMAIL> <IP> <IP> <PHONE> <PHONE>"


def test_profile_aggregates_by_group(spark):
    rows = [(1, "en", "a@b.com and 1.2.3.4"), (2, "en", "clean"),
            (3, "de", "555-123-9999"), (4, "de", "also clean")]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["lang"]: r for r in P.pii_profile(df).collect()}
    assert got["en"]["n_docs"] == 2 and got["en"]["n_docs_with_pii"] == 1
    assert got["en"]["total_emails"] == 1 and got["en"]["total_ips"] == 1
    assert got["de"]["total_phones"] == 1 and got["de"]["n_docs_with_pii"] == 1


def test_redaction_plan_has_no_python_and_no_shuffle(spark):
    df = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    plan = P.redact_pii(df)._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF",
                   "Exchange"):
        assert marker not in plan, (marker, plan)

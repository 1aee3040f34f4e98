"""Golden + property tests for the domain expression library.

Goldens are hand-computed from the reference's semantics (SURVEY §1.4,
App.java:744-825, utils.go:13-65) — the slot quirks, l2tld detection,
cleanup rescue, validator corner cases. The property test cross-checks
the native Column expressions against the pure-Python parity twins on
adversarial inputs (SURVEY §5.3).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from sstable_migrator_spark.functions.domains import (
    apex_domain,
    apex_domain_naive,
    attempt_cleanup,
    is_valid_domain,
    py_domain_parts,
    py_is_valid_domain,
    strip_dot,
    rejoin_subdomain,
    surt_line_to_domain,
    with_domain_parts,
)

TLDS = ["com", "net", "org", "de", "uk", "in", "io", "ai", "co", "gov", "xyz", "ru"]


def _run_expr(spark, values, expr_fn, in_type="string"):
    df = spark.createDataFrame([(v,) for v in values], f"v {in_type}")
    return [r[0] for r in df.select(expr_fn(F.col("v")).alias("o")).collect()]


# --- validity (utils.go:13-65) --------------------------------------------

VALID = [
    "example.com",
    "a.b",
    "x_y.example.com",          # underscore allowed (utils.go:35)
    "xn--test.de",
    "a-b.c-d.com",
    "example.com.",             # trailing dot allowed
    "1.2.3.4a",                 # letter makes it non-numeric
    "a" * 63 + ".com",          # 63-char label ok
    "single",                   # single label IS valid per the validator
]
INVALID = [
    "",
    "a..b",                     # empty label
    "-a.com",                   # leading hyphen
    "a-.com",                   # hyphen before dot
    "a.com-",                   # trailing hyphen
    "1.2.3.4",                  # all-numeric
    "123.99",
    "a" * 64 + ".com",          # 64-char label
    "a!b.com",                  # bad char
    "a b.com",                  # space
    ("a" * 63 + ".") * 4 + "com",  # 256 chars total
]


def test_validity_goldens(spark):
    got = _run_expr(spark, VALID + INVALID, is_valid_domain)
    assert got == [True] * len(VALID) + [False] * len(INVALID)


# --- strip_dot (utils.go:67-74) -------------------------------------------


def test_strip_dot_goldens(spark):
    cases = {
        "example.com.": "example.com",
        "example.com": "example.com",
        "ab.": "ab",
        "a.": "a.",     # len<=2 quirk: unchanged (utils.go:69 dlen-1<=0)
        "abc.": "abc",
    }
    got = _run_expr(spark, list(cases), strip_dot)
    assert got == list(cases.values())


# --- cleanup (App.java:827-841, utils.go:207-220) -------------------------


def test_cleanup_goldens(spark):
    cases = {
        "*.example.com": "example.com",
        '\\"example.com': "example.com",
        "*.a..b": None,          # cleaned but still invalid
        "example.com": None,     # not prefixed -> no cleanup
        "*.": None,              # too short
        "*a.com": None,          # prefix is '*a', not '*.'
    }
    got = _run_expr(spark, list(cases), attempt_cleanup)
    assert got == list(cases.values())


# --- with_domain_parts slot layout (App.java:788-824) ---------------------

PARTS_GOLDENS = {
    # no l2tld: p2='' and p3 gets the label (the documented swap quirk)
    "example.com": ("example.com", "com", "", "com", "", "example", "", "", "", ""),
    # l2tld: p2=l2tld, p3='' and the label lands in p4
    "foo.co.uk": ("foo.co.uk", "uk", "co", "uk", "co", "", "foo", "", "", ""),
    "abc.co.de": ("abc.co.de", "de", "co", "de", "co", "", "abc", "", "", ""),
    "a.b.gov.in": ("b.gov.in", "in", "gov", "in", "gov", "", "b", "a", "", ""),
    # deep domain, reverse fill
    "e.d.c.b.a.com": ("a.com", "com", "", "com", "", "a", "b", "c", "d", "e"),
    # 7 labels: deepest label is silently truncated (writer reads 7 slots)
    "f.e.d.c.b.a.com": ("a.com", "com", "", "com", "", "a", "b", "c", "d", "e"),
    # uppercase normalizes
    "GoOgLe.CoM": ("google.com", "com", "", "com", "", "google", "", "", "", ""),
    # trailing dot normalized before split
    "example.com.": ("example.com", "com", "", "com", "", "example", "", "", "", ""),
}


def test_domain_parts_goldens(spark):
    doms = list(PARTS_GOLDENS)
    df = spark.createDataFrame([(d,) for d in doms], "v string")
    rows = with_domain_parts(df, "v", "dp", TLDS).select("dp").collect()
    for d, row in zip(doms, rows):
        dp = row["dp"]
        exp = PARTS_GOLDENS[d]
        got = (dp["apex"], dp["tld"], dp["l2tld"], dp["p1"], dp["p2"], dp["p3"],
               dp["p4"], dp["p5"], dp["p6"], dp["p7"])
        assert dp["success"], d
        assert got == exp, f"{d}: {got} != {exp}"


def test_domain_parts_failure(spark):
    df = spark.createDataFrame([("nodots",)], "v string")
    rows = with_domain_parts(df, "v", "dp", TLDS).select("dp").collect()
    assert rows[0]["dp"]["success"] is False


def test_apex_variants(spark):
    got = _run_expr(spark, ["a.b.co.uk"], lambda c: apex_domain(c, TLDS))
    assert got == ["b.co.uk"]
    got = _run_expr(spark, ["a.b.co.uk"], apex_domain_naive)
    assert got == ["co.uk"]
    # single label: Go returns input unchanged
    got = _run_expr(spark, ["single"], lambda c: apex_domain(c, TLDS))
    assert got == ["single"]


# --- SURT + subdomain rejoin ----------------------------------------------


def test_surt_line(spark):
    got = _run_expr(spark, ["com,example,sub)/path key=1"], surt_line_to_domain)
    assert got == ["sub.example.com"]


def test_rejoin_subdomain(spark):
    df = spark.createDataFrame(
        [("com", "", "example", "*", "www", "", "")], "a string,b string,c string,d string,e string,f string,g string"
    )
    out = df.select(
        rejoin_subdomain([F.col(c) for c in df.columns]).alias("o")
    ).collect()[0][0]
    # reversed, skipping '' and '*': www.example.com
    assert out == "www.example.com"


# --- property: native expressions == python twins --------------------------

ALPHABET = list("abz019-._*AZ") + ['\\', '"']


def _random_domain(rng: random.Random) -> str:
    n = rng.randint(1, 12)
    return "".join(rng.choice(ALPHABET) for _ in range(n)) if rng.random() < 0.3 else \
        ".".join(
            "".join(rng.choice("abc019-_") for _ in range(rng.randint(0, 8)))
            for _ in range(rng.randint(1, 9))
        )


def test_property_parity(spark):
    rng = random.Random(42)
    domains = [_random_domain(rng) for _ in range(500)]
    domains += [
        "a" * 63 + ".com", "a" * 64 + ".com", ("a." * 126) + "com",
        "*.ok.com", '\\"ok.com', "x.", ".", "..", "co.uk", "uk",
    ]
    df = spark.createDataFrame([(d,) for d in domains], "v string")
    rows = with_domain_parts(
        df.select(F.col("v"), is_valid_domain(F.col("v")).alias("valid")),
        "v",
        "dp",
        TLDS,
    ).collect()
    tldset = set(TLDS)
    for r in rows:
        assert r["valid"] == py_is_valid_domain(r["v"]), f"validity {r['v']!r}"
        exp = py_domain_parts(r["v"], tldset)
        dp = r["dp"]
        for k in ("success", "apex", "tld", "l2tld", "p1", "p2", "p3", "p4", "p5", "p6", "p7"):
            assert dp[k] == exp[k], f"{r['v']!r} slot {k}: {dp[k]!r} != {exp[k]!r}"


def test_apex_exact_empty_label_quirk(spark):
    """Go's TLDs map contains '' (TLD.txt trailing-newline split), so an
    empty second-to-last label takes the l2TLD branch: getApexDomain
    keeps THREE labels for 'a.b..com'. apex_domain_exact replicates
    that; the analytic apex_domain (blank-free set) does not."""
    from sstable_migrator_spark.functions.domains import apex_domain_exact

    got = _run_expr(spark, ["a.b..com"], lambda c: apex_domain_exact(c, TLDS))
    assert got == ["b..com"]  # l2TLD branch: last 3 labels
    got = _run_expr(spark, ["a.b..com"], lambda c: apex_domain(c, TLDS))
    assert got == [".com"]  # analytic form: '' not a TLD, last 2 labels

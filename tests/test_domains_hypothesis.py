"""Hypothesis property tests: native domain expressions == Python
parity twins on adversarially generated inputs (SURVEY §5.3).

Complements the seeded-random batch in test_domains.py with
shrinking-enabled search over the validator's edge space: empty labels,
63/64-char labels, leading/trailing hyphens, wildcard and quote
prefixes, trailing dots, all-numeric names, junk characters. Each
example is a LIST of domains so one Spark job amortizes over many
generated strings."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sstable_migrator_spark.functions.domains import (
    is_valid_domain,
    py_domain_parts,
    py_is_valid_domain,
    with_domain_parts,
)

TLDS = ["com", "org", "net", "co", "uk", "de", "io"]

_label = st.text(alphabet="abz019-_", max_size=70)
_dotted = st.lists(_label, min_size=1, max_size=10).map(".".join)
_junky = st.text(alphabet=list('abz019-._*AZ\\" '), max_size=40)
_domain = st.one_of(
    _dotted,
    _junky,
    _dotted.map(lambda d: "*." + d),
    _dotted.map(lambda d: '\\"' + d),
    _dotted.map(lambda d: d + "."),
    st.sampled_from(
        [
            "a" * 63 + ".com",
            "a" * 64 + ".com",
            "a" * 63 + "." + "b" * 63 + "." + "c" * 63 + "." + "d" * 61,
            "0123.456", "-x.com", "x-.com", "x.-y.com", "", ".", "..",
            "co.uk", "a.co.uk", "uk",
        ]
    ),
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(domains=st.lists(_domain, min_size=1, max_size=40))
def test_native_equals_python_twins(spark, domains):
    df = spark.createDataFrame([(d,) for d in domains], "v string")
    rows = with_domain_parts(
        df.select("v", is_valid_domain(F.col("v")).alias("valid")),
        "v",
        "dp",
        TLDS,
    ).collect()
    tldset = set(TLDS)
    for r in rows:
        assert r["valid"] == py_is_valid_domain(r["v"]), f"validity {r['v']!r}"
        exp = py_domain_parts(r["v"], tldset)
        for k in ("success", "apex", "tld", "l2tld",
                  "p1", "p2", "p3", "p4", "p5", "p6", "p7"):
            assert r["dp"][k] == exp[k], f"{r['v']!r} slot {k}"

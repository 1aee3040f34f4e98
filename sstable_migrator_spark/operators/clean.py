"""Cleaner parity (SURVEY §3.2): the three stdin->stdout validators as
single-pass DataFrame transforms with error-coded reject streams.

The reference fans each line across 500 goroutines and emits valid rows
to stdout, rejects (prefixed ``EL``/``ED``/``EA``) to stderr
(utils/cleaner/utils.go:95-165, clean_rdns.go, clean_subdomains.go,
clean_cname.go). Here the worker pool is partition parallelism and the
stream split is one DataFrame with an ``error_code`` column
(NULL == valid): filter on it for the valid and the reject side.
Output order is unordered on both sides (the Go pool does not preserve
order), which licenses Spark's unordered semantics.

Error codes:
    EL  wrong arity (line doesn't split into the expected field count)
    ED  invalid domain (after cleanup attempt)
    EA  apex mismatch (recomputed apex != provided apex; rdns_v1 only)
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sstable_migrator_spark.functions.domains import (
    apex_domain,
    apex_domain_exact,
    is_valid_domain,
    rejoin_subdomain,
    strip_dot,
    validate_or_clean,
)


def _fields(n: int) -> list[Column]:
    parts = F.split(F.col("value"), ",")
    return [F.size(parts).alias("_arity")] + [
        F.get(parts, i).alias(f"_f{i}") for i in range(n)
    ]


def clean_rdns(lines: DataFrame) -> DataFrame:
    """``-rdns`` (clean_rdns.go:43-71): input ``ip,domain``; both fields
    trailing-dot-stripped; domain validated (cleanup allowed); output
    ``ip,domain``. Rejects: EL arity != 2, ED invalid domain."""
    df = lines.select("value", *_fields(2))
    ip = strip_dot(F.col("_f0"))
    dom = validate_or_clean(strip_dot(F.col("_f1")))
    return df.select(
        "value",
        F.when(F.col("_arity") != 2, F.lit("EL"))
        .when(dom.isNull(), F.lit("ED"))
        .alias("error_code"),
        F.when(F.col("_arity") == 2, ip).alias("ip"),
        F.when(F.col("_arity") == 2, dom).alias("domain"),
        F.when((F.col("_arity") == 2) & dom.isNotNull(), F.concat_ws(",", ip, dom)).alias("output"),
    )


def clean_rdns_v1(lines: DataFrame, tld_set: Iterable[str] | None = None) -> DataFrame:
    """Legacy 4-col ``f0,apexdomain,domain,f3`` (clean_rdns.go:9-41):
    validates domain and recomputes the apex CASE-SENSITIVELY over the
    as-given string (getApexDomain never lowercases and the l2tld map
    lookup is case-sensitive, utils.go:178-205) — EA when it disagrees
    with the given apex. Valid output is the Go line exactly:
    ``f0,domain,f3`` — the apex field is DROPPED (clean_rdns.go:39).
    (The reference indexes fields before its arity check — a crash we
    do not copy; SURVEY §7.3.)"""
    df = lines.select("value", *_fields(4))
    dom = strip_dot(F.col("_f2"))
    apex_given = strip_dot(F.col("_f1"))
    apex_calc = strip_dot(apex_domain_exact(dom, tld_set))
    valid = is_valid_domain(dom)
    return df.select(
        "value",
        F.when(F.col("_arity") != 4, F.lit("EL"))
        .when(~valid, F.lit("ED"))
        .when(apex_calc != apex_given, F.lit("EA"))
        .alias("error_code"),
        F.when(
            (F.col("_arity") == 4) & valid & (apex_calc == apex_given),
            F.concat_ws(",", F.col("_f0"), dom, F.col("_f3")),
        ).alias("output"),
    )


def clean_subdomains(lines: DataFrame) -> DataFrame:
    """``-subs`` (clean_subdomains.go:9-43): 7 reversed parts +
    last_seen; re-join skipping ``''``/``*`` (deepest label first in
    output), validate; output ``domain,last_seen``."""
    df = lines.select("value", *_fields(8))
    # one definition of the skip-''/'*' rejoin rule: functions.domains
    dom = rejoin_subdomain([strip_dot(F.col(f"_f{i}")) for i in range(7)])
    valid = is_valid_domain(dom)
    return df.select(
        "value",
        F.when(F.col("_arity") != 8, F.lit("EL"))
        .when(~valid, F.lit("ED"))
        .alias("error_code"),
        F.when((F.col("_arity") == 8) & valid, dom).alias("domain"),
        F.when((F.col("_arity") == 8) & valid, F.concat_ws(",", dom, F.col("_f7"))).alias("output"),
    )


def clean_cname(lines: DataFrame) -> DataFrame:
    """``-cname`` (clean_cname.go:9-31): ``target,apexdomain,domain``
    all validated AS-GIVEN and emitted AS-GIVEN — the Go cname path
    never calls stripDot (unlike the rdns paths), so trailing-dot
    FQDNs validate (the validator tolerates one terminal dot) and
    survive to the ``target,domain`` output byte-for-byte."""
    df = lines.select("value", *_fields(3))
    tgt, apex, dom = F.col("_f0"), F.col("_f1"), F.col("_f2")
    all_valid = is_valid_domain(tgt) & is_valid_domain(apex) & is_valid_domain(dom)
    return df.select(
        "value",
        F.when(F.col("_arity") != 3, F.lit("EL"))
        .when(~all_valid, F.lit("ED"))
        .alias("error_code"),
        F.when((F.col("_arity") == 3) & all_valid, F.concat_ws(",", tgt, dom)).alias("output"),
    )

"""Domain-name decomposition & validation as native Spark expressions.

Re-expresses the reference's core semantics (behavior studied at
/root/reference — no code copied):

- ``is_valid_domain``  — RFC-1035-ish validator, Go-cleaner semantics
  (utils/cleaner/utils.go:13-65). Canonical per SURVEY §7.3 (the Java
  path uses commons-validator; the Go state machine is authoritative).
- ``strip_dot``        — drop one trailing dot (utils.go:67-74).
- ``attempt_cleanup``  — strip leading ``\\"`` or ``*.`` then revalidate
  (App.java:827-841, utils.go:207-220).
- ``with_domain_parts`` — fixed-arity reversed label decomposition
  (App.java:744-825): (success, apex, p1..p7). NOTE: the reference's
  overflow-join branch (App.java:812-817) appends an 8th part slot that
  the SSTable writers never read (they bind indices 2..8 only,
  App.java:446-477), so labels deeper than p7 are silently dropped;
  p1..p7 therefore have the closed form implemented here.
- ``apex_domain``      — TLD-aware apex (utils.go:178-205 ==
  App.java:744-784 semantics); ``apex_domain_naive`` — the ClickHouse
  2-label variant (misc/clickhouse_queries.md:24).

All functions take/return ``pyspark.sql.Column`` and need a TLD set
(default: packaged ``data/tlds.txt``). Membership tests compile to an
``IN``-set (Catalyst InSet, O(1) hash per row) — the broadcast-dimension
analog of the reference's in-heap HashMap (App.java:43-56).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F

_DATA_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "data")

# Per-label RFC-1035 pattern (Go semantics: underscore allowed, label
# 1-63 chars, no leading/trailing hyphen). RE2- and Java-regex compatible
# (no lookahead) so the same pattern serves Spark and the DuckDB oracle.
LABEL_RE = "[A-Za-z0-9_](?:[A-Za-z0-9_-]{0,61}[A-Za-z0-9_])?"
DOMAIN_CORE_RE = f"^{LABEL_RE}(?:\\.{LABEL_RE})*$"
ALL_NUMERIC_RE = "^[0-9.]*$"


def default_tld_set() -> list[str]:
    """Packaged TLD dimension (analog of the reference's TLD.txt, 1,451
    rows loaded into a HashMap at App.java:48-56)."""
    with open(os.path.join(_DATA_DIR, "tlds.txt")) as f:
        return sorted({ln.strip() for ln in f if ln.strip()})


def strip_dot(col: Column) -> Column:
    """Remove one trailing dot (FQDN -> name); no-op for strings of
    length <= 2 (utils.go:67-74 quirk: ``dlen-1 <= 0`` guard)."""
    return F.when(
        (F.length(col) > 2) & col.endswith("."),
        col.substr(F.lit(1), F.length(col) - 1),
    ).otherwise(col)


def _norm_trailing_dot(col: Column) -> Column:
    """Strip one trailing dot when length > 1 (the validator's own
    normalization step, distinct from strip_dot's len>2 quirk)."""
    return F.when(
        (F.length(col) > 1) & col.endswith("."), col.substr(F.lit(1), F.length(col) - 1)
    ).otherwise(col)


def _valid_norm(t: Column) -> Column:
    """Validity checks over an ALREADY-normalized (trailing-dot-stripped)
    value. Callers on hot paths stage ``t`` as a real column first so
    this tree references one attribute 4 times instead of inlining the
    normalization CASE 4 times (plan size, then codegen size)."""
    return (
        (F.length(t) >= 1)
        & (F.length(t) <= 253)
        & t.rlike(DOMAIN_CORE_RE)
        & ~t.rlike(ALL_NUMERIC_RE)
    )


def is_valid_domain(col: Column) -> Column:
    """Go-cleaner domain validity as one boolean Column.

    Equivalent to utils.go:13-65: after allowing one trailing dot, the
    name must be 1..253 chars of dot-separated 1..63-char labels
    ([A-Za-z0-9_-], no label-edge hyphen), and not all digits/dots.
    """
    return _valid_norm(_norm_trailing_dot(col))


def cleanup_candidate(col: Column) -> Column:
    """P4 precursor: the substring a cleanup would test — defined when
    the value starts with ``\\"`` or ``*.`` and is long enough
    (utils.go:207-220), NULL otherwise."""
    return F.when(
        (F.length(col) > 2) & (col.startswith('\\"') | col.startswith("*.")),
        col.substr(F.lit(3), F.length(col) - 2),
    )


def attempt_cleanup(col: Column) -> Column:
    """P4: strip a leading ``\\"`` or ``*.`` and return the cleaned
    domain when the result validates; otherwise NULL (caller decides
    drop/keep). Mirrors utils.go:207-220 (len<=2 -> too short -> NULL).
    """
    stripped = cleanup_candidate(col)
    return F.when(is_valid_domain(stripped), stripped)


def validate_or_clean(col: Column) -> Column:
    """Go-cleaner acceptance: the domain itself if valid, else its
    successful cleanup, else NULL. (The Java path drops even cleanable
    domains — App.java:364 bug — which we deliberately do NOT copy;
    SURVEY §3.1 step 2.)

    NOTE: this pure-Column form nests CASE trees (fine for tests /
    small plans). Hot paths should use ``with_clean_domain`` below,
    which stages the candidate as a real column so whole-stage codegen
    stays under the 64KB method limit.
    """
    return F.when(is_valid_domain(col), col).otherwise(attempt_cleanup(col))


def with_clean_domain(df, src: str = "domain", out: str = "domain_clean"):
    """Staged, codegen-friendly validate_or_clean: computes the cleanup
    candidate as an intermediate column so every ``is_valid_domain``
    call sees a plain attribute (no exponential CASE nesting)."""
    df = df.withColumn("_vc_t", _norm_trailing_dot(F.col(src)))
    df = df.withColumn("_vc_cand", cleanup_candidate(F.col(src)))
    df = df.withColumn("_vc_candt", _norm_trailing_dot(F.col("_vc_cand")))
    df = df.withColumn(
        out,
        F.when(_valid_norm(F.col("_vc_t")), F.col(src)).when(
            _valid_norm(F.col("_vc_candt")), F.col("_vc_cand")
        ),
    )
    return df.drop("_vc_t", "_vc_cand", "_vc_candt")


def _tld_member(c: Column, tld_set: Iterable[str]) -> Column:
    return c.isin(*list(tld_set))


def _strip_lower(col: Column) -> Column:
    """lowercase + drop one trailing dot (Java's String.split drops
    trailing empty strings; Spark's keeps them — normalize first)."""
    low = F.lower(col)
    return F.when(
        (F.length(low) > 1) & low.endswith("."), low.substr(F.lit(1), F.length(low) - 1)
    ).otherwise(low)


def _parts_struct(parts: Column, n: Column, has_l2: Column, prev: Column) -> Column:
    """Slot layout from a pre-split label array (see with_domain_parts).

    ``has_l2``/``prev`` are pre-staged columns so the TLD membership
    tree appears ONCE in the plan instead of being inlined into apex,
    l2tld, p2 and p3.
    """

    def at(i: Column) -> Column:
        # 1-based element_at with bounds guard -> '' outside range
        return F.when((i >= 1) & (i <= n), F.element_at(parts, i)).otherwise(F.lit(""))

    success = n >= 2
    tld = F.when(success, F.element_at(parts, n)).otherwise(F.lit(""))
    l2tld = F.when(has_l2, prev).otherwise(F.lit(""))

    label_start = F.greatest(n - F.when(has_l2, F.lit(2)).otherwise(F.lit(1)), F.lit(1))
    apex = F.when(
        success, F.concat_ws(".", F.slice(parts, label_start, n))
    ).otherwise(F.lit(""))

    p2 = l2tld
    p3 = F.when(has_l2, F.lit("")).otherwise(F.when(success, at(n - 1)).otherwise(F.lit("")))
    p4 = F.when(success, at(n - 2)).otherwise(F.lit(""))
    p5 = F.when(success, at(n - 3)).otherwise(F.lit(""))
    p6 = F.when(success, at(n - 4)).otherwise(F.lit(""))
    p7 = F.when(success, at(n - 5)).otherwise(F.lit(""))

    return F.struct(
        success.alias("success"),
        apex.alias("apex"),
        tld.alias("tld"),
        l2tld.alias("l2tld"),
        tld.alias("p1"),
        p2.alias("p2"),
        p3.alias("p3"),
        p4.alias("p4"),
        p5.alias("p5"),
        p6.alias("p6"),
        p7.alias("p7"),
    )


def with_domain_parts(
    df, src: str = "domain", out: str = "dp", tld_set: Iterable[str] | None = None
):
    """F5 — the flagship derived projection (App.java:744-825): appends
    ``out``, a struct
    ``(success, apex, tld, l2tld, p1, p2, p3, p4, p5, p6, p7)`` of the
    domain in column ``src``:

    - lowercase; strip one trailing dot; split on '.';
      ``tldIndex = n-1``; fail when n < 2.
    - l2tld exists iff ``parts[tldIndex-1]`` is in the TLD set.
    - apex = parts[labelIndex:] joined with '.', where
      ``labelIndex = max(tldIndex - (2 if l2tld else 1), 0)``.
    - Slot layout (writer-visible closed form, see module docstring):
      p1 = tld; (p2, p3) = (l2tld, '') if l2tld else ('', parts[n-2]);
      p4..p7 = parts[n-3], parts[n-4], parts[n-5], parts[n-6] or ''.

    Staged: the label array is materialized as a column so the 11 slot
    expressions read one attribute (split runs once per row and
    whole-stage codegen stays under the 64KB method limit)."""
    tlds = list(tld_set) if tld_set is not None else default_tld_set()
    df = df.withColumn("_dp_parts", F.split(_strip_lower(F.col(src)), "\\."))
    df = df.withColumn("_dp_n", F.size(F.col("_dp_parts")))
    # stage prev + TLD membership so the member tree appears once
    df = df.withColumn(
        "_dp_prev",
        F.when(
            F.col("_dp_n") >= 2, F.element_at(F.col("_dp_parts"), F.col("_dp_n") - 1)
        ),
    )
    df = df.withColumn(
        "_dp_hasl2", F.coalesce(_tld_member(F.col("_dp_prev"), tlds), F.lit(False))
    )
    df = df.withColumn(
        out,
        _parts_struct(
            F.col("_dp_parts"),
            F.col("_dp_n"),
            has_l2=F.col("_dp_hasl2"),
            prev=F.coalesce(F.col("_dp_prev"), F.lit("")),
        ),
    )
    return df.drop("_dp_parts", "_dp_n", "_dp_prev", "_dp_hasl2")


def apex_domain(col: Column, tld_set: Iterable[str] | None = None) -> Column:
    """F4 — TLD-aware apex (utils.go:178-205). For single-label input the
    Go function returns the input unchanged."""
    tlds = list(tld_set) if tld_set is not None else default_tld_set()
    low = F.lower(col)
    d = F.when(
        (F.length(low) > 1) & low.endswith("."), low.substr(F.lit(1), F.length(low) - 1)
    ).otherwise(low)
    parts = F.split(d, "\\.")
    n = F.size(parts)
    prev = F.element_at(parts, n - 1)
    has_l2 = F.when(n >= 2, _tld_member(prev, tlds)).otherwise(F.lit(False))
    label_start = F.greatest(n - F.when(has_l2, F.lit(2)).otherwise(F.lit(1)), F.lit(1))
    return F.when(n >= 2, F.concat_ws(".", F.slice(parts, label_start, n))).otherwise(d)


def apex_domain_exact(col: Column, tld_set: Iterable[str] | None = None) -> Column:
    """F4, byte-exact form: getApexDomain as the Go cleaner actually
    runs it (utils.go:178-205) — NO lowercasing, NO dot stripping, and
    a case-SENSITIVE l2tld map lookup (so 'example.CO.uk' does not get
    the two-level-TLD treatment 'example.co.uk' gets). ``apex_domain``
    above is the normalized analytic form whose lowercase output the
    oracle queries pin; this one exists for cleaner parity
    (clean_rdns_v1's EA compare is over the as-given string).

    Quirk replicated: the Go TLDs map is built by splitting TLD.txt on
    newline, which keeps the trailing blank — so the EMPTY STRING is a
    member, and an empty second-to-last label ('a..com') takes the
    l2TLD branch. The default set here drops blanks (right for the
    analytic form), so this exact twin re-adds '' to the membership
    test. In clean_rdns_v1 the validity gate rejects empty labels
    before this runs; the quirk only shows standalone."""
    tlds = list(tld_set) if tld_set is not None else default_tld_set()
    if "" not in tlds:
        tlds = [*tlds, ""]
    parts = F.split(col, "\\.")
    n = F.size(parts)
    prev = F.element_at(parts, n - 1)
    has_l2 = F.when(n >= 2, _tld_member(prev, tlds)).otherwise(F.lit(False))
    label_start = F.greatest(n - F.when(has_l2, F.lit(2)).otherwise(F.lit(1)), F.lit(1))
    return F.when(n >= 2, F.concat_ws(".", F.slice(parts, label_start, n))).otherwise(col)


def apex_domain_naive(col: Column) -> Column:
    """ClickHouse 2-label apex (misc/clickhouse_queries.md:24):
    last two dot-separated labels joined."""
    parts = F.split(F.lower(col), "\\.")
    n = F.size(parts)
    return F.concat_ws(".", F.slice(parts, F.greatest(n - 1, F.lit(1)), n))


def reverse_surt_host(col: Column) -> Column:
    """F7 — CommonCrawl SURT host ``com,example,sub`` -> ``sub.example.com``
    (utils/cc_download_convert/convert.go:10-27). Input is the part
    before ')' of a SURT line."""
    return F.concat_ws(".", F.reverse(F.split(col, ",")))


def surt_line_to_domain(col: Column) -> Column:
    """Full SURT line -> domain: take host segment before ')' (the
    shell's ``cut -d')' -f1``, download_and_convert.sh:8), reverse."""
    return reverse_surt_host(F.substring_index(col, ")", 1))


def rejoin_subdomain(parts_cols: list[Column]) -> Column:
    """F8 — join reversed 7-slot parts with '.', skipping '' and '*'
    (clean_subdomains.go:20-30): deepest label last in output."""
    arr = F.array(*parts_cols)
    kept = F.filter(arr, lambda x: (x != "") & (x != "*") & x.isNotNull())
    return F.concat_ws(".", F.reverse(kept))


# ---------------------------------------------------------------------------
# Pure-Python parity twins — tests only (SURVEY §2.10). Never used in plans.
# ---------------------------------------------------------------------------


def py_is_valid_domain(s: str) -> bool:
    """Line-for-line port of the Go validator's *semantics* for
    property-testing the native expression (utils.go:13-65)."""
    ln = len(s)
    if ln == 0 or ln > 254 or (ln == 254 and s[-1] != "."):
        return False
    last = "."
    non_numeric = False
    partlen = 0
    for c in s:
        if ("a" <= c <= "z") or ("A" <= c <= "Z") or c == "_":
            non_numeric = True
            partlen += 1
        elif "0" <= c <= "9":
            partlen += 1
        elif c == "-":
            if last == ".":
                return False
            non_numeric = True
            partlen += 1
        elif c == ".":
            if last == "." or last == "-":
                return False
            if partlen > 63 or partlen == 0:
                return False
            partlen = 0
        else:
            return False
        last = c
    if last == "-" or partlen > 63:
        return False
    return non_numeric


def py_domain_parts(domain: str, tld_set: set[str]) -> dict:
    """Parity twin of ``with_domain_parts`` (writer-visible slots).

    Normalization contract: strip ONE trailing dot, then split keeping
    empty strings. On validated domains this equals Java's
    String.split-drops-trailing-empties behavior (only a single trailing
    dot can survive validation); on arbitrary garbage the engine follows
    this contract, not Java's.
    """
    d = domain.lower()
    if len(d) > 1 and d.endswith("."):
        d = d[:-1]
    parts = d.split(".")
    n = len(parts)
    if n < 2:
        return {"success": False, "apex": "", "tld": "", "l2tld": "",
                "p1": "", "p2": "", "p3": "", "p4": "", "p5": "", "p6": "", "p7": ""}
    tld_index = n - 1
    has_l2 = parts[tld_index - 1] in tld_set
    l2 = parts[tld_index - 1] if has_l2 else ""
    label_start = max(tld_index - (2 if has_l2 else 1), 0)
    apex = ".".join(parts[label_start:])

    def at(i: int) -> str:
        return parts[i] if 0 <= i < n else ""

    return {
        "success": True,
        "apex": apex,
        "tld": parts[tld_index],
        "l2tld": l2,
        "p1": parts[tld_index],
        "p2": l2,
        "p3": "" if has_l2 else at(tld_index - 1),
        "p4": at(tld_index - 2),
        "p5": at(tld_index - 3),
        "p6": at(tld_index - 4),
        "p7": at(tld_index - 5),
    }

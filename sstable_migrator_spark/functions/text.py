"""Text-analysis expressions for the training-data pipeline extensions.

These are the north-star LLM-pipeline operators (BASELINE.json): token
counting, quality scoring, language-ID heuristic, fingerprinting,
shingling for MinHash. All native Column expressions — at 100 TB these
run inside whole-stage codegen with zero Python in the loop.

Design constraint: every function here must be reproducible in ANSI-ish
SQL (the DuckDB oracle), so hashes are md5-based (both engines agree on
md5 of UTF-8) and tokenization is a plain whitespace regex split.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small fixed stopword sets for the language-ID heuristic. Deterministic
# and tiny by design — the operator shape (token-overlap scoring) is what
# matters, not linguistic accuracy.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "un", "une", "dans", "pour"],
    "es": ["el", "la", "los", "y", "es", "no", "un", "una", "en", "por"],
}
DEFAULT_STOPWORDS = STOPWORDS["en"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization -> array<string> (empty array for blank)."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, "\\s+")
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


_SEP = "\u0001"  # marker char for mark-and-split tokenization


def word_tokens(col: Column) -> Column:
    """BPE-ish regex tokenization: letter runs, digit runs, single
    punctuation marks — closer to how a tokenizer counts than whitespace.
    Implemented as mark-and-split so it stays a native expression."""
    marked = F.regexp_replace(
        F.lower(col), "([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])", "$1" + _SEP
    )
    return F.filter(
        F.split(marked, _SEP), lambda x: F.length(F.trim(x)) > 0
    )


def punct_ratio(col: Column) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    total = F.length(col)
    punct = F.length(F.regexp_replace(col, "[A-Za-z0-9\\s]", ""))
    return F.when(total > 0, punct.cast("double") / total).otherwise(F.lit(0.0))


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or DEFAULT_STOPWORDS
    toks = tokens(F.lower(col))
    hits = F.size(F.filter(toks, lambda x: x.isin(*sw)))
    n = F.size(toks)
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def mean_word_length(col: Column) -> Column:
    toks = tokens(col)
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(n > 0, total.cast("double") / n).otherwise(F.lit(0.0))


def quality_score(col: Column, stopwords: list[str] | None = None) -> Column:
    """Composite [0,1] quality heuristic: enough tokens, sane word
    length, some stopwords, not punctuation soup. Weights fixed so the
    score is deterministic and oracle-reproducible."""
    tc = token_count(col).cast("double")
    len_score = F.least(tc / 100.0, F.lit(1.0))
    mwl = mean_word_length(col)
    wl_score = F.when((mwl >= 3.0) & (mwl <= 10.0), 1.0).otherwise(0.0)
    sw_score = F.least(stopword_ratio(col, stopwords) * 5.0, F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio(col) * 4.0, F.lit(1.0))
    return (
        0.3 * len_score + 0.2 * wl_score + 0.3 * sw_score + 0.2 * punct_score
    )


def lang_id(col: Column) -> Column:
    """N-gram/stopword language-ID heuristic: the language whose
    stopword set overlaps the token set most; ties break on language
    code order; no hits -> 'und'.

    Single-expression form (round-10, guide §4.1 "expression cost"):
    one ``aggregate`` over the token array accumulates all four
    stopword counts in a struct AND resolves the argmax inside the
    aggregate's ``finish`` lambda, so the expensive
    ``split(trim(lower(text)))`` subtree and the whole token pass
    appear ONCE in the expression tree. The previous per-score
    ``size(filter(...))`` form inlined the token subtree into every
    score comparison of the argmax CASE chain (~16 copies for 4
    languages), and even the struct-counts intermediate form re-inlined
    the full ``aggregate`` per CASE branch after projection collapse —
    lambda-bearing subtrees are excluded from Spark's common
    subexpression elimination, so only putting the finish INSIDE the
    lambda deduplicates it (measured 1.04 s -> ~0.37 s -> ~0.26 s
    median for the bare projection over sf0.1 documents, and the two
    forms verified value-identical by exceptAll both ways). Winner and
    tie-break
    (earliest language code on equal scores, 'und' on zero hits) are
    value-identical."""
    toks = tokens(F.lower(col))
    langs = sorted(STOPWORDS)
    zero = F.struct(*[F.lit(0).alias(lang) for lang in langs])

    def _step(acc: Column, x: Column) -> Column:
        return F.struct(
            *[
                (acc[lang] + x.isin(*STOPWORDS[lang]).cast("int")).alias(lang)
                for lang in langs
            ]
        )

    def _finish(acc: Column) -> Column:
        expr = F.lit(langs[0])
        best_score = acc[langs[0]]
        for lang in langs[1:]:
            expr = F.when(acc[lang] > best_score, F.lit(lang)).otherwise(expr)
            best_score = F.greatest(acc[lang], best_score)
        return F.when(best_score > 0, expr).otherwise(F.lit("und"))

    return F.aggregate(toks, zero, _step, _finish)


def normalize_text(col: Column) -> Column:
    """Canonical form for hashing/dedup: lowercase, collapse whitespace,
    strip edges."""
    return F.trim(F.regexp_replace(F.lower(col), "\\s+", " "))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (the exact-dup
    key). md5 chosen over xxhash64 for oracle portability."""
    return F.md5(normalize_text(col))


def bind_once(col: Column, fn) -> Column:
    """Evaluate ``col`` ONCE per row and hand it to ``fn`` as a bound
    lambda variable. Lambda bodies are excluded from common-subexpression
    elimination, so a complex Column referenced inside a higher-order
    function's lambda re-evaluates per ELEMENT — e.g. ``shingles``
    re-ran lower+regexp_replace+trim+split over the whole document for
    every shingle index, O(len^2) per doc (measured 6.9 s -> 0.36 s for
    the bare 5-shingle pass at sf0.1, round 10, guide §1.2/§4). Routing
    the value through a 1-element array transform turns every reference
    into a NamedLambdaVariable — computed once, then O(1) reads."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-shingles of the normalized text -> array<string>.
    Documents shorter than k words get a single shingle of the whole
    text so they still participate in MinHash.

    Shape note (round 10): built as a zip_with fold of the k shifted
    token slices rather than a transform over an index sequence. The
    index form's inner lambda referenced the OUTER bind_once variable
    (``slice(toks, i, ...)``), and ExtractPythonUDFs refuses to pull a
    Python UDF whose input subtree contains such a cross-level lambda
    reference — the minhash Arrow kernel then dies at runtime with
    "Cannot evaluate expression". zip_with lambdas touch only their own
    variables. Value-identical by construction: for n >= k, window i is
    exactly toks[i..i+k-1] joined by a single space (tokens from split
    are never NULL, so concat == concat_ws); for 1 <= n < k the single
    shingle is concat_ws(' ', toks), reproducing the index form's
    slice(toks, 1, least(k, n)) whole-text shingle. NULL text
    propagates to a NULL array (both ``when`` conditions are NULL /
    false, implicit else NULL) exactly as the index form's
    sequence(1, NULL) did — the oracle-pinned edge.
    Pinned by test_minhash_kernel_bit_identity."""

    def _mk(toks: Column) -> Column:
        n = F.size(toks)
        m = F.greatest(n - (k - 1), F.lit(1))
        acc = F.slice(toks, 1, m)
        for j in range(1, k):
            acc = F.zip_with(
                acc,
                F.slice(toks, j + 1, m),
                lambda x, y: F.concat(x, F.lit(" "), y),
            )
        return F.when(n >= k, acc).when(
            toks.isNotNull(), F.array(F.concat_ws(" ", toks))
        )

    return bind_once(F.split(normalize_text(col), " "), _mk)


def char_ngrams(col: Column, n: int = 4) -> Column:
    """Character n-grams of normalized text -> array<string> (distinct
    not applied; caller chooses)."""

    def _mk(t: Column) -> Column:
        ln = F.length(t)
        idx = F.sequence(F.lit(1), F.greatest(ln - (n - 1), F.lit(1)))
        return F.transform(idx, lambda i: t.substr(i, F.lit(n)))

    return bind_once(normalize_text(col), _mk)


def hash64(col: Column, seed: int = 0) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5(seed || x) parsed
    base-16. Reproducible in DuckDB via the same md5/substr and hex
    parse — slower than xxhash64 but engine-agnostic, so every per-token
    and per-id hash of the corpus operators (winnowing, shuffles and
    samples, the perplexity LM, the quality featurizer) uses it and
    their catalog entries are oracle-gated."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(str(seed) + "|"), col)), 1, 15), 16, 10).cast("long")


# (pattern, replacement) pipeline shared verbatim by html_to_text and
# its DuckDB oracle twin (sql_html_to_text). Constraints that make the
# cross-engine parity REAL: RE2 (DuckDB) has no backreferences — script
# and style get separate patterns; no lazy-quantifier ambiguity issues
# ((?is) inline flags and non-greedy .*? work in both Java regex and
# RE2); Spark's regexp_replace is global by default while DuckDB needs
# the 'g' flag — the SQL twin appends it. Entity decoding covers the
# common NAMED set only (&amp; decoded LAST so "&amp;lt;" comes out as
# the literal "&lt;", the standard double-decode trap); numeric
# character references pass through untouched — documented, not silent.
HTML_TO_TEXT_STEPS: list[tuple[str, str]] = [
    (r"(?is)<script\b[^>]*>.*?</script\s*>", " "),
    (r"(?is)<style\b[^>]*>.*?</style\s*>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?s)<[^>]*>", " "),
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"&apos;", "'"),
    (r"&amp;", "&"),
    (r"\s+", " "),
]


def html_to_text(col: Column) -> Column:
    """HTML -> plain text as a PURE column expression (the step that
    turns a WARC response into WET-style text): drop script/style
    blocks and comments, strip tags, decode the common named entities,
    collapse whitespace. Whole-stage-codegen JVM regexes — no UDF; the
    DuckDB twin (``sql_html_to_text``) applies the identical pattern
    pipeline, so extractions are hash-exact cross-engine."""
    out = col
    for pat, rep in HTML_TO_TEXT_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return F.trim(out)


def sql_html_to_text(expr: str) -> str:
    """DuckDB SQL twin of ``html_to_text`` over an SQL expression
    string — same pattern pipeline, 'g' flag supplied explicitly
    (DuckDB's regexp_replace is first-match-only by default)."""
    out = expr
    for pat, rep in HTML_TO_TEXT_STEPS:
        p = pat.replace("'", "''")
        r = rep.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    return f"trim({out})"

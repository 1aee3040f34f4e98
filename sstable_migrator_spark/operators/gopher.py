"""Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
Methods, Analysis & Insights from Training Gopher", Appendix A) — the
most-cited published document-quality rule set, implemented
FLAG-FOR-FLAG so a user can reproduce the paper's filtering exactly
and audit which rule fired:

1. word count in [min_words, max_words] (paper: 50..100,000);
2. mean word length in [3, 10] characters;
3. symbol-to-word ratio ('#' or ellipsis) <= 0.1;
4. <= 90%... precisely: at most 10% of lines may START with a bullet;
5. at most 30% of lines may END with an ellipsis;
6. >= 80% of words contain at least one alphabetic character;
7. at least 2 DISTINCT members of the 8-word English stop set
   (the, be, to, of, and, that, have, with) appear.

Every threshold is an INTEGER cross-multiplied comparison (10 *
symbols <= words, 5 * alpha_words >= 4 * words, ...) — no float
ratios, so the flags are order-free and hash-exact against the SQL
oracle, and the whole operator is a map-side projection (zero
shuffles at any corpus size). Ellipsis counts cover both the unicode
character and the three-dot form.

Reference analog: the P-family validity gates (SURVEY §2 P3-P7) —
row-level accept/reject predicates — applied to documents instead of
domain names.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sstable_migrator_spark.functions import text as TX

__all__ = [
    "c4_clean",
    "dedup_lines",
    "gopher_quality_flags",
    "repetition_flags",
    "GOPHER_STOP_SET",
]

GOPHER_STOP_SET = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _count_occurrences(col: Column, sub: str) -> Column:
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(sub), F.lit(""))))
        / len(sub)
    ).cast("long")


def gopher_quality_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100000,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document Gopher rule flags (1 = passes the rule) plus the
    integer counters behind them and the overall ``keep`` conjunction.
    Pure projection — composes into any admission step or the batch
    funnel alike. ``keep_cols`` carries extra input columns through
    (e.g. the apex for a per-domain gate rollup, or the text for
    further gates downstream) so the whole flag ensemble stays one
    map-side select."""
    text = F.col(text_col)
    # STAGED EVALUATION (round 10): the token/line arrays and the
    # counters over them are materialized in their own projections.
    # Lambda-bearing expressions (aggregate/filter/transform) are
    # interpreted and excluded from codegen's common-subexpression
    # elimination, so the single-select form re-ran split(trim(text))
    # and the char-sum fold once PER FLAG per row (~10x the tokenize
    # work, visible verbatim in the q208 plan). Each staged column is
    # referenced more than once downstream, which is exactly the case
    # CollapseProject must not inline — the projection boundaries (and
    # the once-per-row evaluation) survive optimization. Values are
    # identical: same expressions, factored.
    carry = [id_col, *(keep_cols or [])]
    staged = docs.select(
        *carry,
        TX.tokens(text).alias("_toks"),
        F.split(text, "\n").alias("_lines"),
        (
            _count_occurrences(text, "#")
            + _count_occurrences(text, "…")
            + _count_occurrences(text, "...")
        ).alias("_n_symbols"),
    )
    toks, lines = F.col("_toks"), F.col("_lines")
    counters = staged.select(
        *carry,
        F.col("_n_symbols"),
        F.size(toks).cast("long").alias("_n_words"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).alias("_total_chars"),
        F.size(lines).cast("long").alias("_n_lines"),
        F.size(
            F.filter(
                lines,
                lambda ln: F.trim(ln).startswith("•")
                | F.trim(ln).startswith("- ")
                | F.trim(ln).startswith("* "),
            )
        ).cast("long").alias("_bullet_lines"),
        F.size(
            F.filter(
                lines,
                lambda ln: F.trim(ln).endswith("…")
                | F.trim(ln).endswith("..."),
            )
        ).cast("long").alias("_ellipsis_lines"),
        F.size(
            F.filter(toks, lambda w: w.rlike("[A-Za-z]"))
        ).cast("long").alias("_alpha_words"),
        F.size(
            F.array_intersect(
                F.transform(toks, F.lower),
                F.array(*[F.lit(w) for w in GOPHER_STOP_SET]),
            )
        ).cast("long").alias("_stop_hits"),
    )
    n_words = F.col("_n_words")
    total_chars = F.col("_total_chars")
    n_symbols = F.col("_n_symbols")
    n_lines = F.col("_n_lines")
    flags = {
        "ok_word_count": (n_words >= min_words) & (n_words <= max_words),
        # 3 <= mean <= 10  <=>  3n <= total_chars <= 10n (integer form)
        "ok_mean_word_len": (total_chars >= 3 * n_words)
        & (total_chars <= 10 * n_words),
        "ok_symbol_ratio": n_symbols * 10 <= n_words,
        "ok_bullet_lines": F.col("_bullet_lines") * 10 <= n_lines,
        "ok_ellipsis_lines": F.col("_ellipsis_lines") * 10 <= n_lines * 3,
        "ok_alpha_words": F.col("_alpha_words") * 5 >= n_words * 4,
        "ok_stop_words": F.col("_stop_hits") >= 2,
    }
    out = counters.select(
        id_col,
        *(keep_cols or []),
        n_words.alias("n_words"),
        n_lines.alias("n_lines"),
        *[c.cast("int").alias(name) for name, c in flags.items()],
    )
    keep = None
    for name in flags:
        term = F.col(name) == 1
        keep = term if keep is None else keep & term
    return out.withColumn("keep", keep.cast("int"))


# --- the REPETITION half of the MassiveText table ---------------------------

# gram-join marker. Whitespace tokenization does NOT guarantee its
# absence inside tokens (\x01 is not whitespace), so repetition_flags
# strips C0 control characters from the text first — otherwise two
# distinct same-k n-grams could concat_ws to one string and merge
# their counts (and corrupt gram_chars) on adversarial input.
_SEP = "\x01"
# (flag name, numerator, denominator): metric * den <= total * num
# encodes "fraction <= num/den" with integers only. Thresholds are the
# published MassiveText values (Rae et al. 2021, Table A1).
_LINE_PARA_RULES = {
    "ok_dup_line_frac": (3, 10),     # <= 0.30
    "ok_dup_para_frac": (3, 10),     # <= 0.30
    "ok_dup_line_chars": (1, 5),     # <= 0.20
    "ok_dup_para_chars": (1, 5),     # <= 0.20
}
_TOP_NGRAM_RULES = {2: (1, 5), 3: (9, 50), 4: (4, 25)}       # .20 .18 .16
_DUP_NGRAM_RULES = {
    5: (3, 20), 6: (7, 50), 7: (13, 100), 8: (3, 25), 9: (11, 100),
    10: (1, 10),
}  # .15 .14 .13 .12 .11 .10


def _frac_ok(value, total, rule: tuple[int, int]):
    num, den = rule
    return (value * den <= total * num).cast("int")


def repetition_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The REPETITION rules of Rae et al. 2021 Table A1 — the other
    half of the published Gopher filter (``gopher_quality_flags`` is
    the quality half, q80 the word-level fractions): duplicate
    line/paragraph fractions and their character fractions, the
    top-{2,3,4}-gram character fraction, and the duplicated-
    {5..10}-gram character fraction, each against the paper's
    threshold and each an INTEGER cross-multiplied comparison — no
    float ratio anywhere, so every flag is hash-exact cross-engine.

    Definitions (stated because the paper leaves room):
    - duplicate line/para fraction = (n - n_distinct) / n — the extra
      copies beyond each value's first occurrence;
    - their char fraction = chars in those extra copies / total
      line (para) chars;
    - top n-gram char fraction = count * gram_chars of the most
      frequent word n-gram / total WORD chars (ties break
      deterministically on (count, gram_chars, gram) — cov is
      count * gram_chars, so any (count, gram_chars) tie yields the
      same coverage regardless of which gram wins);
    - dup n-gram char fraction = chars of words covered by the UNION
      of all occurrences of n-grams appearing >= 2 times (no double
      counting — the interval-union fold) / total word chars.
    Chars are TOKEN characters (whitespace excluded), the exact form
    the oracle replays.

    Scale shape (round-10 optimization, guide §2.4/§4.2): every
    metric here is a PER-DOCUMENT function — nothing crosses
    documents — so the operator is one MAP-ONLY Arrow kernel over
    ``(id, text)`` plus a native flag projection: ZERO exchanges at
    any corpus size. The previous form exploded one (id, k, pos,
    gram) row per gram for all nine k (~9 rows per word, each
    carrying the gram STRING — ~50x the corpus text in shuffle
    bytes), aggregated on (id, k, gram), pivoted twice and joined
    three ways: two data-sized shuffles plus assembly, measured 9.8 s
    at sf0.1 against ~1.5 s for this form (plans/r10/). Per-document
    counting in the kernel is O(sum_k n) dict ops with O(1)
    interval-coverage via token-length prefix sums; only the two
    columns the kernel needs cross the Python boundary, and the
    n-gram key is the token TUPLE (the C0 strip below guarantees the
    \\x01-join equality the old gram key relied on).

    The exact token/line/paragraph semantics of the expression form
    are preserved verbatim (test_gopher pins them against an
    independent Python reference, the q213 oracle across three SFs):
    C0 controls (minus whitespace) stripped first; tokens = Java
    ``\\s+`` split of the space-trimmed text (ASCII whitespace class,
    NOT Python's unicode ``\\s``); lines/paras = literal
    ``\\n`` / ``\\n\\n`` splits with trailing empties kept."""
    import pandas as pd

    top_ks = sorted(_TOP_NGRAM_RULES)
    dup_ks = sorted(_DUP_NGRAM_RULES)

    id_field = docs.schema[id_col]
    counter_names = [
        "n_word_chars",
        *[f"top_{k}gram_chars" for k in top_ks],
        *[f"dup_{k}gram_chars" for k in dup_ks],
    ]
    lp_names = [
        "_ln", "_lnd", "_lc", "_lcd",  # line count/distinct + chars
        "_pn", "_pnd", "_pc", "_pcd",  # para count/distinct + chars
    ]
    kern_schema = T.StructType(
        [id_field]
        + [T.StructField(n, T.LongType()) for n in counter_names]
        + [T.StructField(n, T.LongType()) for n in lp_names]
    )

    # Java \s is the ASCII class [ \t\n\x0B\f\r]; Python's \s is
    # unicode-wide, so spell the class out for split parity.
    ctrl_re = re.compile("[\x00-\x08\x0e-\x1f\x7f]")
    ws_re = re.compile("[ \t\n\x0b\f\r]+")

    def _doc_metrics(text):
        t = ctrl_re.sub("", text)
        lines = t.split("\n")
        paras = t.split("\n\n")
        s = t.strip(" ")  # Spark trim() strips spaces only
        ws = ws_re.split(s) if s else []
        n = len(ws)
        lens = [len(w) for w in ws]
        pre = [0] * (n + 1)  # token-length prefix sums
        for i, ln_ in enumerate(lens):
            pre[i + 1] = pre[i] + ln_
        row = [pre[n]]
        for k in top_ks:
            grams: dict = {}
            for i in range(n - k + 1):
                g = tuple(ws[i : i + k])
                grams[g] = grams.get(g, 0) + 1
            best = (0, 0)
            for g, cnt in grams.items():
                cand = (cnt, sum(map(len, g)))
                if cand > best:
                    best = cand
            row.append(best[0] * best[1])
        for k in dup_ks:
            seq = [tuple(ws[i : i + k]) for i in range(n - k + 1)]
            grams = {}
            for g in seq:
                grams[g] = grams.get(g, 0) + 1
            cov = 0
            last = 0  # interval-union fold over ascending positions
            for i, g in enumerate(seq):
                if grams[g] >= 2:
                    hi = i + k
                    cov += pre[hi] - pre[max(i, last)]
                    last = hi
            row.append(cov)
        row.append(len(lines))
        row.append(len(set(lines)))
        row.append(sum(len(x) for x in lines))
        row.append(sum(len(x) for x in set(lines)))
        row.append(len(paras))
        row.append(len(set(paras)))
        row.append(sum(len(x) for x in paras))
        row.append(sum(len(x) for x in set(paras)))
        return row

    n_metric = len(counter_names) + len(lp_names)

    def _kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_rows = []
            for idv, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    out_rows.append([idv] + [None] * n_metric)
                else:
                    out_rows.append([idv] + _doc_metrics(text))
            yield pd.DataFrame(out_rows, columns=[id_col, *counter_names, *lp_names])

    metrics = docs.select(id_col, text_col).mapInPandas(_kernel, kern_schema)

    lp_flag_cols = []
    for side, pre_ in (("l", "line"), ("p", "para")):
        nn, nd = F.col(f"_{side}n"), F.col(f"_{side}nd")
        cc, cd = F.col(f"_{side}c"), F.col(f"_{side}cd")
        lp_flag_cols.append(
            _frac_ok(nn - nd, nn, _LINE_PARA_RULES[f"ok_dup_{pre_}_frac"]).alias(
                f"ok_dup_{pre_}_frac"
            )
        )
        lp_flag_cols.append(
            _frac_ok(cc - cd, cc, _LINE_PARA_RULES[f"ok_dup_{pre_}_chars"]).alias(
                f"ok_dup_{pre_}_chars"
            )
        )
    c = F.col("n_word_chars")
    flag_cols = [
        _frac_ok(F.col(f"top_{k}gram_chars"), c, _TOP_NGRAM_RULES[k]).alias(
            f"ok_top_{k}gram"
        )
        for k in top_ks
    ] + [
        _frac_ok(F.col(f"dup_{k}gram_chars"), c, _DUP_NGRAM_RULES[k]).alias(
            f"ok_dup_{k}gram"
        )
        for k in dup_ks
    ]
    out = metrics.select(
        id_col,
        "n_word_chars",
        *[F.col(n) for n in counter_names[1:]],
        *lp_flag_cols,
        *flag_cols,
    )
    # column order of the expression form: frac flags first, then chars
    out = out.select(
        id_col,
        "n_word_chars",
        *counter_names[1:],
        *[F.col(n) for n in _LINE_PARA_RULES],
        *[f"ok_top_{k}gram" for k in top_ks],
        *[f"ok_dup_{k}gram" for k in dup_ks],
    )
    keep = None
    for name in [
        *list(_LINE_PARA_RULES),
        *[f"ok_top_{k}gram" for k in top_ks],
        *[f"ok_dup_{k}gram" for k in dup_ks],
    ]:
        term = F.col(name) == 1
        keep = term if keep is None else keep & term
    return out.withColumn("keep", keep.cast("int"))


# --- the C4 cleaning rules (Raffel et al. 2020, §2.2) ------------------------

_C4_TERMINAL = (".", "!", "?", '"', "'")


def c4_clean(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """The C4 line-level cleaning recipe (Raffel et al. 2020, "Exploring
    the Limits of Transfer Learning", §2.2) — the OTHER most-cited
    published filter, complementing the Gopher pair (quality flags +
    repetition flags): KEEP only lines that end in a terminal
    punctuation mark and carry >= ``min_words_per_line`` words and do
    not contain the word "javascript" (case-insensitive); then DROP the
    whole page when the cleaned text has fewer than ``min_sentences``
    sentences (terminal-punctuation count), or when the RAW page
    mentions "lorem ipsum" or contains a curly brace (code). The
    lorem-ipsum/brace drops follow the paper exactly: C4 removes any
    page containing them ANYWHERE on the raw page, so a page whose
    only offending lines the line filter would have removed is still
    dropped. The paper's corpus-level three-sentence-span dedup is the
    span-dedup family's job (q138/q198), not re-implemented here.

    Returns ``(id, clean_text, n_lines_kept, n_sentences, keep)`` —
    clean_text is the kept lines re-joined with newlines (empty string
    when nothing survives). Pure map-side array expressions, zero
    shuffles at any scale, and the cleaned STRING is hash-exact against
    the SQL twin."""
    text = F.col(text_col)
    lines = F.split(text, "\n")

    def _line_ok(ln):
        t = F.trim(ln)
        ends = None
        for p in _C4_TERMINAL:
            e = t.endswith(p)
            ends = e if ends is None else (ends | e)
        enough_words = F.size(TX.tokens(t)) >= min_words_per_line
        no_js = ~F.lower(t).contains("javascript")
        return ends & enough_words & no_js

    kept = F.filter(lines, _line_ok)
    clean = F.array_join(F.transform(kept, F.trim), "\n")
    # sentences = terminal-punctuation marks in the CLEANED text
    n_sent = sum(
        (
            F.length(clean)
            - F.length(F.replace(clean, F.lit(p), F.lit("")))
        ).cast("long")
        for p in (".", "!", "?")
    )
    page_ok = (
        (n_sent >= min_sentences)
        & ~F.lower(text).contains("lorem ipsum")
        & ~text.contains("{")
    )
    return docs.select(
        id_col,
        clean.alias("clean_text"),
        F.size(kept).cast("long").alias("n_lines_kept"),
        n_sent.alias("n_sentences"),
        page_ok.cast("int").alias("keep"),
    )


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """WITHIN-document line deduplication (the RefinedWeb-style line
    cleaner; corpus-level line/paragraph dedup is q78's job): keep the
    FIRST occurrence of every line, preserving order — navigation
    blocks, repeated headers, and footer boilerplate collapse to one
    copy. Returns ``(id, clean_text, n_lines, n_lines_kept)``.
    Map-side array expressions only (the first-occurrence filter is
    the indexed-lambda form ``position(line) == index``), zero
    shuffles, and the cleaned STRING is hash-exact cross-engine."""
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        lines,
        lambda x, i: (F.array_position(lines, x) - 1) == i,
    )
    return docs.select(
        id_col,
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_lines_kept"),
    )

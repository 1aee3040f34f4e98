"""N-gram language-model perplexity filtering (CCNet-style corpus
quality gate).

North-star extension: the classic web-corpus cleaning step (CCNet,
Wenzek et al. 2020) scores every document's perplexity under a language
model trained on a trusted reference corpus and drops the
high-perplexity tail. This module is that operator re-expressed for
exact cross-engine verification:

- **Training** is one hash aggregation: bucket tokens with the portable
  md5 hash into a fixed vocabulary (V buckets — the hashing trick, no
  vocabulary state), count (context, token) bigrams with map-side
  combine, add-one smooth against the context totals. The model state
  is bounded by V^2 rows at ANY corpus size — broadcastable forever.
- **Surprisal is quantized to integers with NO floating point**: for a
  smoothed probability num/den the quantity 16*log2(den/num) is
  approximated as ``q16(r) = 16*msb(r) + next4bits(r) - 64`` with
  ``r = (den*16) div num`` — integer division, binary-string msb
  (``bin()``/``length``, identical in Spark and DuckDB), and the 4 bits
  after the MSB as a linear-mantissa fraction (max error 0.086 log2
  units, ~1.4 q16 units). Per-document surprisal is then a BIGINT sum:
  order-free, partitioning-proof, hash-exact against a SQL oracle —
  the float-discipline answer to "perplexity needs log()".
- **Scoring** explodes bigrams, resolves each against the broadcast
  model with two backoff levels (unseen token in a seen context ->
  add-one mass of that context; unseen context -> uniform 1/V), and
  sums per document: one shuffle keyed by doc id, two broadcast hash
  joins, nothing else. The keep decision is an integer cross-multiply
  on the AVERAGE surprisal (sum > threshold * n_bigrams).

A perplexity readout for humans is exp2(avg_q16/16) — one
deterministic double op per row, never accumulated.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["train_bigram_lm", "perplexity_score", "q16_surprisal_int"]

_LM_SEED = 11


def q16_surprisal_int(num: int, den: int) -> int:
    """Driver-side twin of the in-engine q16 quantizer (used for the
    uniform-backoff constant and threshold calibration): exact same
    integer ops, so it agrees bit-for-bit with the column form."""
    if not 0 < num <= den:
        raise ValueError(f"need 0 < num <= den, got {num}/{den}")
    r = (den * 16) // num
    msb = r.bit_length() - 1  # >= 4 because r >= 16
    frac = (r >> (msb - 4)) & 15
    return 16 * msb + frac - 64


def exact_intdiv(a: Column, b: Column) -> Column:
    """Exact integer division as a column expression: Spark's `div`
    operator (IntegralDivide) — true 64-bit integer division with no
    float round-trip, so it agrees with Python/DuckDB ``//`` across the
    FULL int64 range. (The previous ``(a - pmod(a,b)) / b`` form was
    exact only below 2^53: the subtraction made the pair exactly
    divisible, but the double division itself rounds once operands
    exceed the double mantissa.) Positive operands only."""
    return F.call_function("div", a.cast("long"), b.cast("long"))


def _q16_col(num: Column, den: Column) -> Column:
    """16*log2(den/num) in pure integer column ops. ``r >= 16`` holds
    whenever num <= den, so bin(r) has at least 5 chars and the four
    post-MSB bits always exist."""
    r = exact_intdiv(den * F.lit(16), num)
    b = F.bin(r)
    msb = (F.length(b) - 1).cast("long")

    def bit(i: int) -> Column:
        return (F.substring(b, i, 1) == "1").cast("long")

    frac = bit(2) * 8 + bit(3) * 4 + bit(4) * 2 + bit(5)
    return (msb * 16 + frac - 64).cast("long")


def _bigrams(
    df: DataFrame,
    text_col: str,
    vocab: int,
    outer: bool = False,
) -> DataFrame:
    """Explode each document into (ctx, tok) bigram bucket pairs.
    Documents with fewer than two tokens contribute nothing — unless
    ``outer`` is set, in which case they survive as a single row with
    NULL ctx/tok, so scoring can keep empty documents on the row
    instead of re-joining a spine. Output columns: ``df``'s columns
    MINUS ``text_col`` (per-bigram rows must not replicate the
    document text), plus ``ctx``/``tok``.

    Tokens are bucketed with the portable md5 hash (``TX.hash64``
    seeded with ``_LM_SEED``, mod ``vocab``), computed in an Arrow
    kernel (round-10, guide §4.2): the previous ``transform(toks,
    md5-bucket)`` HOF is INTERPRETED per element — Spark never codegens
    lambda bodies — and the ~6-node expression walk per token dominated
    scoring (measured 1.67 s of the q182 entry's 2.6 s at sf0.1 for the
    explode alone; ~0.35 s as this kernel, C md5 via hashlib). The
    kernel is map-only: it preserves the zero-shuffle shape, only (id,
    text) cross the boundary, and tokenize/lower/bucket semantics are
    pinned by the q182/q231 oracle at three SFs plus test_lm."""
    import hashlib
    import re as _re

    import pandas as pd
    from pyspark.sql import types as T

    keep_cols = [c for c in df.columns if c != text_col]
    schema = T.StructType(
        [df.schema[c] for c in keep_cols]
        + [T.StructField("ctx", T.LongType()), T.StructField("tok", T.LongType())]
    )
    seed_prefix = f"{_LM_SEED}|".encode()
    # Java \s (ASCII class), Spark trim (spaces only) — the exact
    # TX.tokens(F.lower(...)) semantics
    ws_re = _re.compile("[ \\t\\n\\x0b\\f\\r]+")
    md5 = hashlib.md5

    import numpy as np

    def _kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            reps = np.zeros(len(pdf), dtype=np.int64)  # bigrams per row
            ctx_parts: list[np.ndarray] = []
            tok_parts: list[np.ndarray] = []
            outer_idx: list[int] = []
            for i, text in enumerate(pdf[text_col]):
                s = (text or "").lower().strip(" ")
                toks = ws_re.split(s) if s else []
                if len(toks) < 2:
                    if outer:
                        outer_idx.append(i)
                    continue
                b = np.fromiter(
                    (
                        int(md5(seed_prefix + t.encode("utf-8")).hexdigest()[:15], 16)
                        for t in toks
                    ),
                    dtype=np.int64,
                    count=len(toks),
                ) % vocab
                reps[i] = len(toks) - 1
                ctx_parts.append(b[:-1])
                tok_parts.append(b[1:])
            out = pd.DataFrame(
                {c: np.repeat(pdf[c].to_numpy(), reps) for c in keep_cols}
            )
            out["ctx"] = (
                np.concatenate(ctx_parts) if ctx_parts else np.empty(0, np.int64)
            )
            out["tok"] = (
                np.concatenate(tok_parts) if tok_parts else np.empty(0, np.int64)
            )
            if outer_idx:
                empties = pdf.iloc[outer_idx][keep_cols].copy()
                empties["ctx"] = None
                empties["tok"] = None
                out = pd.concat([out, empties], ignore_index=True)
            yield out

    return df.mapInPandas(_kernel, schema)


def train_bigram_lm(
    docs: DataFrame,
    text_col: str = "text",
    vocab: int = 256,
) -> DataFrame:
    """Fit the smoothed bigram table: returns
    ``(ctx, tok, sq)`` rows for every OBSERVED bigram plus one
    ``tok = -1`` backoff row per seen context (the add-one mass of an
    unseen token in that context). Bounded by V^2 + V rows — broadcast
    it. The uniform unseen-context backoff is the constant
    ``q16_surprisal_int(1, vocab)``; scoring applies it without a row.
    One data-sized aggregation (bigram counts, map-side combined); the
    context totals re-aggregate the BOUNDED count table."""
    bg = _bigrams(docs, text_col, vocab).select("ctx", "tok")
    counts = bg.groupBy("ctx", "tok").agg(F.count(F.lit(1)).alias("c"))
    ctx_tot = counts.groupBy("ctx").agg(F.sum("c").alias("ctot"))
    seen = (
        counts.join(ctx_tot, "ctx")
        .select(
            "ctx",
            "tok",
            _q16_col(
                (F.col("c") + 1).cast("long"),
                (F.col("ctot") + vocab).cast("long"),
            ).alias("sq"),
        )
    )
    backoff = ctx_tot.select(
        "ctx",
        F.lit(-1).cast("long").alias("tok"),
        _q16_col(
            F.lit(1).cast("long"), (F.col("ctot") + vocab).cast("long")
        ).alias("sq"),
    )
    out = seen.unionByName(backoff)
    # Materialize the fitted table ONCE (round-10, guide §2.4/§5):
    # scoring filters this table twice (seen rows, backoff rows) and
    # broadcasts each side, and Spark does not share non-identical
    # broadcast subplans — as a lazy plan the whole training
    # aggregation (a corpus-slice pass) re-ran once PER CONSUMER,
    # twice per score call (measured: the q182 plan carried 18
    # exchanges, two full train passes; 2 after this change). The
    # table is bounded by V^2 + V rows BY CONSTRUCTION (hashed
    # vocabulary — the reason it is broadcastable at all), so cutting
    # the lineage here is O(V^2) executor storage at any corpus size
    # and the train pass runs exactly once. localCheckpoint (not a
    # driver collect: these are ~V^2 rows, and a Python round trip
    # costs more than the job it saves) keeps the rows JVM-side;
    # integer columns only, so the materialized rows are
    # bit-identical to the lazy plan's.
    return out.localCheckpoint(eager=True)


def perplexity_score(
    docs: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: int = 256,
    threshold_q16: int | None = None,
) -> DataFrame:
    """Score every document's total and average quantized surprisal
    under ``lm``. Output: (id, n_bigrams, surprise_q16, keep) — all
    integers, hash-exact. ``keep`` = average surprisal STRICTLY below
    ``threshold_q16`` (integer cross-multiply; default: the uniform
    surprisal, i.e. keep documents that beat a know-nothing model —
    strict, so a document resolved entirely by the uniform backoff
    lands exactly on the threshold and drops; documents with no
    bigrams carry no evidence and are kept).
    Plan: explode_outer (empty docs survive as one NULL-bigram row,
    so no spine re-join exists at all) -> two broadcast hash joins
    (V^2-bounded build sides — the ONLY broadcasts; the per-document
    relation is data-sized and never broadcast) -> one hash
    aggregation on the id — the only data-sized shuffle."""
    sq0 = q16_surprisal_int(1, vocab)
    if threshold_q16 is None:
        threshold_q16 = sq0
    bg = _bigrams(docs.select(id_col, text_col), text_col, vocab, outer=True)
    seen = lm.filter(F.col("tok") >= 0)
    backoff = lm.filter(F.col("tok") < 0).select(
        "ctx", F.col("sq").alias("sq_u")
    )
    return (
        bg.join(F.broadcast(seen), ["ctx", "tok"], "left")
        .join(F.broadcast(backoff), ["ctx"], "left")
        .select(
            id_col,
            F.col("ctx").isNotNull().cast("long").alias("is_bg"),
            F.when(F.col("ctx").isNull(), F.lit(0))
            .otherwise(F.coalesce("sq", "sq_u", F.lit(sq0)))
            .cast("long")
            .alias("s"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("is_bg").cast("long").alias("n_bigrams"),
            F.sum("s").cast("long").alias("surprise_q16"),
        )
        .withColumn(
            "keep",
            F.when(F.col("n_bigrams") == 0, F.lit(1))
            .otherwise(
                (
                    F.col("surprise_q16")
                    < F.lit(int(threshold_q16)) * F.col("n_bigrams")
                ).cast("int")
            ),
        )
    )

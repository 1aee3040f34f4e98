"""Training-order operators: deterministic corpus shuffle, token-budget
sequence packing (layout + materialized), and exactly-n weighted
systematic sampling (global and per-group mixture forms).

North-star extension (the last mile of a training-data pipeline): once
a corpus is deduped, filtered, and split, it still has to reach the
trainer as a REPRODUCIBLE stream — a global shuffle that any worker
can recompute (data order is part of the training recipe; a re-run
must see the same order), and documents packed head-to-tail into
fixed-token-budget sequences (the standard "concat and chunk" packing
GPT-style pretraining uses, where a document may span sequence
boundaries).

Both are re-expressed as exact integer plans:

- ``deterministic_shuffle``: position = rank of the portable 60-bit
  hash of ``(seed | doc id)``. Epochs reshuffle by changing the seed.
  No unpartitioned window anywhere: ranking is the distributed
  two-phase prefix sum (``analytics.global_prefix_sum``) over the
  hash-ordered relation — one repartitionByRange, one O(partitions)
  driver exchange, bounded in-partition windows.
- ``pack_sequences``: lay the shuffled documents along a token stream;
  with an exclusive running token count ``excl`` and per-doc length
  ``n``, a document occupies sequences ``excl // S`` through
  ``(excl + n - 1) // S`` starting at offset ``excl % S`` — pure
  integer division on BIGINTs, so the layout is order-free,
  partitioning-proof, and hash-exact against a SQL oracle. Every
  sequence except the last is filled to exactly ``S`` tokens by
  construction (coverage is test-pinned).

Scale shape: ONE data-sized exchange (the range partition by shuffle
key); token counting is map-side; the prefix offsets are one row per
PARTITION on the driver. At 100 TB this is the same plan — the driver
state stays O(partitions).

PRECONDITION shared by every operator here: ``id_col`` must be UNIQUE
(the stream order is (hash(seed|id), id) — the id is the tie-breaker
that makes it a total order, which ``global_prefix_sum`` requires; a
duplicated id could land its two rows on either side of a range
boundary in arbitrary relative order). Corpus ids are unique by
construction everywhere else in this engine (the funnel); enforce
upstream if composing from raw inputs.

Reference analog: the PK-ordered write family (SURVEY §2 O2/O4) —
ordering as a first-class output property — applied to the training
stream instead of the storage layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sstable_migrator_spark.functions import text as TX
from sstable_migrator_spark.operators.analytics import global_prefix_sum

__all__ = [
    "curriculum_shuffle",
    "deterministic_shuffle",
    "mixture_budgets",
    "pack_documents_greedy",
    "pack_sequences",
    "pack_sequence_texts",
    "systematic_sample",
    "systematic_sample_per_group",
]

def _shuffle_key(id_col: str, seed: int) -> F.Column:
    return TX.hash64(F.col(id_col).cast("string"), seed=seed)


def _check_picks_range(n: int, total: int) -> None:
    """picks() computes ``2*n*x + 2*total`` with x up to ``total``;
    DECIMAL(38,0) holds it exactly up to 38 digits. Refuse loudly past
    that (n and T would both have to be near int64-max — no real
    corpus, but silent nulls are never the right failure)."""
    if 2 * n * total + 2 * total >= 10**38:
        raise ValueError(
            f"2*n*total = {2 * n * total} exceeds DECIMAL(38,0); "
            "split the draw into smaller n"
        )


def deterministic_shuffle(
    docs: DataFrame,
    seed: int = 0,
    id_col: str = "doc_id",
    out_col: str = "position",
    parts: int | None = None,
) -> DataFrame:
    """Append a 0-based global training ``position`` — the rank of the
    portable hash of ``(seed | id)``, ties broken by id, so the
    permutation is a pure function of (corpus, seed): any worker, any
    partitioning, any engine recomputes the identical order. Change
    ``seed`` per epoch for fresh orders."""
    df = docs.withColumn("_sk", _shuffle_key(id_col, seed)).withColumn(
        "_one", F.lit(1).cast("long")
    )
    ranked, _total = global_prefix_sum(
        df, ["_sk", id_col], "_one", out_col="_rk", parts=parts
    )
    return ranked.withColumn(out_col, (F.col("_rk") - 1).cast("long")).drop(
        "_sk", "_one", "_rk"
    )


def curriculum_shuffle(
    docs: DataFrame,
    key_col: str,
    seed: int = 0,
    id_col: str = "doc_id",
    out_col: str = "position",
    descending: bool = True,
    parts: int | None = None,
) -> DataFrame:
    """Curriculum ordering: the training position sorts FIRST by a
    difficulty/quality key (descending by default — highest-quality or
    easiest first, the usual curriculum-learning schedule), then by the
    deterministic hash within each key level, so equal-keyed documents
    are shuffled rather than id-ordered and the whole permutation stays
    a pure function of (corpus, key, seed). Same distributed two-phase
    prefix sum as ``deterministic_shuffle`` — range partition on
    (key, hash, id), O(partitions) driver state, no unpartitioned
    window. Use an INTEGER key (a quality logit, a perplexity bucket)
    for cross-engine exactness."""
    df = (
        docs.withColumn("_sk", _shuffle_key(id_col, seed))
        .withColumn(
            "_ck",
            (-F.col(key_col)).cast("long") if descending else F.col(key_col).cast("long"),
        )
        .withColumn("_one", F.lit(1).cast("long"))
    )
    ranked, _total = global_prefix_sum(
        df, ["_ck", "_sk", id_col], "_one", out_col="_rk", parts=parts
    )
    return ranked.withColumn(out_col, (F.col("_rk") - 1).cast("long")).drop(
        "_ck", "_sk", "_one", "_rk"
    )


def pack_sequences(
    docs: DataFrame,
    seq_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
    parts: int | None = None,
    tokens_col: str | None = None,
    eod_token: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: shuffle deterministically
    (same recipe as ``deterministic_shuffle``), lay the documents
    head-to-tail along the token stream, and chunk the stream into
    fixed ``seq_tokens`` windows. Returns one row per NON-EMPTY
    document: ``(id, n_tokens, start_seq, end_seq, seq_offset)``
    where the document's tokens occupy stream interval
    ``[excl, excl + n)``, ``start_seq = excl // seq_tokens``,
    ``end_seq = (excl + n - 1) // seq_tokens`` (a long document spans
    sequences), and ``seq_offset = excl % seq_tokens`` is where it
    starts inside its first sequence. Zero-token documents contribute
    nothing to the stream and are dropped (loudly documented here, not
    silently mid-plan). All-BIGINT output, hash-exact.

    TOKENIZER-AWARE packing: pass ``tokens_col`` — a pre-tokenized
    ``array<string>`` column (``functions.bpe.bpe_encode_docs``'s
    ``pieces``, or any tokenizer's output) — and the layout counts
    REAL tokenizer tokens instead of whitespace words. A trainer packs
    by the tokens it will actually train on; the integer layout math
    is tokenizer-agnostic, so the two paths are identical whenever the
    token counts agree (test-pinned on a whitespace corpus).

    ``eod_token`` reserves one end-of-document marker slot after every
    document (the GPT-style packing convention — the trainer's loss
    reset / attention boundary): each doc's stream footprint becomes
    ``n + 1`` tokens and the same integer layout applies."""
    if seq_tokens < 1:
        raise ValueError(f"seq_tokens must be >= 1, got {seq_tokens}")
    n_tok = (
        F.size(F.col(tokens_col))
        if tokens_col is not None
        else TX.token_count(F.col(text_col))
    )
    df = (
        docs.withColumn("_sk", _shuffle_key(id_col, seed))
        .withColumn("n_tokens", n_tok.cast("long"))
        .filter(F.col("n_tokens") > 0)
    )
    if eod_token is not None:
        # the document's stream footprint grows by its end marker;
        # empty docs are already gone, so EOD count == doc count
        df = df.withColumn("n_tokens", F.col("n_tokens") + 1)
    ranked, _total = global_prefix_sum(
        df, ["_sk", id_col], "n_tokens", out_col="_incl", parts=parts
    )
    excl = (F.col("_incl") - F.col("n_tokens")).cast("long")
    s = F.lit(int(seq_tokens)).cast("long")
    out = ranked.select(
        id_col,
        "n_tokens",
        excl.alias("_excl"),
    ).select(
        id_col,
        "n_tokens",
        F.call_function("div", F.col("_excl"), s).alias("start_seq"),
        F.call_function(
            "div", (F.col("_excl") + F.col("n_tokens") - 1).cast("long"), s
        ).alias("end_seq"),
        F.pmod(F.col("_excl"), s).cast("long").alias("seq_offset"),
    )
    return out


def pack_sequence_texts(
    docs: DataFrame,
    seq_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
    parts: int | None = None,
    tokens_col: str | None = None,
    eod_token: str | None = None,
    with_boundaries: bool = False,
) -> DataFrame:
    """The MATERIALIZED form of ``pack_sequences``: actual training
    sequences, each exactly ``seq_tokens`` tokens (the last one
    shorter), assembled from the document spans that land in it.
    Tokens are whitespace words by default or a pre-tokenized
    ``array<string>`` column via ``tokens_col`` (the tokenizer-aware
    path — BPE pieces pack as readily as words; ``seq_text`` is then
    the space-joined piece stream). Returns
    ``(seq_id, seq_text, n_docs, n_tokens)``.

    Trainer conveniences: ``eod_token`` appends an end-of-document
    marker to every document's token array before packing (the
    GPT-style convention — loss reset / attention boundary between
    documents; markers count toward the budget, so sequences stay
    exactly full). ``with_boundaries`` adds ``doc_starts
    array<long>`` — the in-sequence offsets where a NEW document
    begins (a continuation span from the previous sequence is not a
    start) — which is exactly the block-diagonal attention-mask input
    a trainer derives; computed from the span math already in flight
    (a span starting at slice 0 IS a document head), zero extra
    shuffles.

    Plan: the same shuffled prefix sum, then each document EXPLODES
    into one row per sequence it touches (``sequence(start_seq,
    end_seq)`` — a document adds ``1 + n // S`` rows, so the explode is
    O(docs + total_tokens / S), never quadratic), carrying the token
    slice ``[max(0, s*S - excl), min(n, (s+1)*S - excl))`` of its own
    token array; one aggregation keyed by sequence id sorts the spans
    by their stream offset and concatenates. ONE data-sized shuffle
    (the span rows), map-side slicing, no window at all on the
    assembly side — and the output strings are hash-exact cross-engine
    (pure integer span math + deterministic join order)."""
    if seq_tokens < 1:
        raise ValueError(f"seq_tokens must be >= 1, got {seq_tokens}")
    tk = (
        F.col(tokens_col) if tokens_col is not None else TX.tokens(F.col(text_col))
    )
    df = (
        docs.withColumn("_sk", _shuffle_key(id_col, seed))
        .withColumn("_tk", tk)
        .withColumn("n_tokens", F.size("_tk").cast("long"))
        .filter(F.col("n_tokens") > 0)
    )
    if eod_token is not None:
        df = df.withColumn(
            "_tk", F.concat(F.col("_tk"), F.array(F.lit(eod_token)))
        ).withColumn("n_tokens", F.col("n_tokens") + 1)
    ranked, _total = global_prefix_sum(
        df, ["_sk", id_col], "n_tokens", out_col="_incl", parts=parts
    )
    s = F.lit(int(seq_tokens)).cast("long")
    excl = (F.col("_incl") - F.col("n_tokens")).cast("long")
    spans = (
        ranked.select(
            F.col("_tk"),
            F.col("n_tokens"),
            excl.alias("_excl"),
            F.explode(
                F.sequence(
                    F.call_function("div", excl, s),
                    F.call_function(
                        "div", (excl + F.col("n_tokens") - 1).cast("long"), s
                    ),
                )
            ).alias("seq_id"),
        )
        .select(
            "seq_id",
            "_excl",
            F.greatest(
                F.col("seq_id") * s - F.col("_excl"), F.lit(0).cast("long")
            ).alias("_lo"),
            F.least(
                F.col("n_tokens"),
                (F.col("seq_id") + 1) * s - F.col("_excl"),
            ).alias("_hi"),
            F.col("_tk"),
        )
        .select(
            "seq_id",
            # stream offset of this span orders spans within a sequence
            (F.col("_excl") + F.col("_lo")).alias("_pos"),
            # a span that starts at slice 0 IS a document head; its
            # in-sequence offset is the attention-boundary position
            (F.col("_lo") == 0).alias("_is_start"),
            F.slice(
                "_tk", (F.col("_lo") + 1).cast("int"), (F.col("_hi") - F.col("_lo")).cast("int")
            ).alias("_span"),
        )
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        # flatten, not an aggregate-concat fold: the fold copies the
        # accumulator per span (quadratic in sequence length); flatten
        # is one linear allocation with the identical result (round 10)
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_pos"), F.col("_span")))
                ),
                lambda x: x["_span"],
            )
        ).alias("_toks"),
    ]
    if with_boundaries:
        aggs.append(
            F.sort_array(
                F.collect_list(  # collect_list drops the non-start NULLs
                    F.when(
                        F.col("_is_start"),
                        (F.col("_pos") - F.col("seq_id") * s).cast("long"),
                    )
                )
            ).alias("doc_starts")
        )
    out_cols = [
        F.col("seq_id").cast("long").alias("seq_id"),
        F.array_join("_toks", " ").alias("seq_text"),
        "n_docs",
        F.size("_toks").cast("long").alias("n_tokens"),
    ]
    if with_boundaries:
        out_cols.append("doc_starts")
    return spans.groupBy("seq_id").agg(*aggs).select(*out_cols)


def systematic_sample(
    docs: DataFrame,
    weight_col: str,
    n: int,
    seed: int = 0,
    id_col: str = "doc_id",
    parts: int | None = None,
) -> DataFrame:
    """Weighted SYSTEMATIC sampling — "give me exactly n draws from the
    corpus, probability proportional to weight, reproducibly": lay the
    positive-integer-weighted documents along a stream in
    hash-shuffled order (same recipe as ``deterministic_shuffle``, so
    the draw is a pure function of (corpus, seed)) and take the n
    midpoint grid points ``p_j = ((2j+1) * T) div (2n)`` over the
    total weight T. A document is drawn once per grid point inside its
    weight interval ``[excl, incl)`` — computed CLOSED-FORM per row as
    ``picks(incl) - picks(excl)`` with
    ``picks(x) = clamp(ceil((2nx - T) / 2T), 0, n)``, pure BIGINT
    arithmetic (no per-point explode, no float). Exactly n draws total
    (test-pinned); a document heavier than T/n can absorb several
    (reported via ``n_picks``, never duplicated into rows). Returns
    the drawn documents' ``(id, <weight_col>, n_picks)``.

    This is the corpus-subsampling form ("a 10B-token sample weighted
    by quality") of the same two-phase prefix sum the shuffle and the
    packers ride: one range exchange, O(partitions) driver state —
    variance-free systematic draws, unlike independent Bernoulli
    sampling whose realized size wobbles by O(sqrt(n)).

    The closed form's intermediate ``2*n*x`` reaches ``2*n*T`` — far
    past int64 for the advertised use case (a 10B-token draw from a
    100 TB corpus: n~2e7, T~2.5e13 gives ~1e21) — so picks() runs in
    DECIMAL(38,0) with an exact IntegralDivide; the product is guarded
    against the 38-digit ceiling up front."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    df = (
        docs.filter(F.col(weight_col) > 0)
        .withColumn("_sk", _shuffle_key(id_col, seed))
    )
    ranked, total = global_prefix_sum(
        df, ["_sk", id_col], weight_col, out_col="_incl", parts=parts
    )
    if total <= 0:
        raise ValueError("no positive weights to sample from")
    _check_picks_range(n, total)

    def picks(x):
        dec = "decimal(38,0)"
        td = F.lit(total).cast(dec)
        two_t = td + td  # doubled in decimal: 2*T itself can pass int64
        a = F.lit(2).cast(dec) * F.lit(n).cast(dec) * x.cast(dec) - td
        # exact: IntegralDivide on decimals, never a rounded decimal /
        ceil_div = F.call_function("div", a + two_t - F.lit(1).cast(dec), two_t)
        return F.when(a <= 0, F.lit(0)).otherwise(
            F.least(F.lit(n).cast("long"), ceil_div)
        )

    excl = (F.col("_incl") - F.col(weight_col)).cast("long")
    return (
        ranked.withColumn("n_picks", (picks(F.col("_incl")) - picks(excl)).cast("long"))
        .filter(F.col("n_picks") >= 1)
        .select(id_col, weight_col, "n_picks")
    )


def mixture_budgets(
    group_totals: dict, n_total: int, temperature: float = 1.0
) -> dict:
    """Per-source draw budgets for a training mixture — the standard
    temperature-weighted allocation (multilingual/multi-source
    pretraining's ``p_s ∝ t_s^τ``): τ=1 is proportional to size, τ=0
    is uniform, τ in (0,1) upsamples small sources (the usual 0.3–0.7
    range). Budgets are made EXACT integers summing to ``n_total`` by
    largest-remainder apportionment (floor every share, hand the
    leftover draws to the largest fractional parts; ties break on
    group name, so the allocation is deterministic). Groups allocated
    zero are DROPPED from the result — ``systematic_sample_per_group``
    treats the budget dict as the contract, and "not in the mixture"
    is the honest encoding of a zero budget.

    Driver-side pure function over the O(groups) totals dict (the
    grouped prefix sum already returns it) — no cluster work. Note τ≠1
    exponentiates in IEEE floats; the apportionment on top is still
    exact and deterministic for a given platform's pow()."""
    if n_total < 1:
        raise ValueError(f"n_total must be >= 1, got {n_total}")
    if temperature < 0:
        raise ValueError(f"temperature must be >= 0, got {temperature}")
    pos = {g: int(t) for g, t in group_totals.items() if int(t) > 0}
    if not pos:
        raise ValueError("no group has positive total weight")
    if temperature == 1.0:
        # exact rational path: no float touches the proportional case
        from fractions import Fraction

        denom = sum(pos.values())
        shares = {g: Fraction(t * n_total, denom) for g, t in pos.items()}
    else:
        w = {g: float(t) ** temperature for g, t in pos.items()}
        denom_f = sum(w.values())
        from fractions import Fraction

        shares = {
            g: Fraction(v) * n_total / Fraction(denom_f) for g, v in w.items()
        }
    floors = {g: int(s) for g, s in shares.items()}
    leftover = n_total - sum(floors.values())
    order = sorted(pos, key=lambda g: (-(shares[g] - floors[g]), str(g)))
    for g in order[:leftover]:
        floors[g] += 1
    return {g: n for g, n in floors.items() if n > 0}


def systematic_sample_per_group(
    docs: DataFrame,
    weight_col: str,
    group_col: str,
    n_per_group: dict,
    seed: int = 0,
    id_col: str = "doc_id",
    parts: int | None = None,
) -> DataFrame:
    """MIXTURE construction with exact per-group draw counts: the
    weighted systematic draw run independently inside every group —
    "exactly n_s draws from source s, probability proportional to
    weight, reproducibly" — which is how a training mixture with fixed
    per-source proportions is actually materialized. Groups missing
    from ``n_per_group`` are excluded (an explicit budget IS the
    contract).

    No ``Window.partitionBy(group)``: the within-group running weight
    comes from ``analytics.grouped_prefix_sum`` (range partition on
    (group, hash, id) — a huge group still spreads over many tasks;
    driver state O(partitions + groups)). Group totals come back from
    that same pass, so the per-row draw count is the identical
    closed-form picks() with the GROUP's (n, T) — pure BIGINT. Returns
    drawn rows: ``(id, <group_col>, <weight_col>, n_picks)``; per-group
    draw totals are exact (test-pinned)."""
    from sstable_migrator_spark.operators.analytics import grouped_prefix_sum

    if not n_per_group:
        raise ValueError("n_per_group must name at least one group")
    for g, n in n_per_group.items():
        if n < 1:
            raise ValueError(f"n for group {g!r} must be >= 1, got {n}")
    df = (
        docs.filter(F.col(weight_col) > 0)
        .filter(F.col(group_col).isin(list(n_per_group)))
        .withColumn("_sk", _shuffle_key(id_col, seed))
    )
    ranked, group_totals = grouped_prefix_sum(
        df, [group_col], ["_sk", id_col], weight_col, out_col="_incl", parts=parts
    )
    spark = docs.sparkSession
    meta = [
        (g, int(n_per_group[gt[0]]), int(t))
        for gt, t in group_totals.items()
        for g in [gt[0]]
        if t > 0
    ]
    if not meta:
        raise ValueError("no positive weights in any budgeted group")
    for _g, gn, gt in meta:
        _check_picks_range(gn, gt)
    from pyspark.sql import types as T

    mschema = T.StructType(
        [
            T.StructField(group_col, docs.schema[group_col].dataType),
            T.StructField("_n", T.LongType()),
            T.StructField("_t", T.LongType()),
        ]
    )
    from sstable_migrator_spark.sinks import local_rows_df

    mdf = F.broadcast(local_rows_df(spark, meta, mschema))

    def picks(x):
        # same DECIMAL(38,0) discipline as the global sampler: 2*n_g*x
        # reaches 2*n_g*T_g, past int64 at the advertised corpus scale
        dec = "decimal(38,0)"
        nd = F.col("_n").cast(dec)
        td = F.col("_t").cast(dec)
        two_t = td + td  # cast BEFORE doubling: 2*T itself can pass int64
        a = F.lit(2).cast(dec) * nd * x.cast(dec) - td
        ceil_div = F.call_function("div", a + two_t - F.lit(1).cast(dec), two_t)
        return F.when(a <= 0, F.lit(0)).otherwise(F.least(F.col("_n"), ceil_div))

    excl = (F.col("_incl") - F.col(weight_col)).cast("long")
    return (
        ranked.join(mdf, group_col)
        .withColumn("n_picks", (picks(F.col("_incl")) - picks(excl)).cast("long"))
        .filter(F.col("n_picks") >= 1)
        .select(id_col, group_col, weight_col, "n_picks")
    )


def pack_documents_greedy(
    docs: DataFrame,
    seq_tokens: int,
    seed: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    overflow: str = "flag",
    parts: int | None = None,
) -> DataFrame:
    """WHOLE-DOCUMENT greedy packing — the SFT/instruction-tuning
    layout, where a document must NEVER straddle a sequence boundary
    (``pack_sequences`` is the pretraining concat-and-chunk form that
    deliberately splits): documents march in the deterministic
    hash-shuffled stream order and a new sequence starts whenever the
    next document doesn't fit the ``seq_tokens`` budget. Sequences are
    therefore under-full by design; the trainer pads the remainder.
    Returns ``(id, n_tokens, seq_id, seq_offset)``.

    Documents LONGER than the budget, per ``overflow``: ``"flag"``
    (default) assigns ``seq_id = -1`` so the caller can count, route,
    or truncate them explicitly — never a silent drop; ``"truncate"``
    charges exactly ``seq_tokens`` to the budget (the caller truncates
    the text to match); ``"error"`` raises in the kernel with the
    offending id.

    Scale shape: greedy first-fit is inherently sequential, so it runs
    as ONE range exchange on the shuffle key followed by an
    Arrow-batched per-partition scan (state = one running counter).
    Each PARTITION starts its own fresh sequence — the cross-partition
    stitch would serialize the whole corpus for at most one underfull
    sequence per partition (waste bounded by partitions * seq_tokens
    tokens, negligible against a 100 TB stream and stated here rather
    than hidden). Global sequence ids come from an O(partitions)
    driver exchange of per-partition sequence counts — the same
    two-phase discipline as ``global_prefix_sum``. Determinism: the
    stream order is the pure (corpus, seed) permutation, and the
    partition boundaries are pinned by ``parts`` (pass it explicitly
    when re-runs must agree across different cluster sizes)."""
    import pandas as pd

    if seq_tokens < 1:
        raise ValueError(f"seq_tokens must be >= 1, got {seq_tokens}")
    if overflow not in ("flag", "truncate", "error"):
        raise ValueError(
            f"overflow must be 'flag', 'truncate', or 'error', got {overflow!r}"
        )
    n_tok = (
        F.size(F.col(tokens_col)) if tokens_col else TX.token_count(F.col(text_col))
    ).cast("long")
    df = (
        docs.select(F.col(id_col), n_tok.alias("n_tokens"))
        .filter(F.col("n_tokens") >= 1)
        .withColumn("_sk", _shuffle_key(id_col, seed))
    )
    parts = parts or df.sparkSession.sparkContext.defaultParallelism
    staged = df.repartitionByRange(parts, "_sk", id_col).sortWithinPartitions(
        "_sk", id_col
    )
    id_type = docs.schema[id_col].dataType.simpleString()

    def _greedy(batches):
        from pyspark import TaskContext

        part = TaskContext.get().partitionId()
        local_seq = 0
        used = 0
        opened = False
        for pdf in batches:
            ids, ns, parts_c, seqs, offs = [], [], [], [], []
            for idv, n in zip(pdf[id_col], pdf["n_tokens"]):
                n = int(n)
                if n > seq_tokens:
                    if overflow == "error":
                        raise ValueError(
                            f"document {idv!r} has {n} tokens > "
                            f"seq_tokens={seq_tokens}"
                        )
                    if overflow == "flag":
                        ids.append(idv); ns.append(n)
                        parts_c.append(part); seqs.append(-1); offs.append(0)
                        continue
                    n = seq_tokens  # truncate
                if opened and used + n > seq_tokens:
                    local_seq += 1
                    used = 0
                opened = True
                ids.append(idv); ns.append(n)
                parts_c.append(part); seqs.append(local_seq); offs.append(used)
                used += n
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_tokens": ns,
                    "_part": parts_c,
                    "_lseq": seqs,
                    "seq_offset": offs,
                }
            )

    packed = staged.mapInPandas(
        _greedy,
        f"{id_col} {id_type}, n_tokens long, _part int, _lseq long, "
        "seq_offset long",
    ).localCheckpoint()
    # O(partitions) driver exchange: per-partition sequence counts ->
    # exclusive offsets (flagged rows don't open sequences)
    counts = {
        r["_part"]: int(r["c"])
        for r in packed.filter(F.col("_lseq") >= 0)
        .groupBy("_part")
        .agg((F.max("_lseq") + 1).alias("c"))
        .collect()
    }
    offsets, run = {}, 0
    for p in sorted(counts):
        offsets[p] = run
        run += counts[p]
    spark = docs.sparkSession
    from sstable_migrator_spark.sinks import local_rows_df

    odf = F.broadcast(
        local_rows_df(
            spark,
            [(p, o) for p, o in offsets.items()] or [(0, 0)],
            "_part int, _off long",
        )
    )
    return (
        packed.join(odf, "_part", "left")
        .select(
            id_col,
            "n_tokens",
            F.when(F.col("_lseq") < 0, F.lit(-1))
            .otherwise(F.col("_lseq") + F.coalesce("_off", F.lit(0)))
            .cast("long")
            .alias("seq_id"),
            "seq_offset",
        )
    )

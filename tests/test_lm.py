"""N-gram LM perplexity filter (operators/lm.py): integer-quantizer
twins, discrimination, backoff levels, and the broadcast-scoring plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from sstable_migrator_spark.operators.lm import (
    perplexity_score,
    q16_surprisal_int,
    train_bigram_lm,
)


def test_q16_driver_twin_matches_column_form(spark):
    """The driver-side integer quantizer and the column expression must
    agree bit-for-bit across magnitudes and rounding boundaries."""
    from sstable_migrator_spark.operators.lm import _q16_col

    cases = [
        (1, 1), (1, 2), (1, 3), (2, 3), (1, 256), (255, 256),
        (7, 1000), (999, 1000), (1, 10**9), (123456, 10**9),
        (1, (1 << 40) + 7), (3, 17), (16, 17),
    ]
    df = spark.createDataFrame(cases, "num long, den long").withColumn(
        "sq", _q16_col(F.col("num"), F.col("den"))
    )
    got = {(r["num"], r["den"]): r["sq"] for r in df.collect()}
    for num, den in cases:
        assert got[(num, den)] == q16_surprisal_int(num, den), (num, den)


def test_q16_approximates_log2():
    """16*log2(den/num) within the linear-mantissa bound (0.086 log2
    units -> <= 2 q16 units after the floor)."""
    import math

    for num, den in [(1, 2), (1, 3), (2, 7), (1, 256), (5, 99), (7, 10**6)]:
        true = 16 * math.log2(den / num)
        assert abs(q16_surprisal_int(num, den) - true) <= 2.0, (num, den)


def _corpus(spark):
    ref = [(i, "the cat sat on the mat and the dog sat on the rug")
           for i in range(10)]
    probe = [
        (100, "the cat sat on the mat"),         # in-distribution
        (101, "zq xv kj qq ww zz pp mm nn vv"),  # gibberish (unseen ctx)
        (102, "one"),                            # no bigrams
        (103, ""),                               # empty
    ]
    return spark.createDataFrame(ref + probe, "doc_id long, text string")


def test_perplexity_discriminates_and_handles_edges(spark):
    docs = _corpus(spark)
    lm = train_bigram_lm(docs.filter("doc_id < 100"))
    got = {r["doc_id"]: r for r in perplexity_score(docs, lm).collect()}
    # in-distribution beats uniform -> kept; pure-backoff gibberish
    # lands exactly on the uniform threshold -> dropped (strict <)
    assert got[100]["keep"] == 1
    assert got[101]["keep"] == 0
    assert got[101]["surprise_q16"] == 128 * got[101]["n_bigrams"]
    assert got[100]["surprise_q16"] < 128 * got[100]["n_bigrams"]
    # evidence-free docs kept with zeroed stats
    for d in (102, 103):
        assert (got[d]["n_bigrams"], got[d]["surprise_q16"], got[d]["keep"]) == (0, 0, 1)


def test_scores_stable_under_partitioning(spark):
    docs = _corpus(spark)
    lm = train_bigram_lm(docs.filter("doc_id < 100"))
    a = sorted(tuple(r) for r in perplexity_score(docs, lm).collect())
    b = sorted(
        tuple(r)
        for r in perplexity_score(docs.repartition(13), lm.repartition(5)).collect()
    )
    assert a == b


def test_unseen_token_uses_context_backoff_not_uniform(spark):
    """A seen context with an unseen token must cost the context's
    add-one mass (higher than any seen bigram in that context, lower
    than... well, distinct from the uniform 128 unless coincidental)."""
    docs = spark.createDataFrame(
        [(0, ("a b " * 50).strip()), (1, "a zzz")], "doc_id long, text string"
    )
    lm = train_bigram_lm(docs.filter("doc_id = 0"))
    got = {r["doc_id"]: r for r in perplexity_score(docs, lm).collect()}
    # ctx 'a' is seen (ctot=50): backoff = q16(1, 50+256), which is
    # distinguishable from uniform q16(1, 256)=128 at 4-bit mantissa
    # resolution (unlike small totals, which quantize onto 128)
    expected = q16_surprisal_int(1, 50 + 256)
    assert got[1]["surprise_q16"] == expected
    assert expected != 128


def test_scoring_plan_is_broadcast_and_single_agg(spark):
    """The model joins must be broadcast (V^2-bounded build sides);
    no sort-merge join may appear in the scoring plan."""
    docs = _corpus(spark)
    lm = train_bigram_lm(docs.filter("doc_id < 100")).localCheckpoint()
    plan = (
        perplexity_score(docs, lm)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # EXACTLY the two model-side broadcasts (seen + backoff, both
    # V^2-bounded). A third broadcast join means someone re-introduced
    # the round-5 bug: broadcasting the per-document score relation
    # (data-sized build side — driver OOM at corpus scale).
    assert plan.count("BroadcastHashJoin") == 2, plan


def test_exact_intdiv_is_exact_past_double_mantissa(spark):
    """exact_intdiv must agree with Python // across the FULL int64
    range — the round-5 form ((a - pmod) / b) rounded once operands
    exceeded 2^53 (advisor-reproduced ~5% off-by-one)."""
    import random

    from sstable_migrator_spark.operators.lm import exact_intdiv

    rng = random.Random(1234)
    cases = [(2**62 + 12345, 7), (2**63 - 1, 3), (2**53 + 1, 2),
             ((2**53 + 1) * 3, 3)]
    cases += [(rng.randrange(2**53, 2**63), rng.randrange(1, 2**40))
              for _ in range(40)]
    df = spark.createDataFrame(cases, "a long, b long").withColumn(
        "q", exact_intdiv(F.col("a"), F.col("b"))
    )
    got = {(r["a"], r["b"]): r["q"] for r in df.collect()}
    for a, b in cases:
        assert got[(a, b)] == a // b, (a, b, got[(a, b)], a // b)


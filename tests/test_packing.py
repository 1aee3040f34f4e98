"""Training-order operators (operators/packing.py): permutation
properties, packing invariants, determinism under partitioning, and
the no-unpartitioned-window plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sstable_migrator_spark.operators.packing import (
    deterministic_shuffle,
    pack_sequences,
)


def _docs(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("tok "), F.expr("repeat('w ', CAST(id % 17 AS INT))")
        ).alias("text"),
    )


def test_shuffle_is_a_permutation_and_deterministic(spark):
    docs = _docs(spark)
    a = {r["doc_id"]: r["position"] for r in deterministic_shuffle(docs).collect()}
    assert sorted(a.values()) == list(range(40))  # 0-based, gap-free
    # pure function of (corpus, seed): any partitioning, same order
    b = {
        r["doc_id"]: r["position"]
        for r in deterministic_shuffle(docs.repartition(7), parts=3).collect()
    }
    assert a == b
    # epochs reshuffle
    c = {r["doc_id"]: r["position"] for r in deterministic_shuffle(docs, seed=1).collect()}
    assert a != c and sorted(c.values()) == list(range(40))


def test_packing_invariants(spark):
    docs = _docs(spark)
    S = 16
    rows = pack_sequences(docs, S).collect()
    # zero-token docs (id % 17 == 0 -> text 'tok ' + '' = 1 token...
    # actually every doc has the 'tok' token, so all 40 survive)
    assert len(rows) == 40
    total = sum(r["n_tokens"] for r in rows)
    by_start = sorted(rows, key=lambda r: (r["start_seq"], r["seq_offset"]))
    # stream is contiguous: each doc starts exactly where the previous ended
    pos = 0
    for r in by_start:
        assert r["start_seq"] * S + r["seq_offset"] == pos, r
        assert r["end_seq"] == (pos + r["n_tokens"] - 1) // S
        pos += r["n_tokens"]
    assert pos == total
    # every sequence except the last is exactly full
    n_seqs = max(r["end_seq"] for r in rows) + 1
    assert n_seqs == -(-total // S)
    fill = [0] * n_seqs
    for r in by_start:
        p = r["start_seq"] * S + r["seq_offset"]
        for t in range(r["n_tokens"]):
            fill[(p + t) // S] += 1
    assert all(f == S for f in fill[:-1]) and 0 < fill[-1] <= S


def test_packing_drops_empty_docs_and_validates(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "   "), (3, "")], "doc_id long, text string"
    )
    rows = pack_sequences(docs, 4).collect()
    assert {r["doc_id"] for r in rows} == {1}
    with pytest.raises(ValueError):
        pack_sequences(docs, 0)


def test_packing_stable_under_partitioning(spark):
    docs = _docs(spark, 60)
    a = sorted(tuple(r) for r in pack_sequences(docs, 32).collect())
    b = sorted(
        tuple(r) for r in pack_sequences(docs.repartition(11), 32, parts=5).collect()
    )
    assert a == b


def test_no_unpartitioned_window(spark):
    """The global rank must come from the two-phase prefix sum — a
    Window with an empty partitionBy would funnel the corpus through
    one task."""
    import re

    for df in (
        deterministic_shuffle(_docs(spark)),
        pack_sequences(_docs(spark), 16),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        for m in re.finditer(r"Window \[([^\]]*)\], \[([^\]]*)\]", plan):
            partition_spec = m.group(2)
            assert partition_spec.strip(), plan


def test_packed_sequence_texts(spark):
    """Materialized sequences: every sequence but the last has exactly
    S tokens; concatenating all sequences in seq_id order reproduces
    the shuffled token stream; doc counts per sequence are right."""
    from sstable_migrator_spark.operators.packing import pack_sequence_texts

    docs = _docs(spark, 30)
    S = 16
    rows = sorted(pack_sequence_texts(docs, S).collect(), key=lambda r: r["seq_id"])
    assert [r["seq_id"] for r in rows] == list(range(len(rows)))
    for r in rows[:-1]:
        assert r["n_tokens"] == S and len(r["seq_text"].split(" ")) == S
    assert 0 < rows[-1]["n_tokens"] <= S

    # the stream equals the deterministic shuffle order's concatenation
    order = sorted(
        deterministic_shuffle(docs).collect(), key=lambda r: r["position"]
    )
    stream = []
    for r in order:
        stream.extend(r["text"].split())
    rebuilt = []
    for r in rows:
        rebuilt.extend(r["seq_text"].split(" "))
    assert rebuilt == stream
    # per-sequence doc counts: number of docs whose span intersects
    assert sum(r["n_docs"] for r in rows) >= len(order)


def test_packed_texts_stable_under_partitioning(spark):
    from sstable_migrator_spark.operators.packing import pack_sequence_texts

    docs = _docs(spark, 45)
    a = sorted(tuple(r) for r in pack_sequence_texts(docs, 32).collect())
    b = sorted(
        tuple(r)
        for r in pack_sequence_texts(docs.repartition(9), 32, parts=4).collect()
    )
    assert a == b


def test_tokens_col_identity_on_whitespace_corpus(spark):
    """Layout identity between the text path and the pre-tokenized
    path: feeding the SAME whitespace tokens through tokens_col must
    reproduce the exact layout AND the exact materialized sequences —
    the integer layout math is tokenizer-agnostic."""
    from sstable_migrator_spark.operators.packing import (
        pack_sequence_texts,
        pack_sequences,
    )

    docs = _docs(spark, 30)
    pre = docs.withColumn("pieces", F.split(F.trim("text"), "\\s+"))
    a = sorted(tuple(r) for r in pack_sequences(docs, 16).collect())
    b = sorted(
        tuple(r) for r in pack_sequences(pre, 16, tokens_col="pieces").collect()
    )
    assert a == b
    at = sorted(tuple(r) for r in pack_sequence_texts(docs, 16).collect())
    bt = sorted(
        tuple(r)
        for r in pack_sequence_texts(pre, 16, tokens_col="pieces").collect()
    )
    assert at == bt


def test_bpe_tokens_pack_real_tokenizer_tokens(spark):
    """The trainer-grade path: BPE pieces from the repo's own
    tokenizer (functions/bpe.py) flow through tokens_col — totals are
    conserved piece-for-piece, every sequence but the last is exactly
    full, and concatenating the sequences reproduces the shuffled
    PIECE stream (not the word stream: whitespace packing would give a
    different layout entirely)."""
    from sstable_migrator_spark.functions.bpe import bpe_encode_docs, train_bpe
    from sstable_migrator_spark.operators.packing import (
        deterministic_shuffle,
        pack_sequence_texts,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(i, "the theatre the other anthem " * (1 + i % 4)) for i in range(20)],
        "doc_id long, text string",
    )
    merges = train_bpe(docs, n_merges=6)
    assert ("t", "he") in merges  # 'the' assembles on this corpus
    enc = docs.join(bpe_encode_docs(docs, merges), "doc_id").localCheckpoint()
    total = enc.agg(F.sum("n_pieces")).first()[0]

    S = 32
    layout = pack_sequences(enc, S, tokens_col="pieces").collect()
    assert sum(r["n_tokens"] for r in layout) == total
    # piece counts differ from word counts -> genuinely subword packing
    words = pack_sequences(docs, S).collect()
    assert sum(r["n_tokens"] for r in words) != total

    seqs = sorted(
        pack_sequence_texts(enc, S, tokens_col="pieces").collect(),
        key=lambda r: r["seq_id"],
    )
    for r in seqs[:-1]:
        assert r["n_tokens"] == S
    assert sum(r["n_tokens"] for r in seqs) == total
    # stream identity: sequences concatenate to the shuffled piece stream
    order = sorted(
        deterministic_shuffle(enc).collect(), key=lambda r: r["position"]
    )
    stream = [p for r in order for p in r["pieces"]]
    rebuilt = [p for r in seqs for p in r["seq_text"].split(" ")]
    assert rebuilt == stream


def test_eod_token_and_doc_start_boundaries(spark):
    """GPT-style packing conveniences: every document's footprint grows
    by its end-of-document marker (sequences still exactly full), the
    rebuilt stream interleaves doc tokens with markers in shuffle
    order, and doc_starts reports exactly the in-sequence offsets where
    new documents begin — verified against a pure-Python replay of the
    layout."""
    from sstable_migrator_spark.operators.packing import (
        deterministic_shuffle,
        pack_sequence_texts,
        pack_sequences,
    )

    docs = _docs(spark, 25)
    S = 16
    seqs = sorted(
        pack_sequence_texts(
            docs, S, eod_token="<eod>", with_boundaries=True
        ).collect(),
        key=lambda r: r["seq_id"],
    )
    for r in seqs[:-1]:
        assert r["n_tokens"] == S
    # one marker per (non-empty) document
    assert sum(r["seq_text"].split(" ").count("<eod>") for r in seqs) == 25

    order = sorted(
        deterministic_shuffle(docs).collect(), key=lambda r: r["position"]
    )
    stream, starts_by_seq, excl = [], {}, 0
    for r in order:
        toks = r["text"].split() + ["<eod>"]
        starts_by_seq.setdefault(excl // S, []).append(excl % S)
        stream.extend(toks)
        excl += len(toks)
    rebuilt = [t for r in seqs for t in r["seq_text"].split(" ")]
    assert rebuilt == stream
    for r in seqs:
        assert list(r["doc_starts"]) == sorted(
            starts_by_seq.get(r["seq_id"], [])
        ), r["seq_id"]

    # the layout twin agrees: every doc's footprint is n_words + 1
    lay = {r["doc_id"]: r["n_tokens"]
           for r in pack_sequences(docs, S, eod_token="<eod>").collect()}
    words = {r["doc_id"]: len(r["text"].split()) for r in docs.collect()}
    assert lay == {k: v + 1 for k, v in words.items()}


def test_systematic_sample_exact_n_and_weighting(spark):
    """Exactly n draws, every draw lands where the weight is: a doc
    heavier than T/n absorbs multiple picks; zero-weight docs never
    appear; same (corpus, seed) -> same draw under any partitioning;
    different seeds draw differently."""
    from sstable_migrator_spark.operators.packing import systematic_sample

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 7, 5000)
        .when(F.col("id") % 3 == 0, 0)
        .otherwise((F.col("id") % 13) + 1)
        .cast("long")
        .alias("w"),
    )
    n = 40
    got = systematic_sample(docs, "w", n, seed=1).collect()
    assert sum(r["n_picks"] for r in got) == n
    by = {r["doc_id"]: r["n_picks"] for r in got}
    assert all(docs.filter(F.col("doc_id").isin(list(by))).filter("w = 0").count() == 0
               for _ in [0])
    # doc 7 carries ~61% of total weight -> many picks
    assert by.get(7, 0) >= n // 2
    # reproducible under partitioning
    again = {r["doc_id"]: r["n_picks"]
             for r in systematic_sample(docs.repartition(11), "w", n, seed=1, parts=5).collect()}
    assert again == by
    # seed changes the draw (grid rotates with the shuffled order)
    other = {r["doc_id"]: r["n_picks"]
             for r in systematic_sample(docs, "w", n, seed=9).collect()}
    assert other != by
    assert sum(other.values()) == n

    import pytest as _pytest
    with _pytest.raises(ValueError):
        systematic_sample(docs, "w", 0)
    with _pytest.raises(ValueError):
        systematic_sample(docs.filter("w = 0"), "w", 3)


def test_systematic_sample_huge_weights_no_int64_wrap(spark):
    """The advertised use case — a ~1e7-draw sample over tens of
    trillions of weight units — drives the closed form's 2*n*x past
    int64 (~5e20 here). The decimal(38,0) path must produce the exact
    draw: equal weights and 8 | n means exactly n/8 picks per doc
    (grid boundaries land on ni/8 - 1/2, so ceil is exact)."""
    from sstable_migrator_spark.operators.packing import systematic_sample

    w = 3_000_000_000_000  # 3e12 per doc, T = 2.4e13
    n = 10_000_000
    docs = spark.createDataFrame(
        [(i, w) for i in range(8)], "doc_id long, w long"
    )
    got = systematic_sample(docs, "w", n, seed=1).collect()
    assert sum(r["n_picks"] for r in got) == n
    assert sorted(r["n_picks"] for r in got) == [n // 8] * 8

    # past the decimal(38,0) ceiling the operator refuses loudly
    import pytest as _pytest

    huge = spark.createDataFrame(
        [(0, 9_000_000_000_000_000_000)], "doc_id long, w long"
    )
    with _pytest.raises(ValueError, match="DECIMAL"):
        systematic_sample(huge, "w", 6_000_000_000_000_000_000)


def test_systematic_sample_per_group_huge_weights(spark):
    from sstable_migrator_spark.operators.packing import (
        systematic_sample_per_group,
    )

    w = 2_500_000_000_000
    docs = spark.createDataFrame(
        [(i, "s" + str(i % 2), w) for i in range(8)],
        "doc_id long, source string, w long",
    )
    got = systematic_sample_per_group(
        docs, "w", "source", {"s0": 4_000_000, "s1": 2_000_000}, seed=2
    ).collect()
    per: dict = {}
    for r in got:
        per[r["source"]] = per.get(r["source"], 0) + r["n_picks"]
    assert per == {"s0": 4_000_000, "s1": 2_000_000}


def test_systematic_sample_per_group_exact_budgets(spark):
    """Mixture construction: exactly the budgeted number of draws per
    group, unbudgeted groups excluded, reproducible under partitioning,
    and each group's draw equals the single-group sampler run on that
    group alone (the independence property)."""
    import pytest as _pytest

    from sstable_migrator_spark.operators.packing import (
        systematic_sample,
        systematic_sample_per_group,
    )

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 4).cast("string")).alias("source"),
        ((F.col("id") % 11) + 1).cast("long").alias("w"),
    )
    budgets = {"s0": 12, "s1": 5, "s2": 30}
    got = systematic_sample_per_group(docs, "w", "source", budgets, seed=2).collect()
    per = {}
    for r in got:
        per[r["source"]] = per.get(r["source"], 0) + r["n_picks"]
    assert per == budgets  # exact, and s3 excluded entirely

    # independence: group s1's draw == running the global sampler on s1 alone
    solo = {
        r["doc_id"]: r["n_picks"]
        for r in systematic_sample(
            docs.filter("source = 's1'"), "w", 5, seed=2
        ).collect()
    }
    mixed = {r["doc_id"]: r["n_picks"] for r in got if r["source"] == "s1"}
    assert mixed == solo

    again = {(r["doc_id"], r["n_picks"])
             for r in systematic_sample_per_group(
                 docs.repartition(13), "w", "source", budgets, seed=2, parts=7
             ).collect()}
    assert again == {(r["doc_id"], r["n_picks"]) for r in got}

    with _pytest.raises(ValueError):
        systematic_sample_per_group(docs, "w", "source", {})
    with _pytest.raises(ValueError):
        systematic_sample_per_group(docs, "w", "source", {"s0": 0})
    with _pytest.raises(ValueError):
        systematic_sample_per_group(
            docs.filter("w < 0"), "w", "source", {"s0": 1}
        )


def test_mixture_budgets_apportionment():
    """Temperature-weighted mixture budgets: exact integer sums, the
    proportional/uniform extremes, largest-remainder hand-check,
    deterministic ties, zero-budget drop."""
    import pytest as _pytest

    from sstable_migrator_spark.operators.packing import mixture_budgets

    totals = {"web": 700, "code": 200, "books": 100}
    # tau=1: exactly proportional (1000 -> 70/20/10 at N=100)
    assert mixture_budgets(totals, 100, 1.0) == {
        "web": 70, "code": 20, "books": 10
    }
    # tau=0: uniform, remainder to deterministic tie order (group name)
    b0 = mixture_budgets(totals, 10, 0.0)
    assert sum(b0.values()) == 10 and set(b0) == set(totals)
    assert b0 == {"books": 4, "code": 3, "web": 3}  # 10/3 -> ties by name
    # tau=0.5 upsamples the small sources vs proportional
    bh = mixture_budgets(totals, 100, 0.5)
    assert sum(bh.values()) == 100
    assert bh["books"] > 10 and bh["web"] < 70
    assert bh["web"] > bh["code"] > bh["books"]  # order still by size
    # largest-remainder hand-check: shares 3.75 / 1.25 at N=5
    assert mixture_budgets({"a": 75, "b": 25}, 5) == {"a": 4, "b": 1}
    # zero-total groups excluded; zero budgets dropped
    assert "empty" not in mixture_budgets({"a": 99, "empty": 0}, 7)
    tiny = mixture_budgets({"a": 10**9, "b": 1}, 3, 1.0)
    assert tiny == {"a": 3}  # b's share rounds to zero -> dropped
    with _pytest.raises(ValueError, match="n_total"):
        mixture_budgets(totals, 0)
    with _pytest.raises(ValueError, match="temperature"):
        mixture_budgets(totals, 5, -1)
    with _pytest.raises(ValueError, match="positive"):
        mixture_budgets({"a": 0}, 5)


def test_mixture_budgets_feed_the_sampler(spark):
    """The composed mixture path: corpus totals -> temperature budgets
    -> exactly-budgeted systematic draws per source."""
    from sstable_migrator_spark.operators.analytics import grouped_prefix_sum
    from sstable_migrator_spark.operators.packing import (
        mixture_budgets,
        systematic_sample_per_group,
    )

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
        ((F.col("id") % 7) + 1).cast("long").alias("w"),
    )
    _ranked, totals = grouped_prefix_sum(
        docs.withColumn("_sk", F.col("doc_id")), ["source"], ["_sk"], "w"
    )
    budgets = mixture_budgets(
        {g[0]: t for g, t in totals.items()}, 60, temperature=0.5
    )
    assert sum(budgets.values()) == 60
    got = systematic_sample_per_group(
        docs, "w", "source", budgets, seed=4
    ).collect()
    per: dict = {}
    for r in got:
        per[r["source"]] = per.get(r["source"], 0) + r["n_picks"]
    assert per == budgets


def test_curriculum_shuffle_orders_by_key_then_hash(spark):
    """Curriculum ordering: positions are a gap-free permutation,
    monotone in the key (descending), equal-keyed docs land in hash
    order (shuffled, not id-ordered), and partitioning never changes
    the result."""
    from sstable_migrator_spark.operators.packing import curriculum_shuffle

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).cast("long").alias("q")
    )
    got = sorted(
        curriculum_shuffle(docs, "q", seed=2).collect(),
        key=lambda r: r["position"],
    )
    assert [r["position"] for r in got] == list(range(40))
    keys = [r["q"] for r in got]
    assert keys == sorted(keys, reverse=True)  # monotone in the key
    # within one key level the order is NOT plain id order (hash-mixed)
    top = [r["doc_id"] for r in got if r["q"] == 4]
    assert top != sorted(top)
    again = sorted(
        curriculum_shuffle(docs.repartition(7), "q", seed=2, parts=3).collect(),
        key=lambda r: r["position"],
    )
    assert [r["doc_id"] for r in again] == [r["doc_id"] for r in got]
    # ascending form reverses the key direction
    asc = sorted(
        curriculum_shuffle(docs, "q", seed=2, descending=False).collect(),
        key=lambda r: r["position"],
    )
    assert [r["q"] for r in asc] == sorted(keys)


def test_pack_documents_greedy(spark):
    """Whole-document greedy packing (SFT layout): no doc straddles a
    boundary, sequences never exceed budget, parts=1 matches a
    pure-Python first-fit reference over the same hash order, oversize
    docs are flagged -1 (never dropped) or truncated or raised."""
    import hashlib

    import pytest as _pytest
    from pyspark.sql import functions as F

    from sstable_migrator_spark.operators.packing import pack_documents_greedy

    S, seed = 16, 7
    rows = [(i, "tok " * ((i * 13) % 11 + 1)) for i in range(40)]
    rows.append((100, "big " * 30))  # oversize: 30 > 16
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        r["doc_id"]: r
        for r in pack_documents_greedy(
            docs, S, seed=seed, parts=1
        ).collect()
    }
    # pure-Python reference: same (md5(seed|id) hex15, id) order
    def hkey(i):
        return (int(hashlib.md5(f"{seed}|{i}".encode()).hexdigest()[:15], 16), i)

    order = sorted((i for i, _ in rows), key=hkey)
    lens = {i: len(t.split()) for i, t in rows}
    want, used, seq = {}, 0, 0
    opened = False
    for i in order:
        n = lens[i]
        if n > S:
            want[i] = (-1, 0)
            continue
        if opened and used + n > S:
            seq += 1
            used = 0
        opened = True
        want[i] = (seq, used)
        used += n
    assert {i: (r["seq_id"], r["seq_offset"]) for i, r in got.items()} == want
    assert got[100]["seq_id"] == -1 and got[100]["n_tokens"] == 30

    # multi-partition: budget respected per sequence, all docs present,
    # offsets consistent within each sequence, deterministic re-run
    out = pack_documents_greedy(docs, S, seed=seed, parts=3)
    rows2 = out.collect()
    assert {r["doc_id"] for r in rows2} == {i for i, _ in rows}
    per_seq = {}
    for r in rows2:
        if r["seq_id"] >= 0:
            per_seq.setdefault(r["seq_id"], []).append(r)
    for seq_rows in per_seq.values():
        seq_rows.sort(key=lambda r: r["seq_offset"])
        total = sum(r["n_tokens"] for r in seq_rows)
        assert total <= S
        off = 0
        for r in seq_rows:
            assert r["seq_offset"] == off
            off += r["n_tokens"]
    again = sorted(tuple(r) for r in pack_documents_greedy(docs, S, seed=seed, parts=3).collect())
    assert again == sorted(tuple(r) for r in rows2)

    # truncate: oversize charged exactly S; error: loud
    tr = {r["doc_id"]: r for r in pack_documents_greedy(docs, S, seed=seed, parts=1, overflow="truncate").collect()}
    assert tr[100]["seq_id"] >= 0 and tr[100]["seq_offset"] == 0
    with _pytest.raises(Exception, match="seq_tokens"):
        pack_documents_greedy(docs, S, overflow="error").collect()
    with _pytest.raises(ValueError):
        pack_documents_greedy(docs, 0)
    with _pytest.raises(ValueError):
        pack_documents_greedy(docs, S, overflow="maybe")


def test_pack_documents_greedy_hypothesis(spark):
    """Property fuzz: for random corpora and seeds, the parts=1 layout
    equals the pure-Python first-fit reference exactly (same hash
    order, same resets, same flags)."""
    import hashlib

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from sstable_migrator_spark.operators.packing import pack_documents_greedy

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[
            HealthCheck.function_scoped_fixture, HealthCheck.too_slow
        ],
    )
    @given(
        lens=st.lists(st.integers(min_value=1, max_value=24), min_size=1, max_size=30),
        seed=st.integers(min_value=0, max_value=9),
        s_budget=st.integers(min_value=4, max_value=20),
    )
    def _case(lens, seed, s_budget):
        rows = [(i, "t " * n) for i, n in enumerate(lens)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["seq_id"], r["seq_offset"])
            for r in pack_documents_greedy(
                docs, s_budget, seed=seed, parts=1
            ).collect()
        }
        order = sorted(
            range(len(lens)),
            key=lambda i: (
                int(hashlib.md5(f"{seed}|{i}".encode()).hexdigest()[:15], 16), i
            ),
        )
        want, used, seq, opened = {}, 0, 0, False
        for i in order:
            n = lens[i]
            if n > s_budget:
                want[i] = (-1, 0)
                continue
            if opened and used + n > s_budget:
                seq += 1
                used = 0
            opened = True
            want[i] = (seq, used)
            used += n
        assert got == want

    _case()

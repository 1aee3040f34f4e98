"""Dedup extensions: exact, MinHash/LSH, SimHash, n-gram Jaccard,
embedding near-dup. Verifies recall of planted duplicates and estimator
sanity — the operator shapes the 100 TB path relies on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sstable_migrator_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "near the warm stove in the small kitchen of the old house"
)


def _docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),                                  # exact dup of 0
        (2, BASE.replace("cat", "bird")),           # near dup of 0
        (3, "completely different text about spark query engines and shuffles"),
        (4, "another unrelated document mentioning parquet and arrow batches"),
        (5, "THE  quick   brown fox jumps over the lazy dog while the cat sleeps "
            "near the warm stove in the small kitchen of the old house"),  # ws/case dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark))
    kept = {r["doc_id"] for r in out.collect()}
    # 0,1,5 collapse to fingerprint-min doc 0
    assert 0 in kept and 1 not in kept and 5 not in kept
    assert {2, 3, 4} <= kept


def test_minhash_recall(spark):
    sigs = minhash_signatures(_docs(spark), num_hashes=16)
    assert sigs.count() == 6
    pairs = minhash_lsh_pairs(
        _docs(spark), num_hashes=16, bands=8, jaccard_threshold=0.5
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in found and (0, 5) in found and (1, 5) in found
    assert (0, 2) in found  # near dup shares most shingles
    assert not any({a, b} & {3, 4} and {a, b} & {0, 1, 2, 5} for a, b in found)


def test_minhash_kernel_bit_identity(spark):
    """The Arrow signature kernel must reproduce the oracle-pinned
    expression fold EXACTLY — same 60-bit values, same NULL shape —
    including the edge cases the fixtures can miss: NULL text, empty
    text, a doc shorter than k words (single whole-text shingle),
    unicode (multi-byte UTF-8), and duplicate shingles."""
    rows = [
        (0, BASE),
        (1, None),                           # NULL text
        (2, ""),                             # empty -> single "" shingle
        (3, "two words"),                    # shorter than k=3
        (4, "café naïve résumé 日本語 text here"),
        (5, "a a a a a a"),                  # degenerate: one distinct shingle
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = minhash_signatures(docs, num_hashes=16)
    # The pre-kernel expression form, verbatim (the DuckDB twin recipe).
    from sstable_migrator_spark.functions import text as TX

    staged = docs.withColumn(
        "_sh", F.array_distinct(TX.shingles(F.col("text"), 3))
    )
    per_seed = ", ".join(
        "array_min(transform(_sh, s -> CAST(conv(substring(md5(concat("
        f"'{seed}|', s)), 1, 15), 16, 10) AS BIGINT)))"
        for seed in range(16)
    )
    want = staged.select(
        F.col("doc_id"), F.col("text"), F.expr(f"array({per_seed})").alias("signature")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    sig1 = {r["doc_id"]: r["signature"] for r in got.collect()}
    # NULL text still yields a 16-wide all-NULL signature, not NULL.
    assert sig1[1] == [None] * 16
    assert all(v is not None and 0 <= v < (1 << 60) for v in sig1[0])


def test_ngram_jaccard(spark):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(_docs(spark), threshold=0.3).collect()}
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 5)] == 1.0           # normalization collapses ws/case
    assert 0.5 < pairs[(0, 2)] < 1.0
    assert (3, 4) not in pairs


def test_simhash_similarity(spark):
    out = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark)).collect()}
    assert out[0] == out[1] == out[5]
    ham_near = bin(out[0] ^ out[2]).count("1")
    ham_far = bin(out[0] ^ out[3]).count("1")
    assert ham_near <= ham_far


def test_embedding_near_dup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),    # near dup of 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r["id_a"], r["id_b"]) for r in
             embedding_near_dup_pairs(df, threshold=0.95).collect()}
    assert pairs == {(0, 1)}


def test_simhash_near_dup_pairs_complete(spark):
    """Banded join must find EVERY pair within max_hamming (pigeonhole
    completeness) — compare against a brute-force cross join."""
    from itertools import combinations

    from sstable_migrator_spark.operators.dedup import simhash_near_dup_pairs

    docs = _docs(spark)
    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=16).collect()}
    brute = {
        (a, b, bin(sh[a] ^ sh[b]).count("1"))
        for a, b in combinations(sorted(sh), 2)
        if bin(sh[a] ^ sh[b]).count("1") <= 3
    }
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dup_pairs(docs, bits=16, bands=4, max_hamming=3).collect()
    }
    assert banded == brute
    assert (0, 1, 0) in banded  # exact dup -> identical fingerprint


def test_simhash_near_dup_pairs_guards(spark):
    import pytest

    from sstable_migrator_spark.operators.dedup import simhash_near_dup_pairs

    with pytest.raises(ValueError):
        simhash_near_dup_pairs(_docs(spark), bits=16, bands=4, max_hamming=4)
    with pytest.raises(ValueError):
        simhash_near_dup_pairs(_docs(spark), bits=16, bands=5)


def test_duplicate_clusters_chain_and_islands(spark):
    """A-B-C chain collapses to min id; disjoint pair keeps its own
    cluster; transitivity survives a long path (exercises >1 round of
    label propagation)."""
    from sstable_migrator_spark.operators.dedup import duplicate_clusters

    chain = [(10, 11), (11, 12), (12, 13), (13, 14), (14, 15), (15, 16)]
    pairs = [(1, 2), (2, 3), (7, 8)] + chain
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
           for r in duplicate_clusters(df).collect()}
    assert {d: c for d, (c, _) in got.items()} == {
        1: 1, 2: 1, 3: 1, 7: 7, 8: 7,
        **{n: 10 for n in range(10, 17)},
    }
    canonical = {d for d, (_, keep) in got.items() if keep}
    assert canonical == {1, 7, 10}


def test_duplicate_clusters_cutover_matches_loop(spark):
    """The small-side driver union-find cutover must be bit-identical
    to the distributed star contraction (threshold=0 forces it): same
    nodes, same min-reachable cluster ids, same keep flags — including
    self-loops, duplicate/reversed pairs, and a >1-round chain."""
    from sstable_migrator_spark.operators.dedup import duplicate_clusters
    from sstable_migrator_spark.operators.graph import connected_components

    pairs = [
        (1, 2), (2, 1), (2, 3), (7, 8), (9, 9),
        (10, 11), (11, 12), (12, 13), (13, 14), (14, 15), (15, 16),
    ]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")

    def _rows(out):
        return sorted(
            (r["doc_id"], r["cluster_id"], r["is_canonical"])
            for r in out.collect()
        )

    fast = _rows(duplicate_clusters(df))
    loop = _rows(
        connected_components(
            df, src="id_a", dst="id_b", driver_threshold_edges=0
        ).select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            (F.col("node") == F.col("component")).alias("is_canonical"),
        )
    )
    assert fast == loop
    assert (9, 9, True) in fast  # self-loop node keeps itself


def test_duplicate_clusters_drops_null_ids(spark):
    """A pair with a NULL id names no document: it is dropped, the
    rest of the graph clusters as usual (the driver union-find used to
    raise comparing an int with None)."""
    from sstable_migrator_spark.operators.dedup import duplicate_clusters

    df = spark.createDataFrame([(1, 2), (None, 3), (3, 4)], "id_a long, id_b long")
    got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
           for r in duplicate_clusters(df).collect()}
    assert got == {1: (1, True), 2: (1, False), 3: (3, True), 4: (3, False)}


def test_paragraph_dedup(spark):
    from sstable_migrator_spark.operators.dedup import paragraph_dedup

    # doc 0: A B ; doc 1: B C (B already seen -> only C survives)
    # doc 2: A B  (everything seen -> doc disappears entirely)
    rows = [
        (0, 0, "alpha beta"), (0, 1, "gamma delta"),
        (1, 0, "gamma delta"), (1, 1, "epsilon zeta"),
        (2, 0, "alpha beta"), (2, 1, "gamma delta"),
    ]
    paras = spark.createDataFrame(rows, "doc_id long, pos int, para string")
    out = {r["doc_id"]: r for r in paragraph_dedup(paras).collect()}
    assert set(out) == {0, 1}
    assert out[0]["clean_text"] == "alpha beta gamma delta"
    assert out[0]["kept_chunks"] == 2
    assert out[1]["clean_text"] == "epsilon zeta"
    assert out[1]["kept_chunks"] == 1


def test_paragraph_dedup_order_and_ties(spark):
    from sstable_migrator_spark.operators.dedup import paragraph_dedup

    # same paragraph twice WITHIN one doc: only the first pos survives;
    # reassembly preserves pos order even when input order is shuffled
    rows = [
        (7, 2, "tail chunk"), (7, 0, "dup chunk"), (7, 1, "dup chunk"),
    ]
    paras = spark.createDataFrame(rows, "doc_id long, pos int, para string")
    out = paragraph_dedup(paras).collect()
    assert len(out) == 1
    assert out[0]["clean_text"] == "dup chunk tail chunk"
    assert out[0]["kept_chunks"] == 2


def test_semantic_dedup(spark):
    from sstable_migrator_spark.operators.dedup import semantic_dedup

    # two tight clusters around orthogonal axes + one outlier
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),   # near-dup of 0 (same cell)
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.01, 0.99, 0.0, 0.0]),   # near-dup of 2
        (4, [0.0, 0.0, 1.0, 0.0]),     # alone in its cell
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]),
             (2, [0.0, 0.0, 1.0, 0.0])]
    out = {r["vec_id"]: (r["cell"], r["is_dup"])
           for r in semantic_dedup(emb, cents, threshold=0.9).collect()}
    assert out[0] == (0, False) and out[1] == (0, True)
    assert out[2] == (1, False) and out[3] == (1, True)
    assert out[4] == (2, False)


def test_semantic_dedup_threshold_margin(spark, sf_dir):
    """Empirical backing for the accepted cross-engine ulp risk
    documented on semantic_dedup: q83's float-cosine >= 0.35 compare is
    only hash-stable across engines if no within-cell pair's similarity
    sits within summation-order noise (~1e-12) of the threshold. Assert
    every pair clears the boundary by >= 1e-6 on the real test data so
    the boundary is provably unoccupied at the correctness-gate SFs."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    v = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    mask = (ids % 5 == 0) & (ids < 320)
    cents = v[mask][np.argsort(ids[mask])]
    assert len(cents) > 0
    # q83's assignment: nearest centroid by cosine
    nv = v / np.linalg.norm(v, axis=1, keepdims=True)
    nc = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    cell = (nv @ nc.T).argmax(axis=1)
    margin = np.inf
    for c in np.unique(cell):
        u = nv[cell == c]
        if len(u) < 2:
            continue
        sims = (u @ u.T)[np.tril_indices(len(u), k=-1)]
        margin = min(margin, float(np.abs(sims - 0.35).min()))
    assert margin > 1e-6, f"pair cosine within {margin} of threshold"


def test_prefix_jaccard_complete_vs_brute_force(spark):
    """Prefix filtering must find EVERY pair >= threshold (it is exact,
    unlike LSH): compare against the all-pairs answer on a small corpus
    with planted overlaps."""
    from itertools import combinations

    from sstable_migrator_spark.operators.dedup import prefix_filter_jaccard_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),      # 4/6 with doc 1 -> 2/3 >= 3/5
        (3, "alpha beta unrelated words here"),  # 2/8 with doc 1
        (4, "alpha beta gamma delta epsilon"),   # exact dup of 1
        (5, "totally different content tokens"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in prefix_filter_jaccard_pairs(docs, 3, 5).collect()
    }

    def jac(a, b):
        sa, sb = set(a.split()), set(b.split())
        return len(sa & sb) / len(sa | sb)

    want = {
        (i, j)
        for (i, ta), (j, tb) in combinations(rows, 2)
        if jac(ta, tb) * 5 >= 3 * 1  # inter*5 >= union*3 equivalent on sets
        and len(set(ta.split()) & set(tb.split())) * 5
        >= len(set(ta.split()) | set(tb.split())) * 3
    }
    assert got == want, (got, want)


def test_lsh_recall_against_exact_shingle_jaccard(spark, sf_dir):
    """Operator-quality pin: on the planted near-dup corpus, MinHash-LSH
    (16 hashes / 4 bands) catches EVERY pair whose true word-3-shingle
    Jaccard >= 0.5 — recall 1.0, deterministic (fixed md5 hash family,
    fixed corpus). If a hashing or banding change drops recall, this
    fails before the pipeline silently under-dedups."""
    from sstable_migrator_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from sstable_migrator_spark.queries import _synth_near_dup_docs

    docs = _synth_near_dup_docs(spark, sf_dir)
    truth = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    assert truth, "planted corpus must contain true near-dups"
    assert truth <= lsh, f"LSH missed {len(truth - lsh)} true pairs"


def test_exact_span_pairs(spark):
    """Planted verbatim spans: only pairs sharing a >=8-token run
    appear; shared_windows reflects run length (L-k+1); boilerplate
    windows above max_df are suppressed."""
    from sstable_migrator_spark.operators.dedup import exact_span_pairs

    span = "alpha bravo charlie delta echo foxtrot golf hotel india"  # 9 toks
    boiler = "one two three four five six seven eight"  # 8 toks, everywhere
    rows = [
        (0, f"{span} unique0 filler0 pad0 more0"),
        (1, f"start1 {span} tail1 tail1b tail1c"),
        (2, "totally different words without any shared run at all here ok"),
    ]
    # 12 docs all sharing the boilerplate window -> df=12 > max_df=10
    rows += [(10 + i, f"{boiler} suffix{i} extra{i}") for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["id_a"], r["id_b"]): r["shared_windows"]
           for r in exact_span_pairs(docs, k=8, max_df=10).collect()}
    # 9-token shared run -> 9-8+1 = 2 shared windows
    assert out == {(0, 1): 2}


def test_exact_span_pairs_duplicate_doc_ids(spark):
    """Rows that repeat a doc id are one document: no ``(a, a)``
    self-pair, and a pair's shared_windows is not inflated by the
    repeat (the window kernel dedups per input row, not per id)."""
    from sstable_migrator_spark.operators.dedup import exact_span_pairs

    span = "alpha bravo charlie delta echo foxtrot golf hotel india"  # 9 toks
    rows = [
        (0, f"{span} unique0 filler0 pad0 more0"),
        (0, f"{span} unique0 filler0 pad0 more0"),   # same id, same text
        (1, f"start1 {span} tail1 tail1b tail1c"),
        (1, f"other1 {span} tail1 tail1b tail1c"),   # same id, other row
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["id_a"], r["id_b"]): r["shared_windows"]
           for r in exact_span_pairs(docs, k=8, max_df=10).collect()}
    assert out == {(0, 1): 2}


@pytest.mark.parametrize("k", [3, 8])
def test_span_key_kernel_bit_identity(spark, k):
    """The round-11 window-key kernel (dedup._span_window_keys) must
    reproduce the oracle-pinned expression form EXACTLY —
    md5(array_join(slice(tk, i, k), ' ')) per window, distinct per
    doc — including multi-byte UTF-8 (char offsets vs byte offsets),
    repeated windows (kernel-side dedup), docs of exactly k tokens,
    and whitespace runs (tokens collapses them before either path) —
    at k=3 and at exact_span_pairs' k=8, with two rows per Arrow batch
    so the kernel's generator runs over several batches."""
    from pyspark.sql import functions as F

    from sstable_migrator_spark.functions import text as TX
    from sstable_migrator_spark.operators.dedup import _span_window_keys

    exact = ["x", "y", "z", "w", "v", "u", "t", "s"][:k]
    rows = [
        (0, " ".join("abcdefghij"[: k + 2])),
        # exactly k after \s+ split
        (1, "".join(t + ("  ", "\t")[i % 2] for i, t in enumerate(exact)).rstrip()),
        (2, "café naïve 日本語 résumé emoji✨ tail"),
        (3, " ".join(["r"] * (k + 3))),          # one distinct window
        # < k tokens: no windows
        (4, " ".join(["short", "two"] + [f"pad{i}" for i in range(k - 3)])),
        (5, "ñandú straße ελληνικά 中文 café naïve 日本語 résumé emoji✨ tail"),
        (6, "a b c d e f g h i j k l"),
        (7, "r r r r r r r r r r r r s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = docs.select(
        F.col("doc_id").alias("doc"),
        TX.tokens(F.lower(F.col("text"))).alias("tk"),
    ).filter(F.size("tk") >= k)
    want = toks.select(
        "doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - (k - 1)),
                lambda i: F.md5(F.array_join(F.slice("tk", i, k), " ")),
            )
        ).alias("wkey"),
    ).distinct()
    got = _span_window_keys(toks, k)
    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old_batch = spark.conf.get(batch_conf)
    spark.conf.set(batch_conf, "2")
    try:
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        # doc 3 has k+3 tokens of "r": 4 windows, all identical -> ONE key
        assert got.filter(F.col("doc") == 3).count() == 1
        # doc 4 never reaches the kernel (filtered); defensive skip inside
        assert got.filter(F.col("doc") == 4).count() == 0
        assert got.filter(F.col("doc") == 1).count() == 1
    finally:
        spark.conf.set(batch_conf, old_batch)


def test_winnow_fingerprints_rightmost_rule_and_density(spark):
    """Hand-model the winnow selection (window minima, rightmost tie)
    in Python over the same portable hashes and require exact
    agreement, plus the paper's density bound."""
    from sstable_migrator_spark.functions.text import hash64  # noqa: F401
    from sstable_migrator_spark.operators.dedup import winnow_fingerprints
    import hashlib

    def h64(s):
        return int(hashlib.md5(("13|" + s).encode()).hexdigest()[:15], 16)

    text = "a b c d e f g a b c d e x y z w q r s t"
    k, w = 4, 5
    toks = text.split()
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    gh = [h64(g) for g in grams]
    expect = set()
    for i in range(len(gh) - w + 1):
        window = gh[i : i + w]
        m = min(window)
        # rightmost occurrence of the min within the window
        pos = i + w - 1 - window[::-1].index(m)
        expect.add((pos + 1, m))  # 1-based positions in the operator

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {
        (r["pos"], r["fp"])
        for r in winnow_fingerprints(df, k=k, w=w).collect()
    }
    assert got == expect
    # density: paper's expectation is 2/(w+1); allow generous slack
    assert len(got) <= max(2 * len(gh) // (w + 1) + 3, 1)


def test_winnow_pairs_span_guarantee(spark):
    """Any verbatim match of >= w + k - 1 tokens MUST surface the pair;
    unrelated docs must not pair."""
    from sstable_migrator_spark.operators.dedup import winnow_pairs

    shared = "the five boxing wizards jump quickly over the lazy brown dog"
    docs = spark.createDataFrame(
        [
            (1, "intro words here " + shared + " trailing content one"),
            (2, shared + " completely different ending text follows now"),
            (3, "nothing in common with anybody else at all in this document body"),
        ],
        "doc_id long, text string",
    )
    got = {(r["id_a"], r["id_b"]): r["shared_fps"]
           for r in winnow_pairs(docs, k=4, w=5).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 1
    assert all(3 not in pair for pair in got)


def test_winnow_pairs_df_cap_drops_boilerplate(spark):
    """A fingerprint present in more docs than max_df is boilerplate
    and must not generate pairs."""
    from sstable_migrator_spark.operators.dedup import winnow_pairs

    chrome = "copyright two thousand twenty four all rights reserved worldwide inc"
    docs = spark.createDataFrame(
        [(i, chrome) for i in range(6)], "doc_id long, text string"
    )
    assert winnow_pairs(docs, k=4, w=5, max_df=4).count() == 0
    assert winnow_pairs(docs, k=4, w=5, max_df=10).count() == 15  # C(6,2)


def test_lsh_self_join_and_cross_paths_agree(spark):
    """The self-join (both its band path and its hot-bucket star path)
    and the cross-corpus join estimate a pair's Jaccard the same way:
    every self-join pair of D appears in D x D with a bit-equal
    est_jaccard. NULL texts (all-NULL signatures) collide in one bucket
    and score 0.0 on both paths — a NULL position is a non-match."""
    from sstable_migrator_spark.operators.dedup import (
        build_dedup_state,
        lsh_pairs_between_banded,
    )

    null_docs = spark.createDataFrame(
        [
            (1, None),
            (2, None),
            (3, "astronomy telescopes and the rings of saturn at midnight"),
            (4, "cooking pasta with garlic butter and fresh basil leaves"),
        ],
        "doc_id long, text string",
    )
    for docs, thr in ((_docs(spark), 0.3), (null_docs, 0.0)):
        state = build_dedup_state(docs).localCheckpoint()
        cross = {
            (r["new_id"], r["old_id"]): r["est_jaccard"]
            for r in lsh_pairs_between_banded(
                state, state, jaccard_threshold=thr
            ).collect()
        }
        for max_bucket in (None, 2):
            own = minhash_lsh_pairs(
                docs, jaccard_threshold=thr, max_bucket=max_bucket
            ).collect()
            assert own, (thr, max_bucket)
            for r in own:
                assert cross[(r["id_a"], r["id_b"])] == r["est_jaccard"], r
    assert (1, 2) in {(r["id_a"], r["id_b"]) for r in own}
    assert {k: v for k, v in cross.items() if 1 in k or 2 in k} == {
        (1, 1): 0.0, (1, 2): 0.0, (2, 1): 0.0, (2, 2): 0.0,
    }


def test_incremental_dedup_outcomes(spark):
    """All three admission outcomes: exact copy blocked by the
    fingerprint set, near-dup blocked by cross-corpus LSH, novel doc
    admitted; and the pairs are new x old ONLY."""
    from sstable_migrator_spark.operators.dedup import (
        build_dedup_state,
        incremental_dedup,
        lsh_pairs_between_banded,
    )

    base = " ".join(
        f"w{i} token{i % 7} filler{i % 11}" for i in range(25)
    )  # ~75 tokens: one appended token shifts only a few shingles
    other = (
        "completely unrelated content about cooking pasta with garlic "
        "butter and fresh basil leaves from the garden in summer"
    )
    old = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (101, base),                                  # exact copy
            (102, base + " trailing"),                    # near dup
            (103, "novel text with nothing shared here about astronomy "
                  "telescopes and the rings of saturn at midnight"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in incremental_dedup(new, old).collect()}
    assert got[101]["exact_dup"] == 1 and got[101]["admitted"] == 0
    assert got[102]["exact_dup"] == 0 and got[102]["n_near_dups"] >= 1
    assert got[102]["admitted"] == 0
    assert got[103] ["exact_dup"] == 0 and got[103]["n_near_dups"] == 0
    assert got[103]["admitted"] == 1
    # pair direction: only new x old, no new-new / old-old pairs
    new_state = build_dedup_state(new)
    pairs = lsh_pairs_between_banded(new_state, build_dedup_state(old)).collect()
    assert all(r["new_id"] >= 100 and r["old_id"] < 100 for r in pairs)

    # THE PERSISTED-STATE CONTRACT: judging against a materialized
    # build_dedup_state table (what a daily job persists — the corpus
    # text never read) gives BIT-IDENTICAL decisions to the
    # recompute-from-text path, for both the decision operator and the
    # pair miner.
    state = build_dedup_state(old).localCheckpoint()
    via_state = {
        r["doc_id"]: r
        for r in incremental_dedup(new, old_state=state).collect()
    }
    assert {k: tuple(v) for k, v in got.items()} == {
        k: tuple(v) for k, v in via_state.items()
    }
    pairs_state = lsh_pairs_between_banded(new_state, state).collect()
    assert sorted(map(tuple, pairs)) == sorted(map(tuple, pairs_state))


def test_incremental_dedup_arg_validation(spark):
    import pytest as _pytest

    from sstable_migrator_spark.operators.dedup import (
        build_dedup_state,
        incremental_dedup,
    )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    state = build_dedup_state(docs)
    with _pytest.raises(ValueError, match="exactly one"):
        incremental_dedup(docs, docs, old_state=state)
    with _pytest.raises(ValueError, match="exactly one"):
        incremental_dedup(docs)


def test_dedup_state_params_sidecar(tmp_path):
    """The persisted state records its LSH parameters; consuming it
    with different ones refuses loudly instead of silently
    mis-estimating Jaccard."""
    import pytest as _pytest

    from sstable_migrator_spark.operators.dedup import (
        check_dedup_state_params,
        write_dedup_state_params,
    )

    p = str(tmp_path / "state")
    assert check_dedup_state_params(p) is None  # pre-sidecar: unknown
    write_dedup_state_params(p, num_hashes=16, bands=4, shingle_k=3)
    assert check_dedup_state_params(p) == {
        "num_hashes": 16, "bands": 4, "shingle_k": 3, "unicode_form": None
    }
    with _pytest.raises(ValueError, match="built with"):
        check_dedup_state_params(p, num_hashes=32)
    with _pytest.raises(ValueError, match="built with"):
        check_dedup_state_params(p, bands=8)
    # unicode_form is a guarded param like the banding: a state built
    # unnormalized refuses a normalized probe, and vice versa
    with _pytest.raises(ValueError, match="built with"):
        check_dedup_state_params(p, unicode_form="NFC")
    # pre-unicode_form sidecars (no key) read as unnormalized
    import json as _json

    with open(f"{p}/_params.json") as fh:
        legacy = _json.load(fh)
    legacy.pop("unicode_form")
    with open(f"{p}/_params.json", "w") as fh:
        _json.dump(legacy, fh)
    assert check_dedup_state_params(p)["unicode_form"] is None
    write_dedup_state_params(p, unicode_form="NFC")
    assert check_dedup_state_params(p, unicode_form="NFC")["unicode_form"] == "NFC"
    with _pytest.raises(ValueError, match="built with"):
        check_dedup_state_params(p)


def test_mismatched_state_signature_length_fails_loudly(spark):
    """Belt for the sidecar's suspenders: a state whose signatures were
    built with a different num_hashes must FAIL the pair query (in-plan
    assert), never return a silently wrong estimate."""
    import pytest as _pytest

    from sstable_migrator_spark.operators.dedup import (
        build_dedup_state,
        lsh_pairs_between_banded,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    new_ok = build_dedup_state(docs, num_hashes=16, bands=4)
    # the realistic corruption: band/bucket collide (same doc) but the
    # stored signature has the WRONG length (built with num_hashes=8)
    old_bad = new_ok.select(
        (F.col("doc_id") + 100).alias("doc_id"),
        F.slice("signature", 1, 8).alias("signature"),
        "band",
        "bucket",
    )
    with _pytest.raises(Exception, match="num_hashes"):
        lsh_pairs_between_banded(
            new_ok, old_bad, num_hashes=16, bands=4, jaccard_threshold=0.0
        ).collect()


def test_leakage_safe_split_invariant(spark):
    """The invariant the operator exists for: every near-dup cluster
    lands wholly in ONE split; singleton docs get their own cluster;
    bad percentages raise."""
    import pytest as _pytest

    from sstable_migrator_spark.operators.dedup import leakage_safe_split

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string"
    )
    # planted pair graph: chains {0,1,2}, {10,11}, rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    rows = leakage_safe_split(docs, pairs).collect()
    assert len(rows) == 200
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    assert by_cluster[0] is not None and {r["cluster_id"] for r in rows if r["doc_id"] in (0, 1, 2)} == {0}
    # rough ratio sanity on ~200 clusters at 80/10/10
    n = {s: sum(1 for r in rows if r["split"] == s) for s in ("train", "valid", "test")}
    assert n["train"] > n["valid"] and n["train"] > n["test"]
    assert n["train"] + n["valid"] + n["test"] == 200
    with _pytest.raises(ValueError):
        leakage_safe_split(docs, pairs, train_pct=90, valid_pct=10)


def test_strip_duplicated_spans(spark):
    """ExactSubstr deletion: corpus-repeated k-windows vanish from
    every occurrence (cross-doc AND within-doc), unique text survives
    verbatim, short/empty docs pass through, k validates."""
    import pytest as _pytest

    from sstable_migrator_spark.operators.dedup import strip_duplicated_spans

    boiler = "all rights reserved copyright twenty twenty four acme corp"  # 9 toks
    docs = spark.createDataFrame(
        [
            (1, "unique article about glaciers " + boiler),
            (2, "another piece on volcanoes " + boiler + " trailing words here"),
            (3, "totally original content with no repeats whatsoever in it"),
            (4, "short"),
            (5, ""),
            (6, " ".join(["loop"] * 16)),  # within-doc repetition
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in strip_duplicated_spans(docs, k=8).collect()}
    assert got[1]["clean_text"] == "unique article about glaciers"
    assert got[1]["n_removed"] == 9
    assert got[2]["clean_text"] == "another piece on volcanoes trailing words here"
    assert got[2]["n_removed"] == 9
    assert got[3]["n_removed"] == 0 and got[3]["clean_text"].startswith("totally")
    assert got[4] ["n_removed"] == 0 and got[5]["n_removed"] == 0
    assert got[6]["clean_text"] == "" and got[6]["n_removed"] == 16
    # partitioning-proof
    again = {r["doc_id"]: tuple(r)
             for r in strip_duplicated_spans(docs.repartition(7), k=8).collect()}
    assert again == {k: tuple(v) for k, v in got.items()}
    with _pytest.raises(ValueError):
        strip_duplicated_spans(docs, k=1)


def test_strip_spans_merged_intervals_identical_and_bounded(spark):
    """merged_intervals=True swaps the O(n x covered) array_contains
    rebuild for the sorted-interval-fold mapInPandas kernel: output
    must be row-identical on ordinary corpora, and a pathological
    document (10^4 tokens, ~all positions covered) must complete in
    bounded time on BOTH paths (the default path is quadratic-ish but
    still bounded at 10^4; the merged path is O(n log n))."""
    import time

    from sstable_migrator_spark.operators.dedup import (
        strip_duplicated_spans,
    )

    # ordinary corpus: shared spans across docs + within-doc repeats
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {shared} middle part {shared} tail end"),
            (2, f"other document start {shared} closing remarks now"),
            (3, "fully unique text with no repeated windows at all today"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    base = sorted(
        tuple(r) for r in strip_duplicated_spans(docs, k=8).collect()
    )
    merged = sorted(
        tuple(r)
        for r in strip_duplicated_spans(
            docs, k=8, merged_intervals=True
        ).collect()
    )
    assert merged == base

    # pathological: one doc = a 2-token phrase repeated 5000x -> every
    # window duplicated, ~every position covered
    patho = spark.createDataFrame(
        [(1, "ping pong " * 5000)], "doc_id long, text string"
    )
    t0 = time.monotonic()
    a = strip_duplicated_spans(patho, k=8).first()
    t_default = time.monotonic() - t0
    t0 = time.monotonic()
    b = strip_duplicated_spans(patho, k=8, merged_intervals=True).first()
    t_merged = time.monotonic() - t0
    assert a["n_tokens"] == 10000 and a["n_removed"] == 10000
    assert tuple(a) == tuple(b)
    # bounded: generous ceilings, not a race — the point is neither
    # path hangs (pre-fix risk was the default path at ~10^6 windows)
    assert t_default < 120 and t_merged < 120


def test_strip_contaminated_spans(spark):
    """Decontamination by deletion: eval-set k-windows vanish from
    training docs, everything else survives verbatim; the eval set
    itself never self-triggers corpus-internal repeats (unlike
    strip_duplicated_spans, a window must appear in EVAL, not just
    twice in train); merged_intervals path is row-identical."""
    import pytest as _pytest

    from sstable_migrator_spark.operators.dedup import strip_contaminated_spans

    leak = "the quick brown fox jumps over the lazy dog"  # 9 toks
    train = spark.createDataFrame(
        [
            (1, f"article one begins {leak} and then continues freely"),
            (2, "completely clean document with no eval overlap at all"),
            # corpus-internal duplicate that is NOT in eval: must survive
            (3, "shared boilerplate sentence appears twice here yes indeed"),
            (4, "shared boilerplate sentence appears twice here yes indeed"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, leak)], "doc_id long, text string")
    got = {r["doc_id"]: r for r in strip_contaminated_spans(train, ev, k=8).collect()}
    assert got[1]["clean_text"] == "article one begins and then continues freely"
    assert got[1]["n_removed"] == 9
    assert got[2]["n_removed"] == 0
    assert got[3]["n_removed"] == 0 and got[4]["n_removed"] == 0
    assert got[5]["n_removed"] == 0 and got[5]["clean_text"] == ""
    merged = {
        r["doc_id"]: tuple(r)
        for r in strip_contaminated_spans(
            train.repartition(3), ev, k=8, merged_intervals=True
        ).collect()
    }
    assert merged == {k: tuple(v) for k, v in got.items()}
    with _pytest.raises(ValueError):
        strip_contaminated_spans(train, ev, k=1)


def test_dedup_keep_best(spark):
    """Keep-best survivor policy: per near-dup cluster the HIGHEST
    quality wins (ties -> smallest id); singletons always kept; exactly
    one survivor per cluster; repartitioning can't change the answer."""
    from pyspark.sql import functions as F

    from sstable_migrator_spark.operators.dedup import dedup_keep_best

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 4), (42, 1)],
        "doc_id long, quality long",
    )
    rows = {r["doc_id"]: r for r in dedup_keep_best(docs, pairs, "quality").collect()}
    assert len(rows) == 6
    # cluster {1,2,3}: quality 9 tie between 2 and 3 -> 2 wins
    assert rows[2]["is_kept"] and not rows[1]["is_kept"] and not rows[3]["is_kept"]
    assert rows[1]["cluster_id"] == rows[2]["cluster_id"] == rows[3]["cluster_id"] == 1
    # cluster {10,11}: tie -> 10
    assert rows[10]["is_kept"] and not rows[11]["is_kept"]
    # singleton: own cluster, kept
    assert rows[42]["is_kept"] and rows[42]["cluster_id"] == 42
    # exactly one survivor per cluster
    kept = (
        dedup_keep_best(docs.repartition(5), pairs, "quality")
        .groupBy("cluster_id")
        .agg(F.sum(F.col("is_kept").cast("int")).alias("k"))
        .collect()
    )
    assert all(r["k"] == 1 for r in kept) and len(kept) == 3


def test_lsh_plan():
    """Banding planner: exact divisors only, midpoint nearest the
    target, probabilities match the closed S-curve, monotone in s."""
    import pytest as _pytest

    from sstable_migrator_spark.operators.dedup import lsh_plan

    plan = lsh_plan(0.5, num_hashes=16)
    assert plan["bands"] * plan["rows_per_band"] == 16
    # known S-curve values: p(s) = 1 - (1 - s^r)^b
    b, r = plan["bands"], plan["rows_per_band"]
    s = 0.5
    assert abs(plan["p_at_threshold"] - (1 - (1 - s**r) ** b)) < 1e-12
    assert plan["p_below"] < plan["p_at_threshold"] < plan["p_above"]
    # the repo default (16 hashes, threshold 0.5) should land on the
    # q43/q164 banding: 4 bands of 4 ((1/4)^(1/4) ~ 0.707 is the only
    # divisor midpoint near 0.5 from above; 8x2 gives 0.354) — pin the
    # actual argmin so a formula regression is visible
    assert (b, r) in ((4, 4), (8, 2))
    # a high threshold prefers fewer, taller bands
    hi = lsh_plan(0.9, num_hashes=16)
    assert hi["rows_per_band"] >= plan["rows_per_band"]
    # max_bands cap respected
    capped = lsh_plan(0.2, num_hashes=16, max_bands=4)
    assert capped["bands"] <= 4
    with _pytest.raises(ValueError):
        lsh_plan(0.0)
    with _pytest.raises(ValueError):
        lsh_plan(0.5, num_hashes=1)
    # max_bands < 1 filters every divisor out: loud ValueError,
    # not an opaque unpack TypeError
    with _pytest.raises(ValueError, match="max_bands"):
        lsh_plan(0.5, num_hashes=16, max_bands=0)


def test_normalize_unicode(spark):
    """NFC/NFKC normalization: combining pairs fuse, compatibility
    forms fold only under NFKC, NULLs pass, non-text columns survive,
    invalid form/column raise — and the dedup motivation holds: the
    two forms of the same text fingerprint identically after."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sstable_migrator_spark.operators.normalize import normalize_unicode

    rows = [
        (1, "cafe\u0301 menu", "a"),   # decomposed -> changes
        (2, "caf\u00e9 menu", "b"),    # precomposed -> unchanged
        (3, "\uff11\uff12 fullwidth", "c"),  # NFKC-only fold
        (4, None, "d"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, tag string")
    nfc = {r["doc_id"]: r for r in normalize_unicode(docs, "NFC").collect()}
    assert nfc[1]["changed"] and nfc[1]["text"] == "caf\u00e9 menu"
    assert not nfc[2]["changed"]
    assert not nfc[3]["changed"]  # NFC keeps fullwidth digits
    assert nfc[4]["text"] is None and not nfc[4]["changed"]
    assert all(nfc[i]["tag"] == t for i, t in ((1, "a"), (4, "d")))
    # post-normalization the two spellings hash identically
    assert nfc[1]["text"] == nfc[2]["text"]
    nfkc = {r["doc_id"]: r for r in normalize_unicode(docs, "NFKC").collect()}
    assert nfkc[3]["changed"] and nfkc[3]["text"] == "12 fullwidth"
    with _pytest.raises(ValueError):
        normalize_unicode(docs, "NFX")
    with _pytest.raises(ValueError):
        normalize_unicode(docs, text_col="nope")


def test_repair_mojibake(spark):
    """Double-encoded UTF-8 repairs via the inverse latin-1/cp1252
    round-trip; correct text, ASCII, and NULLs pass untouched; a
    doubly-doubled string needs (and gets) two rounds; cp1252-only
    bytes (curly quote) repair through the fallback."""
    import pytest as _pytest

    from sstable_migrator_spark.operators.normalize import repair_mojibake

    good = "café au lait"
    once = good.encode("utf-8").decode("latin-1")       # 'cafÃ© au lait'
    twice = once.encode("utf-8").decode("latin-1")
    curly = "it’s fine"
    curly_bad = curly.encode("utf-8").decode("cp1252")  # 'itâ€™s fine'
    rows = [
        (1, once), (2, twice), (3, good), (4, "plain ascii text"),
        (5, None), (6, curly_bad),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repair_mojibake(docs).collect()}
    assert got[1]["text"] == good and got[1]["changed"]
    assert got[2]["text"] == good and got[2]["changed"]   # two rounds
    assert got[3]["text"] == good and not got[3]["changed"]
    assert not got[4]["changed"] and got[4]["text"] == "plain ascii text"
    assert got[5]["text"] is None and not got[5]["changed"]
    assert got[6]["text"] == curly and got[6]["changed"]
    # max_rounds=1 repairs the single but not the double
    one = {r["doc_id"]: r for r in repair_mojibake(docs, max_rounds=1).collect()}
    assert one[1]["text"] == good and one[2]["text"] == once
    with _pytest.raises(ValueError):
        repair_mojibake(docs, max_rounds=0)
    with _pytest.raises(ValueError):
        repair_mojibake(docs, text_col="nope")


def test_soft_dedup_weights(spark):
    from sstable_migrator_spark.operators.dedup import exact_dedup, soft_dedup

    docs = spark.createDataFrame(
        [
            (1, "the same text"),
            (2, "THE  same   text"),   # normalizes equal -> dup of 1
            (3, "the same text "),     # trim -> dup of 1
            (4, "a unique document"),
            (5, "three way copy"), (6, "three way copy"), (7, "three way copy"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in soft_dedup(docs).collect()}
    assert set(got) == {1, 4, 5}  # min-id survivor per group
    assert got[1]["dup_count"] == 3 and got[1]["weight_x1e6"] == 333333
    assert got[4]["dup_count"] == 1 and got[4]["weight_x1e6"] == 1000000
    assert got[5]["dup_count"] == 3
    # survivors == exact_dedup survivors (same key, same tie rule)
    hard = {r["doc_id"] for r in exact_dedup(docs).collect()}
    assert set(got) == hard
    # stable under partitioning
    again = {
        r["doc_id"]: r["dup_count"]
        for r in soft_dedup(docs.repartition(5)).collect()
    }
    assert again == {k: v["dup_count"] for k, v in got.items()}


def test_mine_templates(spark):
    from sstable_migrator_spark.operators.dedup import mine_templates

    docs = spark.createDataFrame(
        [
            (1, "Order #123 please ship 4 units"),
            (2, "order #9 please  ship 77 units"),   # same template
            (3, "Order #55 please ship 1 units"),    # same template
            (10, "Translate 'hello' to French"),
            (11, "Translate 'hello' to French"),     # same (no digits)
            (20, "a one-off document with digits 42"),
        ],
        "doc_id long, text string",
    )
    got = {r["template"]: r for r in mine_templates(docs).collect()}
    assert set(got) == {
        "order #0 please ship 0 units",
        "translate 'hello' to french",
    }  # the one-off is below min_count
    t1 = got["order #0 please ship 0 units"]
    assert t1["n_docs"] == 3 and t1["example_doc_id"] == 1
    assert got["translate 'hello' to french"]["n_docs"] == 2
    assert mine_templates(docs, min_count=1).count() == 3


# --- near-dup threshold sweep -----------------------------------------------


def test_dedup_threshold_sweep_planted(spark):
    """Three planted relationships: an exact pair (band 100), a
    partial-overlap pair, and an isolated doc. docs_touched must
    accumulate top-down, and a doc in pairs at two bands counts once,
    at its best band."""
    from sstable_migrator_spark.operators.dedup import dedup_threshold_sweep

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
            (3, "alpha beta gamma delta nine ten eleven twelve"),  # partial
            (4, "completely different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    rows = {r["band_lo"]: r for r in dedup_threshold_sweep(
        docs, floor_pct=10).collect()}
    assert rows[100]["n_pairs"] == 1  # (1,2)
    assert rows[100]["n_docs_best"] == 2
    assert rows[100]["docs_touched"] == 2
    # doc 3 pairs with 1 and 2 at a partial band; docs 1/2 already
    # counted at 100, so only doc 3 is new at its band
    partial = [b for b in rows if b < 100]
    assert len(partial) == 1
    b = partial[0]
    assert rows[b]["n_pairs"] == 2  # (1,3) and (2,3)
    assert rows[b]["n_docs_best"] == 1  # doc 3 only
    assert rows[b]["docs_touched"] == 3
    # doc 4 appears nowhere
    assert sum(r["n_docs_best"] for r in rows.values()) == 3


def test_dedup_threshold_sweep_band_width_guard(spark):
    import pytest

    from sstable_migrator_spark.operators.dedup import dedup_threshold_sweep

    docs = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    with pytest.raises(ValueError, match="band_pct"):
        dedup_threshold_sweep(docs, band_pct=7)


def test_dedup_threshold_sweep_grouped(spark):
    """group_col blocks pairs: identical docs in different groups never
    pair (the LSH-bucket contract)."""
    from sstable_migrator_spark.operators.dedup import dedup_threshold_sweep

    docs = spark.createDataFrame(
        [(1, "same text here always", "a"), (2, "same text here always", "b")],
        "doc_id long, text string, bucket string",
    )
    assert dedup_threshold_sweep(docs, group_col="bucket").count() == 0

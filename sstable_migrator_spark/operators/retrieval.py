"""BM25 full-text retrieval with exact integer scoring.

North-star extension (lexical sibling of the ANN/embedding family in
operators/simsearch.py): score documents against a bag-of-terms query
with BM25 — THE standard lexical ranking function — re-derived so the
whole computation is BIGINT arithmetic and therefore order-free,
partitioning-proof, and hash-exact against a SQL oracle:

- **IDF** — ``ln((N - df + .5)/(df + .5) + 1)`` collapses to
  ``log((2N+2)/(2df+1))``; quantized with the same integer q16
  log2 approximation the perplexity filter uses (operators/lm).
  Natural-log vs log2 is a constant factor absorbed by the ranking.
- **TF normalization** — ``tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``
  with the standard k1 = 1.2 = 6/5 and b = 0.75 = 3/4. Substituting
  ``avgdl = T/n`` (total corpus tokens over doc count) and clearing
  every fraction gives the exact integer ratio
      num = 44*T*tf,   den = 20*T*tf + 6*T + 18*dl*n
  so the per-(term, doc) contribution is ``(idf_q16 * num) div den``
  — one integer multiply and one exact integer division, no floats.
  Overflow headroom: contributions stay under 2^63 while
  ``idf_q16 * 44 * T * tf < 2^63`` — with idf_q16 <= ~16*40 that is
  T*tf < ~2e16, comfortable for corpora to ~10^13 tokens; past that,
  run the internal products as DECIMAL(38,0) and cast the result back
  (the division keeps results small — documented, not needed here).

Plan shape at 100 TB: postings are one map-side explode + one (term,
doc) count aggregation; document lengths ride the same pass. The query
side (a handful of terms with their df) broadcasts; scoring is a
broadcast hash join postings-vs-query, then ONE aggregation keyed by
doc id and a TakeOrderedAndProject for the top-k. Nothing data-sized
shuffles twice; ties break on doc id so results are fully
deterministic.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sstable_migrator_spark.operators.lm import _q16_col, exact_intdiv

__all__ = [
    "append_postings_index",
    "bm25_topk",
    "bm25_topk_batch",
    "bm25_topk_from_postings",
    "build_postings",
    "read_corpus_stats",
    "rrf_fuse",
    "write_postings_index",
]

_PB_SEED = 29  # term-hash seed for the postings bucket partitioning


def term_bucket_py(term: str, n_buckets: int, seed: int = _PB_SEED) -> int:
    """Driver-side twin of ``TX.hash64(term, seed) % n_buckets`` (same
    md5/first-15-hex recipe, test-pinned) — lets a query resolve its
    terms' partition directories WITHOUT touching the cluster."""
    import hashlib

    return int(
        hashlib.md5((f"{seed}|" + term).encode()).hexdigest()[:15], 16
    ) % n_buckets


def build_postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    first_marker: str | None = None,
) -> DataFrame:
    """(doc, term, tf, dl) postings, MAP-ONLY. Terms are lowercase
    whitespace tokens (the tokenizer every other text operator in this
    engine shares).

    Round-10 (guide §2.4 "remove shuffles outright"): term frequency
    within a document is a per-row computation, so the former
    explode -> groupBy(doc, dl, term) exchange (|tokens| rows shuffled
    per corpus pass) was never fundamental. The array is sorted once
    per doc and run-length encoded with JVM built-ins: ``bounds`` =
    1-based positions where the sorted array changes value, each
    bound's tf = distance to the next bound. Row-identical to the
    groupBy form (verified exceptAll both ways at sf0.1; pinned by
    test_retrieval), ~0.50 -> ~0.36 s for the bare pass at sf0.1, and
    every downstream consumer (index build, topk scan, append) drops
    one data-sized exchange at any scale.

    ``first_marker``: optional extra int column, 1 on exactly one
    posting row per document (the first run of the sorted array).
    ``sum(marker)`` = document count and ``sum(tf)`` = total tokens, so
    an index write can collect its corpus stats via ``observe`` ON the
    write job instead of re-scanning anything."""
    from sstable_migrator_spark.functions import text as TX

    toks = docs.select(
        F.col(id_col).alias("doc"),
        TX.tokens(F.lower(F.col(text_col))).alias("tk"),
    )
    n = F.size("tk")
    rows = toks.select(
        "doc",
        n.alias("dl"),
        F.array_sort("tk").alias("_s"),
        F.when(n > 0, F.sequence(F.lit(1), n))
        .otherwise(F.array().cast("array<int>"))
        .alias("_i"),
    )
    # ANSI-safe: try_element_at(_s, 0) is NULL, and (i == 1) | (x != NULL)
    # is true, so the first position is always a boundary
    bounds = F.filter(
        F.col("_i"),
        lambda i: (i == 1)
        | (F.element_at(F.col("_s"), i) != F.try_element_at(F.col("_s"), i - 1)),
    )
    rows = rows.select("doc", "dl", "_s", bounds.alias("_b"))
    def _entry(b: Column, j: Column) -> Column:
        fields = [
            F.element_at(F.col("_s"), b).alias("term"),
            (
                F.coalesce(
                    F.try_element_at(F.col("_b"), j + 2),
                    F.size(F.col("_s")) + 1,
                )
                - b
            )
            .cast("long")
            .alias("tf"),
        ]
        if first_marker is not None:
            fields.append((j == 0).cast("int").alias(first_marker))
        return F.struct(*fields)

    entries = F.transform(F.col("_b"), _entry)
    out_cols = [
        "doc",
        F.col("_e.term").alias("term"),
        F.col("_e.tf").alias("tf"),
        "dl",
    ]
    if first_marker is not None:
        out_cols.append(F.col(f"_e.{first_marker}").alias(first_marker))
    return rows.select("doc", "dl", F.explode(entries).alias("_e")).select(
        *out_cols
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    topk: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents for a bag-of-terms query under integer BM25.
    Returns ``(doc_id, score_q, n_hit)`` — the quantized integer score
    and how many query terms matched — ordered by (score desc, doc id).

    The query is a FIXED, small bag of terms, so per-term tf is a
    per-row array count — no postings explode, no (doc, term)
    aggregation, no per-term countDistinct exchange. Two slim corpus
    passes: one single-row aggregate (doc count, total tokens, per-term
    document frequencies — all in ONE partial-agg pass), then scoring
    over the docs that hit at least one term with the stats row
    broadcast. Ranking is row-identical to the postings form (same
    integer contribution per matching term, same tie-break).
    """
    terms = sorted(set(t.lower() for t in query_terms))
    if not terms:
        raise ValueError("empty query")
    from sstable_migrator_spark.functions import text as TX

    nt = len(terms)
    tkd = docs.select(
        F.col(id_col).alias("doc"), TX.tokens(F.lower(F.col(text_col))).alias("tk")
    )
    # all scoring expressions assembled as SQL strings: the deep
    # integer-q16/contribution trees cost ~0.7 s of py4j chatter per
    # construction as Column ops (guide §1.2 — the driver is part of
    # the measurement), one selectExpr round-trip instead

    def _sq(t: str) -> str:
        return t.replace("'", "''")

    slim = tkd.selectExpr(
        "doc",
        "CAST(size(tk) AS BIGINT) AS dl",
        *[
            f"CAST(size(filter(tk, x -> x = '{_sq(t)}')) AS BIGINT) AS _tf{i}"
            for i, t in enumerate(terms)
        ],
    )

    # corpus constants + per-term df in ONE bounded aggregate (docs with
    # no tokens produce no postings, hence the dl > 0 population)
    def _idf(i: int) -> str:
        r = f"(CAST(n*2+2 AS BIGINT) * 16) div CAST(_df{i}*2+1 AS BIGINT)"
        bits = " + ".join(
            f"(CASE WHEN substring(bin({r}), {j}, 1) = '1' THEN {w} ELSE 0 END)"
            for j, w in ((2, 8), (3, 4), (4, 2), (5, 1))
        )
        return (
            f"CAST((length(bin({r})) - 1) * 16 + {bits} - 64 AS BIGINT) AS _idf{i}"
        )

    stats = (
        slim.filter("dl > 0")
        .agg(
            F.expr("count(1) AS n"),
            F.expr("sum(dl) AS t"),
            *[F.expr(f"sum(CAST(_tf{i} > 0 AS BIGINT)) AS _df{i}") for i in range(nt)],
        )
        .selectExpr("n", "t", *[_idf(i) for i in range(nt)])
    )

    def _term_contrib(i: int) -> str:
        num = f"CAST(_idf{i} * 44 * t * _tf{i} AS BIGINT)"
        den = f"CAST(20 * t * _tf{i} + 6 * t + 18 * dl * n AS BIGINT)"
        return (
            f"(CASE WHEN _tf{i} > 0 THEN {num} div {den} "
            "ELSE CAST(0 AS BIGINT) END)"
        )

    any_hit = " OR ".join(f"_tf{i} > 0" for i in range(nt))
    score = " + ".join(_term_contrib(i) for i in range(nt))
    n_hit = " + ".join(f"CAST(_tf{i} > 0 AS BIGINT)" for i in range(nt))
    return (
        slim.filter(any_hit)
        .crossJoin(F.broadcast(stats))
        .selectExpr(
            f"doc AS {id_col}",
            f"{score} AS score_q",
            f"{n_hit} AS n_hit",
        )
        .orderBy(F.desc("score_q"), id_col)
        .limit(topk)
    )


def _contrib():
    """The exact-integer Robertson contribution (see module docstring):
    expects columns idf_q, t, n, tf, dl."""
    num = F.col("idf_q") * F.lit(44) * F.col("t") * F.col("tf")
    den = (
        F.lit(20) * F.col("t") * F.col("tf")
        + F.lit(6) * F.col("t")
        + F.lit(18) * F.col("dl") * F.col("n")
    ).cast("long")
    return exact_intdiv(num, den)


def _score_topk(qpost_idf: DataFrame, id_col: str, topk: int) -> DataFrame:
    scored = (
        qpost_idf.select("doc", _contrib().alias("contrib"))
        .groupBy("doc")
        .agg(
            F.sum("contrib").alias("score_q"),
            F.count(F.lit(1)).alias("n_hit"),
        )
    )
    return scored.select(
        F.col("doc").alias(id_col), "score_q", "n_hit"
    ).orderBy(F.desc("score_q"), id_col).limit(topk)


def write_postings_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Persist the postings as a QUERYABLE INDEX: real retrieval serves
    MANY queries against ONE corpus, so the corpus pass (tokenize +
    postings aggregation) must happen once, not per query. Layout:
    parquet partitioned by ``pb = hash64(term) % n_buckets`` — a
    query's terms resolve (driver-side, no cluster touch) to a handful
    of ``pb=`` directories, and Spark's partition pruning reads ONLY
    those: the second query costs an index lookup, never a corpus
    scan. Corpus constants (doc count, total tokens) land in the
    underscore-hidden ``_corpus_stats`` so scoring needs no extra
    corpus pass either. Returns ``{n, t, n_buckets}``.

    Same shared-filesystem contract as every persisted store here:
    ``path`` must be visible to all executors
    (sinks.scratch_path / SPARK_GRAFT_SCRATCH)."""
    from sstable_migrator_spark.functions import text as TX

    post = build_postings(
        docs, text_col=text_col, id_col=id_col, first_marker="_fst"
    )
    # Corpus constants ride the WRITE job itself (round-10, guide §1.4):
    # sum(tf) = total tokens and sum(_fst) = doc count are collected by
    # an Observation on the plan that feeds the write — the former
    # read-the-index-back distinct pass (one extra scan + shuffle per
    # build) is gone; the marker column is projected away before the
    # rows hit parquet, so the index layout is unchanged.
    obs = Observation("corpus_stats")
    keyed = post.withColumn(
        "pb", TX.hash64(F.col("term"), seed=_PB_SEED) % n_buckets
    ).observe(
        obs,
        F.sum("_fst").cast("long").alias("n"),
        F.sum("tf").cast("long").alias("t"),
    ).drop("_fst")
    keyed.repartition("pb").write.mode("overwrite").partitionBy(
        "pb"
    ).parquet(path)
    spark = docs.sparkSession
    got = obs.get
    n, t = got["n"] or 0, got["t"]
    _write_stats_base(spark, path, int(n), int(t or 0), int(n_buckets))
    return {"n": int(n), "t": int(t or 0), "n_buckets": int(n_buckets)}


def _write_stats_base(spark, path: str, n: int, t: int, n_buckets: int) -> None:
    """(Re)set ``_corpus_stats`` to a single BASE row. The stats table
    is DELTA rows summed at read (base at ``batch=-1``, append deltas
    at ``batch=-2``), so incremental appends stay O(day)."""
    from sstable_migrator_spark.sinks import local_rows_df

    local_rows_df(
        spark, [(n, t, n_buckets, -1)], "n long, t long, n_buckets int, batch int"
    ).write.mode("overwrite").partitionBy("batch").parquet(
        os.path.join(path, "_corpus_stats")
    )


def read_corpus_stats(spark, path: str) -> dict:
    """The corpus constants scoring needs: SUM over the delta rows
    (one base row + one per append). O(appends) rows — KBs, so read
    DRIVER-side with pyarrow (round-10): the Spark scan+agg it
    replaces cost a scheduler round trip per serve call. Same
    shared-filesystem visibility contract as the index itself."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(path, "_corpus_stats"), columns=["n", "t", "n_buckets"]
    )
    if tbl.num_rows == 0:
        raise ValueError(f"postings index at {path} has empty _corpus_stats")
    ns = tbl.column("n").to_pylist()
    ts = tbl.column("t").to_pylist()
    nbs = [x for x in tbl.column("n_buckets").to_pylist() if x is not None]
    if not nbs:
        raise ValueError(f"postings index at {path} has empty _corpus_stats")
    return {
        "n": sum(x or 0 for x in ns),
        "t": sum(x or 0 for x in ts),
        "n_buckets": int(max(nbs)),
    }


def append_postings_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """INCREMENTAL index maintenance — the serve-path twin of the
    dedup state store: append the NEW documents' postings to an
    existing ``write_postings_index`` layout and bump the corpus
    constants, so a daily append costs O(day) for retrieval too (the
    full rebuild re-tokenizes the corpus). The new docs' rows land in
    the same ``pb=`` directories (append mode writes additional files
    per partition dir); scoring reads postings per (term, doc) row, so
    a term's postings living in several files is invisible to the
    query — ``bm25_topk_from_postings`` on the appended index equals a
    full rebuild EXACTLY when the doc sets are disjoint (test-pinned).
    Appending an already-indexed doc_id is the caller's bug (postings
    would double-count its tf); gate admission upstream
    (``dedup.incremental_dedup``). Single-writer discipline, same as
    every store here. Returns the updated ``{n, t, n_buckets}``.

    CRASH REPAIR: the postings append and the stats-delta write are
    two writes; a crash between them leaves ``_corpus_stats``
    undercounting n/t (skewing IDF down slightly) while the postings
    themselves are complete. The index is self-describing, so the
    repair is ``rebuild_postings_stats(spark, path)`` — one
    column-pruned scan of the index, never a corpus pass."""
    from sstable_migrator_spark.functions import text as TX

    spark = docs.sparkSession
    base = read_corpus_stats(spark, path)
    n0, t0, n_buckets = base["n"], base["t"], base["n_buckets"]
    # day-sized: pin it so the write and the stats delta share one
    # tokenize pass (same lesson as write_postings_index's read-back)
    post = build_postings(docs, text_col=text_col, id_col=id_col).localCheckpoint()
    keyed = post.withColumn(
        "pb", TX.hash64(F.col("term"), seed=_PB_SEED) % n_buckets
    )
    keyed.repartition("pb").write.mode("append").partitionBy("pb").parquet(path)
    dn, dt = (
        post.select("doc", "dl")
        .distinct()
        .agg(F.count(F.lit(1)), F.sum("dl"))
        .first()
    )
    dn, dt = int(dn), int(dt or 0)
    from sstable_migrator_spark.sinks import local_rows_df

    delta = local_rows_df(
        spark,
        [(dn, dt, n_buckets, -2)],
        "n long, t long, n_buckets int, batch int",
    )
    delta.write.mode("append").partitionBy("batch").parquet(
        os.path.join(path, "_corpus_stats")
    )
    return {"n": n0 + dn, "t": t0 + dt, "n_buckets": n_buckets}


def rebuild_postings_stats(
    spark: SparkSession, path: str, n_buckets: int | None = None
) -> dict:
    """Repair ``_corpus_stats`` from the postings parquet itself — the
    documented recovery for a crash between ``append_postings_index``'s
    postings append and its stats overwrite. The postings are
    self-describing: n = distinct docs, t = sum of per-doc lengths over
    the distinct (doc, dl) pairs — one column-pruned scan of the index.
    ``n_buckets`` defaults to ``max(pb) + 1``, exact whenever every
    bucket holds at least one term (any real corpus); pass it
    explicitly for a tiny index that might have empty top buckets."""
    post = spark.read.parquet(path)
    if n_buckets is None:
        max_pb = post.agg(F.max("pb")).first()[0]
        if max_pb is None:
            # empty postings = nothing to infer the layout from, and
            # plausible exactly in the crash-repair scenario (crash
            # before the first postings append): fail descriptively
            # instead of TypeError-ing on int(None)
            raise ValueError(
                f"postings index at {path} has no rows; cannot infer "
                "n_buckets from an empty index — pass n_buckets "
                "explicitly (the value used at write_postings_index "
                "time) to write zero stats, or rebuild the index"
            )
        n_buckets = int(max_pb) + 1
    n, t = (
        post.select("doc", "dl")
        .distinct()
        .agg(F.count(F.lit(1)), F.sum("dl"))
        .first()
    )
    _write_stats_base(spark, path, int(n), int(t or 0), int(n_buckets))
    return {"n": int(n), "t": int(t or 0), "n_buckets": int(n_buckets)}


def bm25_topk_from_postings(
    spark: SparkSession,
    path: str,
    query_terms: list[str],
    topk: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k against a persisted ``write_postings_index`` — the
    serve-path twin of ``bm25_topk``: identical integer scoring
    (test- and oracle-pinned), but the scan is partition-pruned to the
    query terms' hash buckets (``PartitionFilters`` on ``pb``), so
    cost scales with the matched postings, not the corpus."""
    terms = sorted(set(t.lower() for t in query_terms))
    if not terms:
        raise ValueError("empty query")
    st = read_corpus_stats(spark, path)
    n, t, n_buckets = st["n"], st["t"], st["n_buckets"]
    pbs = sorted({term_bucket_py(tm, n_buckets) for tm in terms})
    qpost = spark.read.parquet(path).filter(
        F.col("pb").isin(pbs) & F.col("term").isin(terms)
    )
    df_tab = qpost.groupBy("term").agg(F.countDistinct("doc").alias("df"))
    idf = df_tab.select(
        "term",
        F.lit(n).alias("n"),
        F.lit(t).alias("t"),
        _q16_col(
            (F.col("df") * 2 + 1).cast("long"),
            F.lit(n * 2 + 2).cast("long"),
        ).alias("idf_q"),
    )
    return _score_topk(qpost.join(F.broadcast(idf), "term"), id_col, topk)


def bm25_topk_batch(
    docs: DataFrame | None,
    queries: dict[str, list[str]],
    topk: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    postings: DataFrame | None = None,
) -> DataFrame:
    """N queries scored in ONE pass over the postings (the other half
    of serve-path economics: batch the query side). All queries' terms
    broadcast as one tiny (query_id, term) relation; postings filter
    once to the union of terms; per-(query, doc) scores aggregate in
    one shuffle; per-query top-k via a rank window PARTITIONED by
    query_id (never unpartitioned). Returns
    ``(query_id, doc_id, score_q, n_hit, rank)`` — identical scores to
    running ``bm25_topk`` per query (test-pinned).

    Pass ``postings=`` (``build_postings`` output or the persisted
    index read back) to skip the corpus pass entirely."""
    from pyspark.sql import Window

    if not queries or any(not ts for ts in queries.values()):
        raise ValueError("need at least one query, none empty")
    post = (
        postings
        if postings is not None
        else build_postings(docs, text_col=text_col, id_col=id_col)
    )
    spark = post.sparkSession
    all_terms = sorted({t.lower() for ts in queries.values() for t in ts})
    qdf = spark.createDataFrame(
        sorted({(q, t.lower()) for q, ts in queries.items() for t in ts}),
        "query_id string, term string",
    )
    qpost = post.filter(F.col("term").isin(all_terms))
    doclens = post.select("doc", "dl").distinct()
    stats = doclens.agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t"))
    df_tab = qpost.groupBy("term").agg(F.countDistinct("doc").alias("df"))
    idf = df_tab.crossJoin(F.broadcast(stats)).select(
        "term",
        "n",
        "t",
        _q16_col(
            (F.col("df") * 2 + 1).cast("long"),
            (F.col("n") * 2 + 2).cast("long"),
        ).alias("idf_q"),
    )
    scored = (
        qpost.join(F.broadcast(qdf), "term")
        .join(F.broadcast(idf), "term")
        .select("query_id", "doc", _contrib().alias("contrib"))
        .groupBy("query_id", "doc")
        .agg(
            F.sum("contrib").alias("score_q"),
            F.count(F.lit(1)).alias("n_hit"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_q"), F.col("doc"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "query_id",
            F.col("doc").alias(id_col),
            "score_q",
            "n_hit",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    scale: int = 1_000_000_000,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) — the standard way
    to combine heterogeneous retrievers (BM25 lexical + ANN dense is
    the modern hybrid-search pair; both live in this module family):
    each system contributes ``1/(k + rank)`` per (query, doc), summed
    across systems, re-ranked. INTEGER form (the engine's discipline):
    contributions are ``floor(scale / (k + rank))`` — exact,
    order-free under aggregation for ANY number of systems (float
    1/(k+r) sums are order-nondeterministic past two systems), and a
    faithful RRF up to 1/scale quantization, which at scale=1e9 is far
    below any rank-relevant gap (ranks 1..1000 -> contributions ~1e6
    apart). Input rankings carry 1-BASED ranks with a deterministic
    tie rule (the module's score-desc-id-asc convention); a doc absent
    from a system simply contributes nothing — RRF's defined behavior.

    Plan: union (map-only) -> one groupBy (query, doc) with map-side
    partial aggregation -> one per-query window for the fused rank.
    Both exchanges are keyed by query, so a 10^9-query batch spreads;
    per-query candidate sets are topk-bounded by construction.
    Returns (query_id, doc_id, rrf_x, n_systems, fused_rank)."""
    from pyspark.sql import Window

    if not rankings:
        raise ValueError("need at least one ranking")
    if k < 0 or scale <= 0:
        raise ValueError(f"bad k={k} / scale={scale}")
    tagged = None
    for r in rankings:
        cur = r.select(
            F.col(query_col).alias("query_id"),
            F.col(doc_col).alias("doc_id"),
            F.floor(
                F.lit(int(scale)) / (F.lit(int(k)) + F.col(rank_col))
            )
            .cast("long")
            .alias("_s"),
        )
        tagged = cur if tagged is None else tagged.unionByName(cur)
    fused = tagged.groupBy("query_id", "doc_id").agg(
        F.sum("_s").alias("rrf_x"),
        F.count(F.lit(1)).cast("int").alias("n_systems"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_x"), F.asc("doc_id")
    )
    return fused.withColumn(
        "fused_rank", F.row_number().over(w).cast("int")
    )

"""File-arrival drains as Structured Streaming queries: availableNow
ticks whose foreachBatch gates land documents in the corpus
(streaming/corpus_ingest) and URLs in the crawl frontier
(streaming/frontier), plus a stateless quality gate run unchanged
inside a stream. The nightly DNS load is batch-only
(tests/test_daily_pipeline.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

def test_streaming_quality_gate(spark, tmp_path):
    """The frozen-weight quality scorer is a stateless projection, so
    it runs unchanged inside a stream: gate a document stream on
    keep=1 and land only the keepers; results equal the batch path."""
    import json as _json

    from sstable_migrator_spark.operators.quality_model import (
        score_quality_frozen,
    )
    from sstable_migrator_spark.queries import _QM_BIAS, _QM_WEIGHTS

    in_dir = tmp_path / "docs"
    in_dir.mkdir()
    rows = [
        {"doc_id": 1, "text": "the committee approved the budget after a long debate"},
        {"doc_id": 2, "text": "casino casino jackpot jackpot click here click here now"},
        {"doc_id": 3, "text": "researchers published their findings in a reviewed journal"},
    ]
    with open(in_dir / "a.jsonl", "w") as fh:
        for r in rows:
            fh.write(_json.dumps(r) + "\n")

    stream = spark.readStream.schema("doc_id long, text string").json(
        str(in_dir)
    )
    gated = score_quality_frozen(stream, _QM_WEIGHTS, _QM_BIAS).filter(
        "keep = 1"
    )
    out = str(tmp_path / "kept")
    q = (
        gated.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}

    batch = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string"
    )
    expect = {
        r["doc_id"]
        for r in score_quality_frozen(batch, _QM_WEIGHTS, _QM_BIAS)
        .filter("keep = 1")
        .collect()
    }
    assert got == expect and 2 not in got and {1, 3} == got


def test_streaming_corpus_admission(spark, tmp_path):
    """Two arrival drains: wave 1 seeds the corpus; wave 2's exact copy
    and near-dup are rejected against the NOW-EXISTING corpus, the
    novel doc admitted; a third drain with nothing new is a no-op."""
    import json as _json

    from sstable_migrator_spark.streaming.corpus_ingest import (
        admit_documents_available_now,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    base = " ".join(f"w{i} tok{i % 7} fil{i % 11}" for i in range(25))

    postings = str(tmp_path / "postings")
    with open(inbox / "wave1.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": base}) + "\n")
        fh.write(_json.dumps({"doc_id": 2, "text": "totally different words about gardens and rivers flowing south under old bridges"}) + "\n")
    s1 = admit_documents_available_now(
        spark, str(inbox), corpus, ckpt, postings_path=postings
    )
    assert s1 == {"judged": 2, "admitted": 2}

    with open(inbox / "wave2.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 10, "text": base}) + "\n")            # exact
        fh.write(_json.dumps({"doc_id": 11, "text": base + " trailing"}) + "\n")  # near
        fh.write(_json.dumps({"doc_id": 12, "text": "novel astronomy content about telescopes saturn rings and midnight observation sessions"}) + "\n")
    s2 = admit_documents_available_now(
        spark, str(inbox), corpus, ckpt, postings_path=postings
    )
    assert s2 == {"judged": 3, "admitted": 1}

    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 2, 12}

    s3 = admit_documents_available_now(
        spark, str(inbox), corpus, ckpt, postings_path=postings
    )
    assert s3 == {"judged": 0, "admitted": 0}

    # the gate ALSO kept the BM25 serving index fresh: the drain-
    # appended index ranks exactly like an index rebuilt from the
    # final corpus
    from sstable_migrator_spark.operators.retrieval import (
        bm25_topk_from_postings,
        write_postings_index,
    )

    rebuilt = str(tmp_path / "rebuilt")
    write_postings_index(spark.read.parquet(corpus), rebuilt, n_buckets=64)
    for terms in (["rivers", "gardens"], ["telescopes"], ["w3", "tok1"]):
        a = [tuple(r) for r in
             bm25_topk_from_postings(spark, postings, terms, topk=5).collect()]
        b = [tuple(r) for r in
             bm25_topk_from_postings(spark, rebuilt, terms, topk=5).collect()]
        assert a == b, terms

    # the admission ledger recorded every decision with its batch —
    # written DISTRIBUTED (executor-side JSON append), never collected
    ledger = spark.read.json(str(tmp_path / "corpus" / "_admissions")).collect()
    assert {(r["doc_id"], r["admitted"]) for r in ledger} == {
        (1, 1), (2, 1), (10, 0), (11, 0), (12, 1),
    }

    # the state store holds bands rows per ADMITTED doc only
    st = spark.read.parquet(str(tmp_path / "corpus" / "_dedup_state"))
    assert {r["doc_id"] for r in st.select("doc_id").distinct().collect()} == {1, 2, 12}


def test_corpus_admission_judges_from_state_not_text(spark, tmp_path):
    """Drain N+1 must not rescan the corpus text: after wave 1 seeds
    the state store, the corpus parquet is DELETED outright — and an
    exact copy of a wave-1 document is still rejected, because the
    decision reads only the persisted fingerprint+signature state."""
    import glob as _glob
    import json as _json

    from sstable_migrator_spark.streaming.corpus_ingest import (
        admit_documents_available_now,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    base = " ".join(f"alpha{i} beta{i % 5} gamma{i % 9}" for i in range(30))

    with open(inbox / "wave1.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": base}) + "\n")
    assert admit_documents_available_now(spark, str(inbox), corpus, ckpt) == {
        "judged": 1, "admitted": 1,
    }

    # remove every corpus data file; only _dedup_state survives
    removed = 0
    # corpus rows live under batch=<bid>/ since the idempotent-writes
    # change; the state store is a sibling underscore dir
    for f in _glob.glob(os.path.join(corpus, "batch=*", "*.parquet")):
        os.remove(f)
        removed += 1
    assert removed >= 1

    with open(inbox / "wave2.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 2, "text": base}) + "\n")  # exact dup
        fh.write(_json.dumps({"doc_id": 3, "text": "completely fresh sentences about glaciers and longitude lines"}) + "\n")
    s2 = admit_documents_available_now(spark, str(inbox), corpus, ckpt)
    assert s2 == {"judged": 2, "admitted": 1}
    ledger = spark.read.json(os.path.join(corpus, "_admissions")).collect()
    by_id = {r["doc_id"]: r for r in ledger if r["batch"] > 0 or r["doc_id"] != 1}
    assert by_id[2]["exact_dup"] == 1 and by_id[2]["admitted"] == 0
    assert by_id[3]["admitted"] == 1

    # the gate stamped the state's LSH params; a sidecar recording
    # DIFFERENT banding makes the next drain refuse up front
    import json as _json2

    params = os.path.join(corpus, "_dedup_state", "_params.json")
    with open(params) as fh:
        assert _json2.load(fh) == {
            "num_hashes": 16, "bands": 4, "shingle_k": 3, "unicode_form": None
        }
    with open(params, "w") as fh:
        _json2.dump({"num_hashes": 32, "bands": 8, "shingle_k": 3}, fh)
    with open(inbox / "wave3.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 4, "text": "more words"}) + "\n")
    import pytest as _pytest
    from pyspark.errors.exceptions.base import PySparkException

    with _pytest.raises((ValueError, PySparkException, Exception)):
        admit_documents_available_now(spark, str(inbox), corpus, ckpt)
    with open(params, "w") as fh:  # restore -> drain succeeds again
        _json2.dump({"num_hashes": 16, "bands": 4, "shingle_k": 3}, fh)
    # the SAME checkpoint replays the failed wave (its batch never
    # committed); a fresh checkpoint would be refused by the binding
    # guard, since batch ids key the gate's idempotent writes
    s3 = admit_documents_available_now(spark, str(inbox), corpus, ckpt)
    assert s3["judged"] >= 1


def test_corpus_admission_migrates_preexisting_corpus(spark, tmp_path):
    """A corpus that predates the state store is migrated once (one
    corpus pass builds _dedup_state); the drain then judges against
    it — decisions identical to the recompute-from-text path."""
    import json as _json

    from sstable_migrator_spark.streaming.corpus_ingest import (
        admit_documents_available_now,
    )

    corpus = str(tmp_path / "corpus")
    base = " ".join(f"w{i} tok{i % 7}" for i in range(25))
    spark.createDataFrame(
        [(1, base), (2, "old corpus doc about rivers and bridges built long ago")],
        "doc_id long, text string",
    ).write.parquet(corpus)

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    with open(inbox / "w.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 10, "text": base}) + "\n")          # exact
        fh.write(_json.dumps({"doc_id": 11, "text": "novel content on telescopes and saturn observation sessions"}) + "\n")
    s = admit_documents_available_now(
        spark, str(inbox), corpus, str(tmp_path / "ckpt")
    )
    assert s == {"judged": 2, "admitted": 1}
    st = spark.read.parquet(os.path.join(corpus, "_dedup_state"))
    # migration rows (docs 1, 2) + the admitted wave doc (11)
    assert {r["doc_id"] for r in st.select("doc_id").distinct().collect()} == {1, 2, 11}


def test_corpus_admission_quality_and_perplexity_gates(spark, tmp_path):
    """Dedup, the frozen quality model, and the frozen n-gram LM gate
    a drain JOINTLY; the ledger attributes every rejection."""
    import json as _json

    from sstable_migrator_spark.operators.lm import train_bigram_lm
    from sstable_migrator_spark.queries import _QM_BIAS, _QM_WEIGHTS
    from sstable_migrator_spark.streaming.corpus_ingest import (
        admit_documents_available_now,
    )

    ref = spark.createDataFrame(
        [(i, "the committee approved the annual budget after a long public debate")
         for i in range(8)],
        "doc_id long, text string",
    )
    lm = train_bigram_lm(ref)

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    eval_docs = spark.createDataFrame(
        [(900, "which planet has the largest ring system in the solar system")],
        "doc_id long, text string",
    )
    rows = [
        {"doc_id": 1, "text": "the committee approved the annual budget after a public debate"},
        {"doc_id": 2, "text": "casino casino jackpot jackpot click here click here now"},  # quality reject
        {"doc_id": 3, "text": "zq xv kj qq ww zz pp mm nn vv"},  # perplexity reject
        {"doc_id": 4, "text": "trivia answer the planet has the largest ring system by far"},  # eval-contaminated
    ]
    with open(inbox / "a.jsonl", "w") as fh:
        for r in rows:
            fh.write(_json.dumps(r) + "\n")
    corpus = str(tmp_path / "corpus")
    s = admit_documents_available_now(
        spark, str(inbox), corpus, str(tmp_path / "ckpt"),
        quality_weights=_QM_WEIGHTS, quality_bias=_QM_BIAS, lm=lm,
        eval_docs=eval_docs,
    )
    assert s["judged"] == 4 and s["admitted"] == 1
    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1}
    ledger = {r["doc_id"]: r for r in
              spark.read.json(os.path.join(corpus, "_admissions")).collect()}
    assert ledger[2]["quality_keep"] == 0 and ledger[2]["admitted"] == 0
    assert ledger[3]["ppl_keep"] == 0 and ledger[3]["admitted"] == 0
    assert ledger[4]["decon_keep"] == 0 and ledger[4]["admitted"] == 0
    assert (ledger[1]["quality_keep"], ledger[1]["ppl_keep"],
            ledger[1]["decon_keep"]) == (1, 1, 1)


def test_url_frontier_state_across_drains(spark, tmp_path):
    """The frontier is maintained state, like the dedup state and the
    postings index: drain N+1 re-offering drain N's URLs schedules
    NOTHING, proven with drain N's input text deleted (only the
    canonical-key seen-set survives); robots verdicts come from the
    persisted cache; past the TTL the gate falls back to the REP
    default, attributably (robots_fresh=0)."""
    import json as _json

    from sstable_migrator_spark.streaming.frontier import (
        schedule_frontier_available_now,
    )

    inbox = tmp_path / "urls"
    inbox.mkdir()
    frontier = str(tmp_path / "frontier")
    ckpt = str(tmp_path / "fckpt")
    rules = spark.createDataFrame(
        [("siteb.com", "*", "disallow", "/private/")],
        "host string, agent string, rule string, prefix string",
    )
    with open(inbox / "d1.jsonl", "w") as fh:
        for u in [
            "http://sitea.com/page1?b=2&a=1",
            "HTTP://SITEA.com:80/page1?a=1&b=2#frag",  # same canonical
            "http://siteb.com/private/x",              # robots-blocked
            "http://siteb.com/ok",
        ]:
            fh.write(_json.dumps({"url": u}) + "\n")
    s1 = schedule_frontier_available_now(
        spark, str(inbox), frontier, ckpt, robots_rules=rules,
        now_ms=1_000_000,
    )
    assert s1 == {"offered": 3, "new": 3, "scheduled": 2}
    plans = spark.read.parquet(os.path.join(frontier, "plans")).collect()
    assert {r["host"] for r in plans} == {"sitea.com", "siteb.com"}
    assert all(r["fetch_offset_ms"] == r["fetch_seq"] * 1000 for r in plans)

    # drain 2: history input DELETED; re-offer everything + one new URL
    os.remove(inbox / "d1.jsonl")
    with open(inbox / "d2.jsonl", "w") as fh:
        for u in [
            "http://sitea.com/page1?a=1&b=2",   # canonical twin of d1's
            "http://siteb.com/private/x",
            "http://siteb.com/ok",
            "http://sitea.com/page2",           # genuinely new
        ]:
            fh.write(_json.dumps({"url": u}) + "\n")
    s2 = schedule_frontier_available_now(
        spark, str(inbox), frontier, ckpt, now_ms=2_000_000
    )
    assert s2 == {"offered": 4, "new": 1, "scheduled": 1}
    ledger = spark.read.json(os.path.join(frontier, "_ledger")).collect()
    by = {(r["url"], r["batch"]): r for r in ledger}
    blocked = by[("http://siteb.com/private/x", 0)]
    assert (blocked["new_url"], blocked["allowed"], blocked["scheduled"],
            blocked["robots_fresh"]) == (1, 0, 0, 1)
    d2new = next(r for r in ledger if r["url"] == "http://sitea.com/page2")
    assert (d2new["new_url"], d2new["scheduled"]) == (1, 1)

    # drain 3: a new disallowed-path URL past the robots TTL -> REP
    # default (allowed) with robots_fresh=0 in the ledger
    with open(inbox / "d3.jsonl", "w") as fh:
        fh.write(_json.dumps({"url": "http://siteb.com/private/y"}) + "\n")
    s3 = schedule_frontier_available_now(
        spark, str(inbox), frontier, ckpt,
        now_ms=1_000_000 + 86_400_000 + 1,
    )
    assert s3 == {"offered": 1, "new": 1, "scheduled": 1}
    stale = next(
        r
        for r in spark.read.json(os.path.join(frontier, "_ledger")).collect()
        if r["url"] == "http://siteb.com/private/y"
    )
    assert (stale["allowed"], stale["robots_fresh"]) == (1, 0)


def test_admissions_ledger_joins_the_gate_report(spark, tmp_path):
    """The per-domain gate-attribution rollup composes directly over
    the admission gate's OWN ledger: decisions written per drain carry
    the gate flags, so "which domains are we rejecting and why" is one
    read + one rollup — no corpus rescan."""
    import json as _json

    from sstable_migrator_spark.operators.analytics import (
        gate_attribution_report,
    )
    from sstable_migrator_spark.streaming.corpus_ingest import (
        admit_documents_available_now,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    good = ("the quiet village market opens early and the farmers bring "
            "fresh bread with butter and a warm greeting for the visitors")
    with open(inbox / "w.jsonl", "w") as fh:
        for i, text in enumerate([good, good + " exactly once more", "zz"]):
            fh.write(_json.dumps({"doc_id": i, "text": text}) + "\n")
    admit_documents_available_now(
        spark, str(inbox), corpus, str(tmp_path / "ckpt"),
        quality_weights=[1] * 64, quality_bias=-3,
    )
    ledger = spark.read.json(os.path.join(corpus, "_admissions"))
    # synthetic apex per doc (a real pipeline carries the url's apex)
    flagged = ledger.select(
        F.concat(F.lit("site"), (F.col("doc_id") % 2).cast("string")).alias(
            "apex"
        ),
        (1 - F.col("exact_dup")).cast("int").alias("dedup_keep"),
        F.col("quality_keep").cast("int").alias("quality_keep"),
    )
    report = {
        r["apex"]: r
        for r in gate_attribution_report(
            flagged, ["apex"], ["dedup_keep", "quality_keep"]
        ).collect()
    }
    assert sum(r["n_docs"] for r in report.values()) == 3
    # doc 2 ("zz", 2 tokens, score 2-3 < 0) is quality-sole-blocked
    assert report["site0"]["n_sole_block_quality_keep"] == 1


def test_frontier_politeness_is_cross_drain_and_retention_reopens(
    spark, tmp_path
):
    """Politeness continues across drains (drain 2's slots for a host
    start where drain 1 stopped — no slot-0 hammering), and expiring a
    seen-set day re-opens its URLs for judging."""
    import json as _json

    from sstable_migrator_spark.streaming.frontier import (
        expire_frontier_days,
        schedule_frontier_available_now,
    )

    inbox = tmp_path / "urls"
    inbox.mkdir()
    frontier = str(tmp_path / "frontier")
    ckpt = str(tmp_path / "fckpt")
    day_ms = 86_400_000

    with open(inbox / "d1.jsonl", "w") as fh:
        for i in range(3):
            fh.write(_json.dumps({"url": f"http://h.com/a{i}"}) + "\n")
    s1 = schedule_frontier_available_now(
        spark, str(inbox), frontier, ckpt, crawl_delay_ms=100, now_ms=day_ms
    )
    assert s1["scheduled"] == 3

    with open(inbox / "d2.jsonl", "w") as fh:
        for i in range(2):
            fh.write(_json.dumps({"url": f"http://h.com/b{i}"}) + "\n")
    s2 = schedule_frontier_available_now(
        spark, str(inbox), frontier, ckpt, crawl_delay_ms=100, now_ms=day_ms + 1
    )
    assert s2["scheduled"] == 2
    plans = spark.read.parquet(os.path.join(frontier, "plans")).collect()
    seqs = sorted((r["batch"], r["fetch_seq"]) for r in plans)
    # drain 1: slots 0..2; drain 2 CONTINUES at 3..4 for the same host
    assert seqs == [(0, 0), (0, 1), (0, 2), (1, 3), (1, 4)]
    assert all(
        r["fetch_offset_ms"] == r["fetch_seq"] * 100 for r in plans
    )

    # retention: day-1 entries expire -> the a-urls become judgeable;
    # keep_days=1 at now = day 30 drops everything older than day 29
    expired = expire_frontier_days(
        frontier, keep_days=1, now_ms=30 * day_ms
    )
    assert expired == [1]
    with open(inbox / "d3.jsonl", "w") as fh:
        fh.write(_json.dumps({"url": "http://h.com/a0"}) + "\n")
    s3 = schedule_frontier_available_now(
        spark, str(inbox), frontier, ckpt, crawl_delay_ms=100,
        now_ms=30 * day_ms,
    )
    assert s3 == {"offered": 1, "new": 1, "scheduled": 1}
    # and its slot continues the host cursor (5), not slot 0
    re_planned = [r for r in spark.read.parquet(
        os.path.join(frontier, "plans")).collect()
        if r["url"] == "http://h.com/a0"]
    assert max(r["fetch_seq"] for r in re_planned) == 5


def test_admission_gate_repetition_stage(spark, tmp_path):
    """repetition=True composes the MassiveText repetition rules into
    the drain: a heavily repetitive arrival is rejected with
    rep_keep=0 in the ledger; a normal one passes."""
    import json as _json

    from sstable_migrator_spark.streaming.corpus_ingest import (
        admit_documents_available_now,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    # long enough that single-occurrence top n-grams are a small char
    # fraction (the paper applies these rules to >=50-word documents)
    good = ("the quiet village market opens early and the farmers bring "
            "fresh bread with butter and a warm greeting for visitors "
            "arriving from the city before the church bells ring while "
            "children chase pigeons across wet cobblestones and vendors "
            "arrange baskets of apples pears plums cherries alongside "
            "jars of honey preserves pickles and bundles of dried herbs "
            "gathered last autumn from hills beyond the river crossing")
    spam = "buy cheap now " * 40
    with open(inbox / "w.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": good}) + "\n")
        fh.write(_json.dumps({"doc_id": 2, "text": spam}) + "\n")
    s = admit_documents_available_now(
        spark, str(inbox), corpus, str(tmp_path / "ckpt"), repetition=True
    )
    assert s == {"judged": 2, "admitted": 1}
    ledger = {r["doc_id"]: r for r in
              spark.read.json(os.path.join(corpus, "_admissions")).collect()}
    assert ledger[1]["rep_keep"] == 1 and ledger[1]["admitted"] == 1
    assert ledger[2]["rep_keep"] == 0 and ledger[2]["admitted"] == 0


def test_frontier_drain_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a drain that fails mid-batch
    re-runs with the SAME batch id and rows, possibly after some store
    writes already landed. Every frontier write is batch-keyed with
    dynamic partition overwrite and every state read self-excludes the
    current batch, so the retry lands identical rows: no duplicated
    plans, no double-counted host cursors, no doubled seen/ledger."""
    from sstable_migrator_spark.streaming.frontier import _drain_batch

    frontier = str(tmp_path / "frontier")
    batch = spark.createDataFrame(
        [("http://h.com/a",), ("http://h.com/b",), ("http://g.com/c",)],
        "url string",
    )
    r1 = _drain_batch(spark, batch, 0, frontier, now=86_400_000)
    assert r1 == (3, 3, 3)

    def snapshot():
        plans = sorted(
            (r["url"], r["fetch_seq"], r["batch"])
            for r in spark.read.parquet(
                os.path.join(frontier, "plans")).collect()
        )
        cursors = {
            r["host"]: r["s"]
            for r in spark.read.parquet(os.path.join(frontier, "_host_cursors"))
            .groupBy("host").agg(F.sum("n_scheduled").alias("s")).collect()
        }
        seen = sorted(
            r["canonical"]
            for r in spark.read.parquet(
                os.path.join(frontier, "_seen")).collect()
        )
        ledger = sorted(
            (r["url"], r["batch"], r["scheduled"])
            for r in spark.read.json(
                os.path.join(frontier, "_ledger")).collect()
        )
        return plans, cursors, seen, ledger

    before = snapshot()
    assert before[1] == {"h.com": 2, "g.com": 1}
    # the retry: same bid, same rows, stores already populated
    r2 = _drain_batch(spark, batch, 0, frontier, now=86_400_000)
    assert r2 == r1
    assert snapshot() == before

    # and a genuinely NEW batch still continues the politeness cursor
    batch2 = spark.createDataFrame([("http://h.com/z",)], "url string")
    _drain_batch(spark, batch2, 1, frontier, now=86_400_001)
    zrow = [
        r for r in spark.read.parquet(
            os.path.join(frontier, "plans")).collect()
        if r["url"] == "http://h.com/z"
    ]
    assert len(zrow) == 1 and zrow[0]["fetch_seq"] == 2


def test_frontier_refuses_foreign_checkpoint(spark, tmp_path):
    """Batch ids key the frontier's idempotent writes and are unique
    only per checkpoint: pairing existing frontier state with a fresh
    checkpoint (whose numbering restarts at 0) must fail loudly, not
    silently collide with stored batch partitions."""
    import json as _json
    import shutil

    from sstable_migrator_spark.streaming.frontier import (
        schedule_frontier_available_now,
    )

    inbox = tmp_path / "urls"
    inbox.mkdir()
    frontier = str(tmp_path / "frontier")
    ckpt = str(tmp_path / "fckpt")
    with open(inbox / "d1.jsonl", "w") as fh:
        fh.write(_json.dumps({"url": "http://h.com/a"}) + "\n")
    s1 = schedule_frontier_available_now(
        spark, str(inbox), frontier, ckpt, now_ms=86_400_000
    )
    assert s1["scheduled"] == 1

    shutil.rmtree(ckpt)  # the misuse: new checkpoint, old frontier
    with open(inbox / "d2.jsonl", "w") as fh:
        fh.write(_json.dumps({"url": "http://h.com/b"}) + "\n")
    with pytest.raises(Exception, match="bound to streaming checkpoint"):
        schedule_frontier_available_now(
            spark, str(inbox), frontier, ckpt, now_ms=86_400_001
        )


def test_admission_drain_retry_is_idempotent(spark, tmp_path):
    """foreachBatch at-least-once on the ADMISSION gate: a retried
    batch (same bid, same rows, stores partially or fully written by
    the failed attempt) must recompute the same decisions from the
    pre-batch state and replace its own partitions — no duplicate
    corpus rows, no doubled dedup-state rows, no double-bumped
    postings stats, no re-judged-as-duplicate misattribution in the
    ledger."""
    from sstable_migrator_spark.operators.retrieval import (
        bm25_topk_from_postings,
        read_corpus_stats,
    )
    from sstable_migrator_spark.streaming.corpus_ingest import (
        _drain_admission_batch,
    )

    corpus = str(tmp_path / "corpus")
    postings = str(tmp_path / "postings")
    good = ("the quiet village market opens early and the farmers bring "
            "fresh bread with butter and a warm greeting for the visitors")
    other = ("harbor ships wait for the morning tide while sailors check "
             "the ropes and sails before their long crossing at dawn")
    batch0 = spark.createDataFrame(
        [(1, good), (2, good), (3, other)], "doc_id long, text string"
    )
    r1 = _drain_admission_batch(
        spark, batch0, 0, corpus, postings_path=postings
    )
    # first drain has no prior state: in-batch self-dedup is
    # upstream's job (documented), so all three admit
    assert r1 == (3, 3)

    def snapshot():
        c = sorted(
            (r["doc_id"], r["batch"])
            for r in spark.read.parquet(corpus).select(
                "doc_id", "batch").collect()
        )
        led = sorted(
            (r["doc_id"], r["admitted"], r["exact_dup"], r["batch"])
            for r in spark.read.json(
                os.path.join(corpus, "_admissions")).collect()
        )
        st = read_corpus_stats(spark, postings)
        state_n = spark.read.parquet(
            os.path.join(corpus, "_dedup_state")).count()
        return c, led, st, state_n

    before = snapshot()
    assert [d for d, _ in before[0]] == [1, 2, 3]
    # THE RETRY: same bid, same rows, everything already written
    r2 = _drain_admission_batch(
        spark, batch0, 0, corpus, postings_path=postings
    )
    assert r2 == r1, "retry re-judged its own writes as duplicates"
    assert snapshot() == before

    # a genuinely new batch still dedups against batch 0 and appends
    batch1 = spark.createDataFrame(
        [(4, good), (5, "completely fresh words about mountain trails "
                        "and the hikers who walk them every summer")],
        "doc_id long, text string",
    )
    r3 = _drain_admission_batch(
        spark, batch1, 1, corpus, postings_path=postings
    )
    assert r3 == (2, 1)  # doc 4 duplicates corpus doc 1
    after = snapshot()
    assert [d for d, _ in after[0]] == [1, 2, 3, 5]
    assert after[2]["n"] == 4  # postings stats track admitted docs
    # and its own retry is also a no-op
    r4 = _drain_admission_batch(
        spark, batch1, 1, corpus, postings_path=postings
    )
    assert r4 == r3 and snapshot() == after
    # the maintained index still serves
    top = bm25_topk_from_postings(spark, postings, ["village"], topk=5)
    assert {r["doc_id"] for r in top.collect()} == {1, 2}


def test_admission_gate_refuses_foreign_checkpoint(spark, tmp_path):
    """Same binding rule as the frontier: batch ids key the gate's
    idempotent writes, so pairing existing corpus state with a fresh
    checkpoint fails loudly instead of colliding batch partitions."""
    import json as _json
    import shutil

    from sstable_migrator_spark.streaming.corpus_ingest import (
        admit_documents_available_now,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    with open(inbox / "a.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": "some words here"}) + "\n")
    s = admit_documents_available_now(spark, str(inbox), corpus, ckpt)
    assert s == {"judged": 1, "admitted": 1}
    shutil.rmtree(ckpt)
    with open(inbox / "b.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 2, "text": "more words here"}) + "\n")
    with pytest.raises(Exception, match="bound to streaming checkpoint"):
        admit_documents_available_now(spark, str(inbox), corpus, ckpt)


def test_admission_gate_unicode_parity(spark, tmp_path):
    """unicode_form at the gate: a DENORMAL re-arrival of an admitted
    doc is rejected as an exact duplicate (byte forms collide after
    NFC); a drain with a DIFFERENT unicode_form against the same state
    refuses loudly via the params sidecar."""
    import json as _json

    import pytest as _pytest

    from sstable_migrator_spark.streaming.corpus_ingest import (
        admit_documents_available_now,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    base = "caf\u00e9 stories " + " ".join(
        f"w{i} tok{i % 7} fil{i % 11}" for i in range(25)
    )
    denormal = base.replace("caf\u00e9", "cafe\u0301")  # -> decomposed
    assert denormal != base

    with open(inbox / "wave1.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": base}) + "\n")
    s1 = admit_documents_available_now(
        spark, str(inbox), corpus, ckpt, unicode_form="NFC"
    )
    assert s1 == {"judged": 1, "admitted": 1}

    with open(inbox / "wave2.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 2, "text": denormal}) + "\n")
        fh.write(_json.dumps({"doc_id": 3, "text": "entirely new prose about canals and windmills turning in morning fog"}) + "\n")
    s2 = admit_documents_available_now(
        spark, str(inbox), corpus, ckpt, unicode_form="NFC"
    )
    assert s2 == {"judged": 2, "admitted": 1}  # denormal twin rejected
    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 3}
    # and the admitted text was STORED normalized (one byte form corpus-wide)
    t1 = spark.read.parquet(corpus).filter("doc_id = 1").first()["text"]
    assert "caf\u00e9" in t1

    # a drain that FORGETS the form refuses against this state
    with open(inbox / "wave3.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 9, "text": "more fresh text entirely unlike anything before it"}) + "\n")
    with _pytest.raises(Exception, match="built with"):
        admit_documents_available_now(spark, str(inbox), corpus, ckpt)


def test_admission_gate_legacy_state_refuses_normalization(spark, tmp_path):
    """The primary adoption path for unicode_form: a PRE-SIDECAR dedup
    state (state parquet exists, _params.json absent — necessarily
    built on raw, unnormalized bytes) drained with unicode_form='NFC'
    must be REFUSED loudly, and the state must be stamped with what it
    was actually built with (unicode_form=None), never the caller's
    flag. Stamping the caller's form would record false provenance:
    normalized probes judged against raw-built fingerprints silently
    re-admit exact duplicates forever after."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from sstable_migrator_spark.streaming.corpus_ingest import (
        admit_documents_available_now,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    base = "caf\u00e9 stories " + " ".join(
        f"w{i} tok{i % 7} fil{i % 11}" for i in range(25)
    )
    with open(inbox / "wave1.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": base}) + "\n")
    s1 = admit_documents_available_now(spark, str(inbox), corpus, ckpt)
    assert s1 == {"judged": 1, "admitted": 1}

    # simulate a pre-sidecar deployment: state exists, params absent
    sidecar = _os.path.join(corpus, "_dedup_state", "_params.json")
    _os.remove(sidecar)

    # re-arrival of the EXACT same bytes, now with normalization on:
    # must refuse (rebuild the state), not silently re-admit
    with open(inbox / "wave2.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 2, "text": base}) + "\n")
    with _pytest.raises(Exception, match="built with"):
        admit_documents_available_now(
            spark, str(inbox), corpus, ckpt, unicode_form="NFC"
        )
    # and the stamp records the TRUE provenance of the legacy state
    with open(sidecar) as fh:
        assert _json.load(fh)["unicode_form"] is None
    # the corpus was not polluted by the refused drain
    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1}

    # the refused batch was never committed: a form-less retry on the
    # SAME checkpoint reprocesses wave2 against the legacy state, and
    # the same bytes ARE the same fingerprint — rejected as duplicate
    s2 = admit_documents_available_now(spark, str(inbox), corpus, ckpt)
    assert s2 == {"judged": 1, "admitted": 0}


def test_admission_report(spark, tmp_path):
    """Gate-health rollup over the ledger: per-batch judged/admitted,
    per-gate rejection attribution, and the exact-integer drift flag
    (a batch admitting far less than the all-time rate is marked)."""
    import json as _json

    from sstable_migrator_spark.streaming.corpus_ingest import (
        admission_report,
        admit_documents_available_now,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    base = " ".join(f"w{i} tok{i % 7} fil{i % 11}" for i in range(25))

    # wave 1: two novel docs -> 100% admitted
    with open(inbox / "w1.jsonl", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": base}) + "\n")
        fh.write(_json.dumps({"doc_id": 2, "text": "entirely different prose about canals and windmills in morning fog today"}) + "\n")
    admit_documents_available_now(spark, str(inbox), corpus, ckpt)
    # wave 2: three exact dups + one novel -> 25% admitted (drift low)
    with open(inbox / "w2.jsonl", "w") as fh:
        for d in (10, 11, 12):
            fh.write(_json.dumps({"doc_id": d, "text": base}) + "\n")
        fh.write(_json.dumps({"doc_id": 13, "text": "novel astronomy notes about telescopes saturn rings and the midnight session"}) + "\n")
    admit_documents_available_now(spark, str(inbox), corpus, ckpt)

    rep = {r["batch"]: r for r in admission_report(spark, corpus).collect()}
    assert len(rep) == 2
    first, second = (rep[b] for b in sorted(rep))
    assert first["judged"] == 2 and first["admitted"] == 2
    assert first["exact_dups"] == 0
    assert second["judged"] == 4 and second["admitted"] == 1
    assert second["exact_dups"] == 3
    # all-time rate 3/6 = 0.5; batch 1 admits 1.0 > 1.25*0.5 (high
    # drift), batch 2 admits 0.25 < 0.75*0.5 (low drift) — both
    # directions of the cross-multiplied flag exercised
    assert first["rate_drift"] and second["rate_drift"]
    # a hypothetical batch at exactly the pooled rate would NOT flag:
    # 1*6*4 vs 2*3*{3,5} -> 24 in [18, 30]
    assert not (1 * 6 * 4 < 2 * 3 * 3) and not (1 * 6 * 4 > 2 * 3 * 5)


def test_frontier_respects_robots_crawl_delay(spark, tmp_path):
    """A host's declared Crawl-delay drives its plan spacing — across
    drains too (the cursor-shifted slots keep the per-host delay); an
    undeclared host keeps the drain's global delay."""
    import json as _json

    from sstable_migrator_spark.streaming.frontier import (
        schedule_frontier_available_now,
    )

    inbox = tmp_path / "urls"
    inbox.mkdir()
    frontier = str(tmp_path / "frontier")
    ckpt = str(tmp_path / "fckpt")
    rules = spark.createDataFrame(
        [
            ("slow.com", "*", "crawl-delay", "5"),
            ("slow.com", "*", "disallow", "/private/"),
        ],
        "host string, agent string, rule string, prefix string",
    )
    with open(inbox / "d1.jsonl", "w") as fh:
        for u in [
            "http://slow.com/a", "http://slow.com/b",
            "http://fast.com/a", "http://fast.com/b",
        ]:
            fh.write(_json.dumps({"url": u}) + "\n")
    s1 = schedule_frontier_available_now(
        spark, str(inbox), frontier, ckpt, robots_rules=rules,
        crawl_delay_ms=1000, now_ms=1_000_000,
    )
    assert s1 == {"offered": 4, "new": 4, "scheduled": 4}
    plans = spark.read.parquet(os.path.join(frontier, "plans")).collect()
    off = {(r["host"], r["fetch_seq"]): r["fetch_offset_ms"] for r in plans}
    assert off[("slow.com", 1)] == 5000  # declared 5 s
    assert off[("fast.com", 1)] == 1000  # global default

    # drain 2: cursor-shifted slots keep the declared delay
    os.remove(inbox / "d1.jsonl")
    with open(inbox / "d2.jsonl", "w") as fh:
        for u in ["http://slow.com/c", "http://fast.com/c"]:
            fh.write(_json.dumps({"url": u}) + "\n")
    s2 = schedule_frontier_available_now(
        spark, str(inbox), frontier, ckpt,
        crawl_delay_ms=1000, now_ms=1_100_000,
    )
    assert s2 == {"offered": 2, "new": 2, "scheduled": 2}
    plans2 = [
        r
        for r in spark.read.parquet(os.path.join(frontier, "plans")).collect()
        if r["batch"] == 1
    ]
    off2 = {r["host"]: (r["fetch_seq"], r["fetch_offset_ms"]) for r in plans2}
    assert off2["slow.com"] == (2, 10_000)  # slot 2 x 5 s, cross-drain
    assert off2["fast.com"] == (2, 2_000)

"""Corpus gating outside the batch funnel: the frozen-weight quality
scorer run unchanged inside a Structured Streaming query, and the
admission health report over a per-batch ``_admissions/`` JSON ledger.
The package itself runs batch jobs only: the nightly DNS load
(tests/test_daily_pipeline.py) and the corpus funnel
(tests/test_corpus_pipeline.py)."""

from __future__ import annotations

import os


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


def test_admission_report(spark, tmp_path):
    """Gate-health rollup over the ledger: per-batch judged/admitted,
    per-gate rejection attribution, and the exact-integer drift flag
    (a batch admitting far less than the all-time rate is marked).
    The ledger is built by hand in the ``_admissions/`` JSON form
    (one decision row per judged document, partitioned by batch)."""
    from sstable_migrator_spark.pipelines.corpus import admission_report

    corpus = str(tmp_path / "corpus")
    # batch 0: two novel docs -> 100% admitted; batch 1: three exact
    # dups + one novel -> 25% admitted (drift low)
    rows = [(1, 0, 0, 1), (2, 0, 0, 1)]
    rows += [(d, 1, 1, 0) for d in (10, 11, 12)] + [(13, 1, 0, 1)]
    spark.createDataFrame(
        rows, "doc_id long, batch int, exact_dup int, admitted int"
    ).selectExpr(
        "doc_id",
        "exact_dup",
        "CAST(0 AS BIGINT) AS n_near_dups",
        "1 AS quality_keep",
        "1 AS ppl_keep",
        "1 AS decon_keep",
        "1 AS rep_keep",
        "admitted",
        "batch",
    ).write.mode("overwrite").partitionBy("batch").json(
        os.path.join(corpus, "_admissions")
    )

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

"""Learned quality classifier (portable-hash training, frozen integer
scoring): exact separation on a margin-separated corpus,
repartition-stable scoring, shuffle-free scoring plan."""

from __future__ import annotations

GOOD = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "a well formed english sentence with common words and structure",
    "data pipelines benefit from clear validation and measured quality",
    "suppliers ship orders that arrive on time and match the invoice",
    "the committee reviewed the report and approved the budget today",
]
BAD = [
    "zzzz qqqq xxxx jjjj kkkk wwww vvvv gggg hhhh ffff",
    "asdf asdf asdf asdf asdf asdf asdf asdf asdf asdf",
    "lorem42 ip7sum99 dol0r s1t am3t qwerty uiop zxcv bnm",
    "!!!! #### $$$$ %%%% ^^^^ &&&& **** (((( )))) ____",
    "aaaaaaa bbbbbbb ccccccc ddddddd eeeeeee fffffff ggggggg",
]


def _ml_session(spark):
    # MLlib fit/transform closures can capture the session's
    # ObservationManager; if another test left an observation pending
    # on the shared session, task serialization fails
    # (NotSerializableException: ObservationManager). A fresh SQL
    # session shares the JVM/context but owns a clean manager.
    return spark.newSession()


def _labeled(spark, reps=6):
    rows = []
    for r in range(reps):
        rows += [(f"{t} v{r}", 1.0) for t in GOOD]
        rows += [(f"{t} v{r}", 0.0) for t in BAD]
    return spark.createDataFrame(rows, "text string, label double")


def test_frozen_portable_path_roundtrip(spark):
    """Portable-hash training -> integer quantization -> frozen scoring
    must separate the corpus exactly, stay partitioning-stable (BIGINT
    sum is order-free), and keep a shuffle-free scoring plan."""
    from sstable_migrator_spark.operators.quality_model import (
        quantize_weights,
        score_quality_frozen,
        train_quality_classifier_portable,
    )

    spark = _ml_session(spark)
    labeled = _labeled(spark)
    w, b = train_quality_classifier_portable(labeled, num_features=64)
    wi, bi = quantize_weights(w, b)
    scored = score_quality_frozen(labeled, wi, bi)
    rows = scored.select("label", "q_score", "keep").collect()
    assert all((r["q_score"] > 0) == (r["label"] == 1.0) for r in rows)
    assert all(r["keep"] == int(r["q_score"] > 0) for r in rows)
    # order-free: identical scores under any partitioning
    a = sorted(r["q_score"] for r in rows)
    b2 = sorted(
        r["q_score"]
        for r in score_quality_frozen(labeled.repartition(7), wi, bi).collect()
    )
    assert a == b2
    # inference plan: projection over the scan, no exchange
    plan = (
        score_quality_frozen(labeled, wi, bi)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_frozen_catalog_weights_separate(spark):
    """The literals frozen into q181 are a real trained model, not
    noise: they must separate a held-out-style natural vs spam pair."""
    from sstable_migrator_spark.operators.quality_model import (
        score_quality_frozen,
    )
    from sstable_migrator_spark.queries import _QM_BIAS, _QM_WEIGHTS

    df = spark.createDataFrame(
        [
            ("the committee approved the budget after a long public debate", 1),
            ("casino casino jackpot jackpot click here click here now now", 0),
        ],
        "text string, label int",
    )
    got = {r["label"]: r["q_score"] for r in
           score_quality_frozen(df, _QM_WEIGHTS, _QM_BIAS).collect()}
    assert got[1] > 0 > got[0], got


# --- evaluation family: exact AUC + calibration report ----------------------


def test_ranked_auc_hand_computed(spark):
    """Ascending scores 2,5,5,9,9,10 with labels 0,(0,1),(1,1),1:
    mid-ranks 1,(2.5,2.5),(4.5,4.5),6 -> R+ = 2.5+4.5+6 = 13, U = 7,
    AUC = 7/9. Ties on both mixed and pure groups exercised."""
    from sstable_migrator_spark.operators.quality_model import ranked_auc

    df = spark.createDataFrame(
        [(10, 1), (9, 1), (9, 0), (5, 0), (5, 1), (2, 0)],
        "q_score long, label int",
    )
    row = ranked_auc(df).first()
    assert (row["n_pos"], row["n_neg"]) == (3, 3)
    assert row["u2"] == 14  # 2*R+ - n_pos*(n_pos+1) = 26 - 12
    assert row["auc_x1e6"] == 777777  # floor(1e6 * 7/9)


def test_ranked_auc_extremes(spark):
    from sstable_migrator_spark.operators.quality_model import ranked_auc

    # perfect separation -> AUC 1.0; inverted -> 0
    perfect = spark.createDataFrame(
        [(5, 1), (4, 1), (1, 0), (0, 0)], "q_score long, label int"
    )
    assert ranked_auc(perfect).first()["auc_x1e6"] == 1000000
    inverted = spark.createDataFrame(
        [(5, 0), (4, 0), (1, 1), (0, 1)], "q_score long, label int"
    )
    assert ranked_auc(inverted).first()["auc_x1e6"] == 0
    # all one class: AUC undefined -> NULL, not a crash or a made-up 0.5
    onecls = spark.createDataFrame([(5, 1), (4, 1)], "q_score long, label int")
    assert ranked_auc(onecls).first()["auc_x1e6"] is None


def test_ranked_auc_partitioning_stable(spark):
    """The rank-sum must be a pure function of the data: any
    repartitioning (the 1000-executor shape) yields the identical
    row — global_prefix_sum's offsets do the global ordering."""
    from sstable_migrator_spark.operators.quality_model import ranked_auc

    rows = [(i * 7 % 23, 1 if i % 3 == 0 else 0) for i in range(200)]
    df = spark.createDataFrame(rows, "q_score long, label int")
    a = ranked_auc(df).first()
    b = ranked_auc(df.repartition(17)).first()
    assert a == b


def test_calibration_buckets_and_flags(spark):
    from sstable_migrator_spark.operators.quality_model import (
        calibration_report,
    )

    # width 10: bucket -1 = [-10,-1], 0 = [0,9], 1 = [10,19]
    df = spark.createDataFrame(
        # confident-positive band observing 1/3 -> miscal_hi
        [(12, 0), (15, 0), (19, 1)]
        # mixed band around zero: never flags
        + [(0, 0), (5, 1)]
        # confident-negative band observing 2/3 -> miscal_lo
        + [(-10, 1), (-3, 1), (-1, 0)],
        "q_score long, label int",
    )
    rows = {r["bucket"]: r for r in calibration_report(
        df, bucket_width=10).collect()}
    assert rows[1]["miscal_hi"] == 1 and rows[1]["miscal_lo"] == 0
    assert rows[1]["pos_rate_x1e6"] == 333333
    assert rows[0]["miscal_hi"] == 0 and rows[0]["miscal_lo"] == 0
    assert rows[-1]["miscal_lo"] == 1 and rows[-1]["miscal_hi"] == 0
    assert rows[-1]["score_lo"] == -10
    # floor-division banding: -10 and -1 land in bucket -1, never 0
    assert rows[-1]["n"] == 3


def test_calibration_rejects_bad_width(spark):
    import pytest

    from sstable_migrator_spark.operators.quality_model import (
        calibration_report,
    )

    df = spark.createDataFrame([(1, 1)], "q_score long, label int")
    with pytest.raises(ValueError, match="bucket_width"):
        calibration_report(df, bucket_width=0)


def test_confusion_report_planted(spark):
    """Hand-checkable 3-class router: en 3/4 right (1 bleeds to de),
    de 1/2 right, fr never predicted correctly."""
    from sstable_migrator_spark.operators.quality_model import (
        confusion_report,
    )

    df = spark.createDataFrame(
        [("en", "en")] * 3 + [("en", "de")]
        + [("de", "de"), ("de", "en")]
        + [("fr", "en")],
        "truth string, pred string",
    )
    rows = {(r["truth"], r["pred"]): r for r in confusion_report(
        df, "truth", "pred").collect()}
    assert rows[("en", "en")]["n"] == 3
    assert rows[("en", "en")]["is_diag"] == 1
    assert rows[("en", "en")]["recall_ppm"] == 750000       # 3/4
    assert rows[("en", "en")]["precision_ppm"] == 600000    # 3/5
    assert rows[("en", "de")]["is_diag"] == 0
    assert rows[("en", "de")]["recall_ppm"] == 250000       # the bleed rate
    assert rows[("de", "de")]["recall_ppm"] == 500000
    # fr was never predicted: no (., 'fr') cell exists at all
    assert not any(p == "fr" for _, p in rows)
    assert rows[("fr", "en")]["row_total"] == 1
    # row totals partition the corpus
    assert sum(r["n"] for r in rows.values()) == 7


def test_confusion_report_null_cells_match_join_form(spark):
    """A NULL truth or pred counts toward the other side's total but
    its own cell is not emitted: the result equals the cells-join-
    totals form (q253's oracle shape) run in DuckDB on the same rows."""
    import duckdb

    from sstable_migrator_spark.operators.quality_model import (
        confusion_report,
    )

    data = (
        [("en", "en")] * 3 + [("en", "de"), ("de", "de"), ("de", "en")]
        + [(None, "en"), ("de", None)]
    )
    got = sorted(
        (tuple(r) for r in confusion_report(
            spark.createDataFrame(data, "truth string, pred string"),
            "truth", "pred",
        ).collect()),
        key=repr,
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (truth VARCHAR, pred VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", data)
    want = sorted(con.execute("""
        WITH cells AS (SELECT truth, pred, CAST(count(*) AS BIGINT) AS n
                       FROM t GROUP BY 1, 2),
        r AS (SELECT truth, CAST(sum(n) AS BIGINT) AS row_total
              FROM cells GROUP BY 1),
        c AS (SELECT pred, CAST(sum(n) AS BIGINT) AS col_total
              FROM cells GROUP BY 1)
        SELECT cells.truth, cells.pred, cells.n, r.row_total, c.col_total,
               CAST(cells.truth = cells.pred AS INT) AS is_diag,
               CAST((1000000 * CAST(cells.n AS HUGEINT)) // r.row_total
                    AS BIGINT) AS recall_ppm,
               CAST((1000000 * CAST(cells.n AS HUGEINT)) // c.col_total
                    AS BIGINT) AS precision_ppm
        FROM cells
        JOIN r ON r.truth = cells.truth
        JOIN c ON c.pred = cells.pred
    """).fetchall(), key=repr)
    con.close()
    assert got == want
    # the NULL cells still count: de's row total includes ("de", None),
    # en's column total includes (None, "en")
    assert ("de", "de", 1, 3, 2, 1, 333333, 500000) in got
    assert ("en", "en", 3, 4, 5, 1, 750000, 600000) in got
    assert not any(r[0] is None or r[1] is None for r in got)

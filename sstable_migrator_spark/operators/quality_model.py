"""Model-based quality filtering — the learned sibling of the
heuristic quality score (queries q48/q84).

Large-scale corpus pipelines pair cheap heuristics with a LEARNED
quality classifier (a fastText/logistic model trained on
known-good vs known-bad text, used to score the crawl and keep the
high-probability tail). This module is that component on Spark ML:

- featurize: tokenize -> feature-hash each token into a fixed number
  of buckets with the engine-portable md5 hash
  (``functions.text.hash64``, the same trick the MinHash/CMS families
  use) — the hashing trick, no vocabulary state to ship; the same
  reason fastText hashes n-grams;
- train (``train_quality_classifier_portable``): LogisticRegression on
  the bag-of-buckets counts (driver-coordinated LBFGS over
  executor-aggregated gradients — MLlib's standard distributed fit);
- freeze (``quantize_weights``): round the fitted coefficients to
  integers (w * scale — the same move real inference stacks make to
  ship models);
- score (``score_quality_frozen``): with frozen integer weights,
  ``score = bias + sum over tokens of w[bucket(token)]`` is a pure
  BIGINT map-side projection with no float accumulation — the sum is
  order-free, so it hash-matches a DuckDB twin bit-for-bit, survives
  any partitioning, and scoring a 100 TB corpus shuffles NOTHING. The
  keep decision thresholds the integer score; the probability, when
  wanted, is one deterministic double op per row (sigmoid(score /
  scale)), not a float reduction.

Training is float-iterative, so the fit itself is not an
oracle-catalog query (the DuckDB twin cannot run LBFGS); the test
suite pins it instead: exact separation on a margin-separated corpus,
determinism of scoring under repartitioning, and the no-shuffle
property of the scoring plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "train_quality_classifier_portable",
    "quantize_weights",
    "score_quality_frozen",
    "ranked_auc",
    "calibration_report",
    "confusion_report",
]

_QM_SEED = 7


def portable_feature_bucket(col, num_features: int):
    """Feature bucket of a token mod num_features: md5-based hash64
    (seed 7, engine-portable, non-negative so Java/SQL signed % agree).
    Training and scoring share it."""
    from sstable_migrator_spark.functions import text as TX

    return TX.hash64(col, seed=_QM_SEED) % num_features


def train_quality_classifier_portable(
    labeled: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    num_features: int = 64,
    reg_param: float = 1e-3,
    max_iter: int = 100,
) -> tuple[list[float], float]:
    """Fit LogisticRegression on portable-hash bag-of-buckets counts;
    returns (coefficients, intercept). The featurization is native
    expressions (tokens -> per-bucket counts -> dense array ->
    array_to_vector); the fit is MLlib's distributed LBFGS. Meant to
    run OFFLINE on a labeled corpus — the returned weights are frozen
    (quantized) into the scoring path, never re-fit per query."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    from sstable_migrator_spark.functions import text as TX

    toks = TX.tokens(F.lower(F.col(text_col)))
    # Bind the hashed-bucket array ONCE (round 10, TX.bind_once): the
    # per-feature count lambda otherwise re-tokenized AND re-hashed the
    # whole document per feature (num_features x the md5 work — lambda
    # bodies are excluded from CSE).
    counts = TX.bind_once(
        F.transform(toks, lambda t: portable_feature_bucket(t, num_features)),
        lambda buckets: F.transform(
            F.sequence(F.lit(0), F.lit(num_features - 1)),
            lambda b: F.size(F.filter(buckets, lambda x: x == b)).cast("double"),
        ),
    )
    feat = labeled.select(
        F.col(label_col).cast("double").alias("label"),
        array_to_vector(counts).alias("features"),
    )
    lr = LogisticRegression(regParam=reg_param, maxIter=max_iter)
    m = lr.fit(feat)
    return list(m.coefficients.toArray()), float(m.intercept)


def quantize_weights(
    weights: list[float], intercept: float, scale: int = 1000
) -> tuple[list[int], int]:
    """Freeze float coefficients as integers: round(w * scale). The
    induced decision boundary moves by at most n_tokens * 0.5/scale in
    logit units — negligible at scale=1000 for any classifier worth
    shipping."""
    return [round(w * scale) for w in weights], round(intercept * scale)


def score_quality_frozen(
    df: DataFrame,
    weights: list[int],
    bias: int,
    num_features: int | None = None,
    text_col: str = "text",
    score_col: str = "q_score",
    keep_col: str = "keep",
    threshold: int = 0,
) -> DataFrame:
    """Map-side scoring with frozen integer weights: appends the BIGINT
    logit score (scaled by the quantization factor) and the keep flag
    (score > threshold). No shuffle, no float accumulation, no state —
    the 100 TB plan is a projection over the scan."""
    m = num_features or len(weights)
    if len(weights) != m:
        raise ValueError(f"{len(weights)} weights for {m} features")
    # Scoring runs as an Arrow kernel (round-10, guide §4.2): an
    # aggregate() fold over portable_feature_bucket hashes every token
    # through an INTERPRETED lambda — Spark never codegens HOF bodies —
    # and that per-token expression walk was the dominant term of every entry
    # that scores with the frozen model (q181/q208/q211/q212). C md5
    # via hashlib, integer sums — exact by construction; still a
    # map-only projection (all input columns pass through untouched,
    # plus the score and keep columns). Tokenization parity with
    # TX.tokens(F.lower(...)): Spark trim strips spaces only, Java \s
    # is the ASCII class.
    import hashlib
    import re as _re

    from pyspark.sql import types as T

    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(score_col, T.LongType()), T.StructField(keep_col, T.IntegerType())]
    )
    seed_prefix = f"{_QM_SEED}|".encode()
    ws_re = _re.compile("[ \\t\\n\\x0b\\f\\r]+")
    md5 = hashlib.md5
    w_by_bucket = [int(w) for w in weights]
    bias_i = int(bias)
    thr = int(threshold)

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            scores = []
            for text in pdf[text_col]:
                if text is None:
                    scores.append(None)
                    continue
                s = text.lower().strip(" ")
                toks = ws_re.split(s) if s else []
                acc = bias_i
                for t in toks:
                    acc += w_by_bucket[
                        int(md5(seed_prefix + t.encode("utf-8")).hexdigest()[:15], 16)
                        % m
                    ]
                scores.append(acc)
            out = pdf.copy()
            out[score_col] = scores
            out[keep_col] = [
                None if v is None else int(v > thr) for v in scores
            ]
            yield out

    return df.mapInPandas(_score, schema)


def ranked_auc(
    scored: DataFrame,
    score_col: str = "q_score",
    label_col: str = "label",
) -> DataFrame:
    """EXACT ROC-AUC of an integer score against a binary label — the
    Mann-Whitney rank-sum form, all-integer so the result hash-matches
    a SQL twin bit-for-bit (no trapezoid floats, no sampling): with
    R+ = sum of the positives' mid-ranks under ascending score
    (ties get the tie group's average rank), U = R+ - n_pos(n_pos+1)/2
    and AUC = U / (n_pos * n_neg). Mid-ranks are half-integers, so the
    algebra carries 2x everything: a tie group with c_before rows
    below it and n rows contributes n_pos_in_group * (2*c_before +
    n + 1) to 2*R+.

    Plan: one keyed groupBy collapses the corpus to |distinct scores|
    rows, then ``analytics.global_prefix_sum`` ranks those WITHOUT an
    unpartitioned window (range partition + O(partitions) offsets),
    then one single-row rollup. Nothing doc-sized crosses the driver.
    Returns ONE row: (n_pos, n_neg, u2, auc_x1e6) where u2 = 2*U and
    auc_x1e6 = floor(1e6 * u2 / (2 * n_pos * n_neg)). BIGINT algebra
    overflows past ~3e9 rows (u2 ~ N^2); evaluate on a sampled slice
    beyond that — an eval set, not the corpus, is the input here by
    design."""
    from sstable_migrator_spark.operators.analytics import global_prefix_sum

    g = scored.groupBy(F.col(score_col).alias("_s")).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(F.col(label_col).cast("long")).alias("_np"),
    )
    ranked, _total = global_prefix_sum(g, ["_s"], "_n", out_col="_cum")
    # _cum is INCLUSIVE; rows strictly below the tie group = _cum - _n
    contrib = ranked.select(
        (F.col("_np") * (2 * (F.col("_cum") - F.col("_n")) + F.col("_n") + 1))
        .cast("long")
        .alias("_r2"),
        "_np",
        "_n",
    )
    agg = contrib.agg(
        F.sum("_np").cast("long").alias("n_pos"),
        (F.sum("_n") - F.sum("_np")).cast("long").alias("n_neg"),
        F.sum("_r2").cast("long").alias("_r2s"),
    )
    # integral DIV, never float `/`: a double quotient landing a hair
    # above the true ratio would flip the floor boundary cross-engine
    return agg.selectExpr(
        "n_pos",
        "n_neg",
        "CAST(_r2s - n_pos * (n_pos + 1) AS BIGINT) AS u2",
        "CAST(CASE WHEN n_pos > 0 AND n_neg > 0 THEN "
        "(1000000 * (_r2s - n_pos * (n_pos + 1))) div "
        "(2 * n_pos * n_neg) END AS BIGINT) AS auc_x1e6",
    )


def calibration_report(
    scored: DataFrame,
    score_col: str = "q_score",
    label_col: str = "label",
    bucket_width: int = 2000,
) -> DataFrame:
    """Reliability diagram over an integer-logit quality score — the
    dial that answers "when the model says keep, how often is it
    right": bucket the scaled logit into fixed-width bands, report per
    band the doc count, observed positives, and the exact observed
    rate (ppm, integer floor division), plus two MISCALIBRATION flags
    by integer cross-multiplication: ``miscal_hi`` = a band whose
    every score is positive (model: P > 0.5) where observed positives
    fall under half; ``miscal_lo`` = the symmetric confident-negative
    band over half. The band holding logit 0 is mixed by construction
    and never flags.

    Bucketing is floor division written as ``(s - pmod(s, w)) / w`` —
    one cross-engine definition for negative logits (SQL integer ``/``
    truncates toward zero, which would fold buckets -1 and 0
    together). One keyed groupBy; output is |bands| rows (bounded by
    the logit range / width, dozens in practice)."""
    w = int(bucket_width)
    if w <= 0:
        raise ValueError(f"bucket_width must be positive, got {bucket_width}")
    s = F.col(score_col).cast("long")
    fd = ((s - ((s % w + w) % w)) / w).cast("long")
    g = (
        scored.select(fd.alias("bucket"), F.col(label_col).cast("long").alias("_l"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("_l").cast("long").alias("n_pos"))
    )
    # integral DIV (not float `/`) for the observed rate: n_pos, n >= 0
    # so truncation IS floor, and both engines' integer division agree
    return g.selectExpr(
        "bucket",
        f"CAST(bucket * {w} AS BIGINT) AS score_lo",
        "n",
        "n_pos",
        "CAST((1000000 * CAST(n_pos AS DECIMAL(38,0))) div n AS BIGINT) "
        "AS pos_rate_x1e6",
        "CAST(bucket >= 1 AND 2 * n_pos < n AS INT) AS miscal_hi",
        "CAST(bucket <= -1 AND 2 * n_pos > n AS INT) AS miscal_lo",
    )


def confusion_report(
    df: DataFrame,
    truth_col: str,
    pred_col: str,
) -> DataFrame:
    """Multiclass CONFUSION MATRIX in long format — the routing-QA
    table (``ranked_auc`` covers binary scorers; gates that emit a
    CLASS — language router, script router, source classifier — are
    judged here): one row per observed (truth, pred) cell with the
    exact count, the truth-row and pred-column totals, and both
    integer-ppm rates: ``recall_ppm = 1e6*n div row_total`` (of the
    docs that ARE truth t, how many the gate sent to p) and
    ``precision_ppm = 1e6*n div col_total`` (of the docs the gate sent
    to p, how many were t). On diagonal cells (``is_diag``) those are
    the class recall/precision; off-diagonal they are the confusion
    rates a router owner reads to find WHICH pair of classes bleeds.

    Plan: ONE data-sized keyed groupBy to the |truth| x |pred| cell
    relation; row/col totals are SUM WINDOWS over the bounded cells
    (round 11, §2.4: the original re-aggregate-and-broadcast-join form
    re-planned the ``cells`` subtree into each total — THREE corpus
    scans, each re-evaluating the caller's prediction expression;
    windows keep one scan, and the two cell-relation exchanges move
    dozens of rows). Rates use integral DIV over DECIMAL(38,0) — the
    float-`/`-never-touches-a-hashed-column discipline. Output is
    |observed cells| rows; absent cells are honest zeros by omission
    (a class pair never confused does not exist in the report). A cell
    whose truth or pred is NULL is counted in the other side's total
    but not emitted, exactly as the cells-join-totals form does."""
    cells = (
        df.select(
            F.col(truth_col).cast("string").alias("truth"),
            F.col(pred_col).cast("string").alias("pred"),
        )
        .groupBy("truth", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        cells.withColumn(
            "row_total",
            F.sum("n").over(Window.partitionBy("truth")).cast("long"),
        )
        .withColumn(
            "col_total",
            F.sum("n").over(Window.partitionBy("pred")).cast("long"),
        )
        # after the windows, so NULL-keyed cells still count in the totals
        .filter(F.col("truth").isNotNull() & F.col("pred").isNotNull())
        .selectExpr(
            "truth",
            "pred",
            "n",
            "row_total",
            "col_total",
            "CAST(truth = pred AS INT) AS is_diag",
            "CAST((1000000 * CAST(n AS DECIMAL(38,0))) div row_total "
            "AS BIGINT) AS recall_ppm",
            "CAST((1000000 * CAST(n AS DECIMAL(38,0))) div col_total "
            "AS BIGINT) AS precision_ppm",
        )
    )

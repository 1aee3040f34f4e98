"""Streaming corpus admission (the incremental-dedup gate on the
arrival path).

The batch decision (operators/dedup.incremental_dedup: exact
fingerprint set + cross-corpus LSH against everything already
ingested) applied per availableNow drain: a file stream of newly
landed documents is gated inside ``foreachBatch`` — each micro-batch
is a plain DataFrame, so the batch operator runs UNCHANGED, admitted
rows append to the corpus store, and the source checkpoint guarantees
a document is judged exactly once. A quiet day costs one empty
drain.

THE STATE STORE (what makes a drain O(day), not O(corpus)): the gate
maintains ``<corpus>/_dedup_state`` — a parquet table of
``build_dedup_state`` rows (fingerprint + banded MinHash signature,
``bands`` rows per admitted document). Each drain builds the BATCH's
state once, judges it against the persisted table (band-bucket join +
fingerprint join — the corpus TEXT is never read), and appends the
admitted documents' state rows. A pre-existing corpus without a state
table is migrated once (one corpus pass) on the first drain that needs
it. Underscore-prefixed, so corpus readers (``spark.read.parquet`` on
the corpus dir) never see it.

THE LEDGER is distributed: per-document decisions append as JSON under
``<corpus>/_admissions/`` straight from the executors; only the
two-scalar drain summary (judged/admitted counts) ever reaches the
driver — no O(batch) collect anywhere on the arrival path.

QUALITY GATES compose: pass frozen quality-model weights and/or a
trained+frozen n-gram LM and the drain admits only documents that
clear dedup AND the quality logit AND the perplexity threshold — all
three are projections/broadcast joins, stream-compatible by
construction. Gate columns ride in the ledger (``quality_keep``,
``ppl_keep``) so rejections are attributable.

AT-LEAST-ONCE SAFETY (the frontier's discipline, applied here):
foreachBatch may RETRY a batch id, so every store write — corpus
rows, dedup-state rows, postings + stats delta, ledger — is keyed by
batch and lands via dynamic partition overwrite, and every state read
self-excludes the current batch id. A retried drain therefore
recomputes the same decisions from the pre-batch state and REPLACES
its own partitions: no duplicate corpus rows after a crash between
the corpus and state writes, no re-judging its own documents as
duplicates of themselves, no double-bumped postings stats. The
corpus/stores are consequently BOUND to the stream's checkpoint
(batch ids are the idempotence keys); the drain records the stream id
and refuses a foreign checkpoint. The LEDGER still COMMITS LAST, so a
decision row in ``_admissions`` means every store write for that
drain completed — audit is ``_admissions`` vs corpus ids. Repairs for
the remaining crash windows stay corpus-pass-free or pure: re-seed
the dedup state from the corpus text (``build_dedup_state`` — the
state is a pure function of the corpus); rebuild the BM25 corpus
constants from the postings parquet
(``retrieval.rebuild_postings_stats`` — the index is self-describing,
one column-pruned scan). The state store records its LSH parameters
in ``_dedup_state/_params.json``; every drain asserts they match
before judging (a state consumed with different banding would
silently mis-estimate Jaccard).

Note the admission reference is the corpus AS OF the batch's own
drain (a batch's state reads exclude only its own id, so within one
multi-micro-batch drain, later batches DO see earlier admissions;
same-batch duplicates are caught by the NEXT drain or an in-batch
self-dedup upstream). That matches the daily-cadence semantics of the
reference pipeline (J4/T2's 25-day window), where "today" is one
batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["admit_documents_available_now"]


def _has_parquet(path: str) -> bool:
    # walk: the stores are batch-partitioned, so files live under
    # batch=<n>/ subdirectories
    if not os.path.isdir(path):
        return False
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _excl_batch(df: DataFrame, bid: int) -> DataFrame:
    """Self-exclude the current batch id from a state read: a failed
    attempt's partial writes must not count as pre-existing state, or
    the retry would judge its own documents as duplicates of
    themselves. Legacy stores without a batch column pass through."""
    return df.filter(F.col("batch") != bid) if "batch" in df.columns else df


def _overwrite_batch(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """The idempotence primitive (same as streaming/frontier): a
    retried batch replaces exactly its own ``batch=`` partition; an
    empty frame touches nothing."""
    w = (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
    )
    getattr(w, fmt)(path)


def _drain_admission_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    bid: int,
    corpus_path: str,
    *,
    jaccard_threshold: float = 0.5,
    quality_weights: list[int] | None = None,
    quality_bias: int = 0,
    lm_frozen: DataFrame | None = None,
    lm_threshold_q16: int | None = None,
    lm_vocab: int = 256,
    eval_frozen: DataFrame | None = None,
    eval_shingle_k: int = 5,
    postings_path: str | None = None,
    repetition: bool = False,
    unicode_form: str | None = None,
) -> tuple[int, int]:
    """One batch's admission drain, IDEMPOTENT under foreachBatch's
    at-least-once retries: every store write (corpus rows, dedup-state
    rows, postings + stats delta, ledger) is keyed by ``bid`` and
    lands via dynamic partition overwrite, and every state read
    self-excludes ``batch == bid`` — so a retry recomputes the same
    decisions from the pre-batch state and REPLACES its own partitions
    instead of double-appending (the failure mode of plain append:
    duplicate corpus rows after a crash between the corpus and state
    writes, or re-judging own documents as duplicates of themselves
    after a crash later in the drain). Module-level so the retry
    property is directly testable. Returns ``(judged, admitted)``."""
    from sstable_migrator_spark.operators.dedup import (
        build_dedup_state,
        check_dedup_state_params,
        incremental_dedup,
        write_dedup_state_params,
    )

    state_path = os.path.join(corpus_path, "_dedup_state")
    ledger_path = os.path.join(corpus_path, "_admissions")

    if unicode_form is not None:
        # batch/stream parity with build_training_corpus(unicode_form=):
        # fingerprints must see the same byte form the corpus state was
        # built on; the params sidecar refuses a mismatch below
        from sstable_migrator_spark.operators.normalize import normalize_unicode

        batch_df = normalize_unicode(
            batch_df, form=unicode_form
        ).drop("changed").localCheckpoint()
    new_state = build_dedup_state(batch_df).localCheckpoint()
    if _has_parquet(state_path):
        # refuse a state built with different LSH parameters —
        # it would silently mis-estimate Jaccard. Sidecar absent =
        # pre-sidecar state, necessarily built on RAW bytes: stamp it
        # with unicode_form=None (what it was actually built with,
        # never the caller's flag — stamping the caller's form would
        # record false provenance and let normalized probes be judged
        # against raw-built fingerprints forever), then re-check so a
        # caller enabling normalization against a legacy state is
        # refused loudly and rebuilds instead
        if check_dedup_state_params(state_path, unicode_form=unicode_form) is None:
            write_dedup_state_params(state_path, unicode_form=None)
            check_dedup_state_params(state_path, unicode_form=unicode_form)
        old_state = _excl_batch(spark.read.parquet(state_path), bid)
    elif _has_parquet(corpus_path):
        # one-time migration: corpus predates the state store —
        # build and persist it now so every LATER drain is O(day).
        # batch=-1 keys the migrated rows (uniform partition layout
        # with the per-batch appends that follow)
        migrated = _excl_batch(spark.read.parquet(corpus_path), bid)
        if unicode_form is not None:
            # the caller asserts this corpus is normalized; build the
            # migrated state on the same byte form the probes will use
            from sstable_migrator_spark.operators.normalize import (
                normalize_unicode,
            )

            migrated = normalize_unicode(
                migrated, form=unicode_form
            ).drop("changed")
        migrated.transform(
            build_dedup_state
        ).withColumn("batch", F.lit(-1)).write.mode(
            "overwrite"
        ).partitionBy("batch").parquet(state_path)
        write_dedup_state_params(state_path, unicode_form=unicode_form)
        old_state = spark.read.parquet(state_path)
    else:
        old_state = None
    if old_state is not None:
        decisions = incremental_dedup(
            batch_df,
            jaccard_threshold=jaccard_threshold,
            old_state=old_state,
            new_state=new_state,
        )
    else:
        decisions = batch_df.selectExpr(
            "doc_id",
            "CAST(0 AS INT) AS exact_dup",
            "CAST(0 AS BIGINT) AS n_near_dups",
            "CAST(1 AS INT) AS admitted",
        )
    # compose the quality gates: stateless projections / broadcast
    # joins, so they run unchanged inside the stream
    if quality_weights is not None:
        from sstable_migrator_spark.operators.quality_model import (
            score_quality_frozen,
        )

        qk = score_quality_frozen(
            batch_df, quality_weights, quality_bias
        ).select("doc_id", F.col("keep").alias("quality_keep"))
        decisions = decisions.join(qk, "doc_id", "left")
    else:
        decisions = decisions.withColumn("quality_keep", F.lit(1))
    if lm_frozen is not None:
        from sstable_migrator_spark.operators.lm import perplexity_score

        pk = perplexity_score(
            batch_df,
            lm_frozen,
            vocab=lm_vocab,
            threshold_q16=lm_threshold_q16,
        ).select("doc_id", F.col("keep").alias("ppl_keep"))
        decisions = decisions.join(pk, "doc_id", "left")
    else:
        decisions = decisions.withColumn("ppl_keep", F.lit(1))
    if eval_frozen is not None:
        from sstable_migrator_spark.operators.dedup import (
            contamination_flags,
        )

        ck = contamination_flags(
            batch_df, eval_frozen, shingle_k=eval_shingle_k
        ).select(
            "doc_id",
            (~F.col("contaminated")).cast("int").alias("decon_keep"),
        )
        decisions = decisions.join(ck, "doc_id", "left")
    else:
        decisions = decisions.withColumn("decon_keep", F.lit(1))
    if repetition:
        from sstable_migrator_spark.operators.gopher import (
            repetition_flags,
        )

        rk = repetition_flags(batch_df).select(
            "doc_id", F.col("keep").alias("rep_keep")
        )
        decisions = decisions.join(rk, "doc_id", "left")
    else:
        decisions = decisions.withColumn("rep_keep", F.lit(1))
    decisions = decisions.select(
        "doc_id",
        "exact_dup",
        "n_near_dups",
        F.coalesce("quality_keep", F.lit(0)).cast("int").alias("quality_keep"),
        F.coalesce("ppl_keep", F.lit(0)).cast("int").alias("ppl_keep"),
        # absent from the contamination rollup = produced no
        # shingles at all = cannot be contaminated -> keep
        F.coalesce("decon_keep", F.lit(1)).cast("int").alias("decon_keep"),
        F.coalesce("rep_keep", F.lit(0)).cast("int").alias("rep_keep"),
        (
            (F.col("admitted") == 1)
            & (F.coalesce("quality_keep", F.lit(0)) == 1)
            & (F.coalesce("ppl_keep", F.lit(0)) == 1)
            & (F.coalesce("decon_keep", F.lit(1)) == 1)
            & (F.coalesce("rep_keep", F.lit(0)) == 1)
        ).cast("int").alias("admitted"),
    ).localCheckpoint()

    admitted_ids = decisions.filter("admitted = 1").select("doc_id")
    admitted_docs = batch_df.join(admitted_ids, "doc_id").localCheckpoint()
    _overwrite_batch(
        admitted_docs.withColumn("batch", F.lit(bid)), corpus_path
    )
    # extend the state store with the admitted documents' rows —
    # next drain judges against corpus + this wave, still text-free
    _overwrite_batch(
        new_state.join(admitted_ids, "doc_id").withColumn(
            "batch", F.lit(bid)
        ),
        state_path,
    )
    if check_dedup_state_params(state_path, unicode_form=unicode_form) is None:
        write_dedup_state_params(state_path, unicode_form=unicode_form)  # first drain created it
    if postings_path is not None and not admitted_docs.isEmpty():
        from sstable_migrator_spark.operators.retrieval import (
            append_postings_index,
            write_postings_index,
        )

        if _has_parquet(os.path.join(postings_path, "_corpus_stats")):
            append_postings_index(admitted_docs, postings_path, batch=bid)
        else:
            write_postings_index(admitted_docs, postings_path, batch=bid)
    # distributed ledger write; ONLY the 2-scalar summary is
    # collected (one row), never the per-document decisions.
    # Ledger commits LAST (the drain's completion record)
    _overwrite_batch(
        decisions.withColumn("batch", F.lit(bid)), ledger_path, fmt="json"
    )
    j, a = decisions.agg(F.count(F.lit(1)), F.sum("admitted")).first()
    return int(j), int(a or 0)


def admit_documents_available_now(
    spark: SparkSession,
    in_path: str,
    corpus_path: str,
    checkpoint: str,
    schema: str = "doc_id long, text string",
    jaccard_threshold: float = 0.5,
    quality_weights: list[int] | None = None,
    quality_bias: int = 0,
    lm: DataFrame | None = None,
    lm_threshold_q16: int | None = None,
    lm_vocab: int = 256,
    eval_docs: DataFrame | None = None,
    eval_shingle_k: int = 5,
    postings_path: str | None = None,
    repetition: bool = False,
    unicode_form: str | None = None,
) -> dict:
    """One drain: judge every newly landed JSONL document against the
    persisted dedup state of the corpus at ``corpus_path`` (exact +
    near-dup; plus the frozen quality model when ``quality_weights``
    is given, plus the perplexity filter when ``lm`` — a frozen
    ``train_bigram_lm`` table — is given, plus benchmark
    decontamination when ``eval_docs`` — the held-out eval set — is
    given: any arriving document sharing a word shingle with it is
    rejected at the door, so eval text can never enter the corpus;
    plus the MassiveText repetition rules when ``repetition=True`` —
    ``operators.gopher.repetition_flags``, ledger column
    ``rep_keep``), append the admitted ones, extend the state store,
    and record every decision under ``corpus_path/_admissions/``. With
    ``postings_path`` the gate ALSO maintains the BM25 serving index
    (``retrieval.write_postings_index`` layout): admitted documents'
    postings append per drain, so retrieval freshness costs O(day)
    exactly like the dedup state. Returns the drain summary
    ``{judged, admitted}``.

    Every store write is batch-keyed and idempotent (see
    ``_drain_admission_batch``), which binds the corpus directory to
    this stream's checkpoint (batch ids are the idempotence keys) —
    the drain verifies the binding and refuses a foreign checkpoint."""
    from sstable_migrator_spark.streaming.frontier import (
        _check_stream_binding,
    )

    # Freeze the LM table driver-side once per drain: foreachBatch may
    # run it in several micro-batches and the model must not drift.
    lm_frozen = lm.localCheckpoint() if lm is not None else None
    eval_frozen = (
        eval_docs.localCheckpoint() if eval_docs is not None else None
    )

    stream = spark.readStream.schema(schema).json(in_path)
    stats = {"judged": 0, "admitted": 0}

    def _gate(batch_df, bid: int) -> None:
        batch_df = batch_df.localCheckpoint()
        if batch_df.isEmpty():
            return
        _check_stream_binding(corpus_path, checkpoint)
        j, a = _drain_admission_batch(
            spark,
            batch_df,
            bid,
            corpus_path,
            jaccard_threshold=jaccard_threshold,
            quality_weights=quality_weights,
            quality_bias=quality_bias,
            lm_frozen=lm_frozen,
            lm_threshold_q16=lm_threshold_q16,
            lm_vocab=lm_vocab,
            eval_frozen=eval_frozen,
            eval_shingle_k=eval_shingle_k,
            postings_path=postings_path,
            repetition=repetition,
            unicode_form=unicode_form,
        )
        stats["judged"] += j
        stats["admitted"] += a

    q = (
        stream.writeStream.foreachBatch(_gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stats


# the decision-row schema _drain_admission_batch writes (its final
# decisions.select), PINNED for the report: schema inference would pay
# an extra pass over the ledger and could type a short or degenerate
# ledger loosely (e.g. an early all-reject wave). ``batch`` is the
# partition column. ``c4_keep``/``lang_keep``/``license_keep``/
# ``code_quality_keep`` exist only in the BATCH funnel's gate set —
# the JSON reader yields null for them on streaming ledgers (old and
# new), and the report coalesces null to "gate not run = pass", so
# one schema covers both funnels.
_LEDGER_SCHEMA = (
    "doc_id long, exact_dup int, n_near_dups bigint, quality_keep int, "
    "ppl_keep int, decon_keep int, rep_keep int, c4_keep int, "
    "lang_keep int, license_keep int, code_quality_keep int, "
    "admitted int, batch int"
)


def _batch_ledger_as_admissions(spark: SparkSession, ledger_path: str) -> DataFrame:
    """The BATCH funnel's per-doc stage ledger
    (``build_training_corpus(ledger_dir=)``: one parquet row
    ``(doc_id, stage)`` naming the FIRST dropping stage, or 'kept')
    pivoted into the streaming ledger's gate-int frame, so ONE report
    covers both funnels. First-drop semantics map exactly onto the
    report's per-gate attribution: the dropping stage's gate reads 0,
    every other gate 1 (passed or not reached — the funnel stopped
    judging), ``admitted`` iff kept. Gates the batch funnel doesn't
    run (ppl/decon/rep) read 1 everywhere, so their reject columns are
    honestly zero. One synthetic batch 0 — a funnel run is one wave."""
    return spark.read.parquet(ledger_path).selectExpr(
        "doc_id",
        "CAST(stage = 'exact_dup' AS INT) AS exact_dup",
        "CAST(CAST(stage = 'near_dup' AS INT) AS BIGINT) AS n_near_dups",
        "CAST(stage != 'quality' AS INT) AS quality_keep",
        "CAST(1 AS INT) AS ppl_keep",
        "CAST(1 AS INT) AS decon_keep",
        "CAST(1 AS INT) AS rep_keep",
        "CAST(stage != 'c4' AS INT) AS c4_keep",
        "CAST(stage != 'lang' AS INT) AS lang_keep",
        "CAST(stage != 'license' AS INT) AS license_keep",
        "CAST(stage != 'code_quality' AS INT) AS code_quality_keep",
        "CAST(stage = 'kept' AS INT) AS admitted",
        "CAST(0 AS INT) AS batch",
    )


def admission_report(spark: SparkSession, corpus_path: str) -> DataFrame:
    """Gate HEALTH report over an attrition ledger — the ops view a
    corpus owner reads each morning: per batch, how much arrived, how
    much was admitted, which gate rejected the rest (exact dup / near
    dup / quality / c4-cleanup / language / perplexity /
    decontamination / repetition counts), and an exact-integer drift
    flag marking batches whose admit rate deviates more than 25%
    RELATIVE from the all-time rate (the q176 cross-multiply
    discipline — a flagged batch usually means a new source, an
    encoder change upstream, or a broken feed).

    READS BOTH LEDGER FORMS: a corpus directory with an
    ``_admissions`` subdir is the STREAMING gate's per-drain JSON
    ledger; a bare parquet directory of ``(doc_id, stage)`` rows is
    the BATCH funnel's ledger (``build_training_corpus(ledger_dir=)``)
    pivoted through ``_batch_ledger_as_admissions`` — same ops
    question, one report. Plan: one ledger scan, one batch-keyed agg,
    the all-time totals as a single-row broadcast cross. The ledger is
    O(decisions) rows of integers — at 100 TB this reads the ledger,
    never the corpus."""
    adm = os.path.join(corpus_path, "_admissions")
    if os.path.isdir(adm):
        led = spark.read.schema(_LEDGER_SCHEMA).json(adm)
    elif os.path.isdir(corpus_path):
        led = _batch_ledger_as_admissions(spark, corpus_path)
    else:
        raise ValueError(
            f"no attrition ledger at {corpus_path}: expected either a "
            "corpus directory with an _admissions/ streaming ledger or "
            "a batch-funnel (doc_id, stage) parquet directory"
        )
    per = led.groupBy("batch").agg(
        F.count(F.lit(1)).alias("judged"),
        F.sum("admitted").alias("admitted"),
        F.sum("exact_dup").alias("exact_dups"),
        F.sum(
            ((F.col("exact_dup") == 0) & (F.col("n_near_dups") > 0)).cast("int")
        ).alias("near_dup_hits"),
        F.sum((F.col("quality_keep") == 0).cast("int")).alias("quality_rejects"),
        F.sum((F.col("ppl_keep") == 0).cast("int")).alias("ppl_rejects"),
        F.sum((F.col("decon_keep") == 0).cast("int")).alias("decon_rejects"),
        F.sum((F.col("rep_keep") == 0).cast("int")).alias("rep_rejects"),
        # null = the funnel doesn't run this gate (streaming ledgers
        # have no c4/lang columns) -> pass, so the reject count is 0
        F.sum((F.coalesce("c4_keep", F.lit(1)) == 0).cast("int")).alias(
            "c4_rejects"
        ),
        F.sum((F.coalesce("lang_keep", F.lit(1)) == 0).cast("int")).alias(
            "lang_rejects"
        ),
        F.sum(
            (F.coalesce("license_keep", F.lit(1)) == 0).cast("int")
        ).alias("license_rejects"),
        F.sum(
            (F.coalesce("code_quality_keep", F.lit(1)) == 0).cast("int")
        ).alias("code_quality_rejects"),
    )
    totals = led.agg(
        F.count(F.lit(1)).alias("_j_all"), F.sum("admitted").alias("_a_all")
    )
    # exact integers: batch rate r = admitted/judged vs all-time
    # R = _a_all/_j_all; flag when r < 0.75R or r > 1.25R, cross-
    # multiplied so no float division happens
    low = F.col("admitted") * F.col("_j_all") * 4 < F.col("judged") * F.col("_a_all") * 3
    high = F.col("admitted") * F.col("_j_all") * 4 > F.col("judged") * F.col("_a_all") * 5
    return (
        per.join(F.broadcast(totals))
        .select(
            "batch",
            "judged",
            "admitted",
            "exact_dups",
            "near_dup_hits",
            "quality_rejects",
            "c4_rejects",
            "lang_rejects",
            "license_rejects",
            "code_quality_rejects",
            "ppl_rejects",
            "decon_rejects",
            "rep_rejects",
            (low | high).alias("rate_drift"),
        )
    )

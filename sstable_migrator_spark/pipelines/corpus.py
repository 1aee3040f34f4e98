"""End-to-end training-corpus build: the LLM-data twin of the daily DNS
pipeline (pipelines/daily.py). One composed DataFrame program takes raw
documents through the standard data-curation funnel and writes
token-budgeted shards:

    quality filter -> language allowlist -> exact dedup ->
    MinHash-LSH near-dup clustering (keep canonical) ->
    PII redaction -> overlapping chunking -> shard packing -> write

Per-stage row counts come from ONE pass via the Observation API (each
stage carries an ``observe``), not per-stage count() jobs — at 100 TB
the funnel runs exactly once. Every stage is an operator that already
has its own oracle-checked query or unit suite (q48/q84 quality,
q47 lang-id, q40 exact dedup, q43/q58 LSH+clusters, q82 PII, q198
ExactSubstr span removal (opt-in ``strip_spans_k``), q135 chunking,
q77 packing); this module is the composition, wired the way a user
would actually run it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sstable_migrator_spark.functions import text as TX
from sstable_migrator_spark.functions.pii import redact_pii
from sstable_migrator_spark.operators import analytics, dedup

__all__ = [
    "quality_score",
    "build_training_corpus",
    "admission_report",
    "export_packed_sequences",
    "export_sft_sequences",
    "export_training_epochs",
    "read_epoch_sequences",
    "verify_epoch",
]


def quality_score(text_col) -> "F.Column":
    """Composite quality heuristic over a raw text column (same recipe
    the oracle-checked q48/q84 queries pin: length, mean word length,
    stopword ratio, punctuation ratio; fixed arithmetic order)."""
    tk = TX.tokens(text_col)
    n = F.size(tk)
    len_score = F.least(n.cast("double") / 100.0, F.lit(1.0))
    total_len = F.aggregate(tk, F.lit(0), lambda acc, x: acc + F.length(x))
    mwl = F.when(n > 0, total_len.cast("double") / n).otherwise(0.0)
    wl_score = F.when((mwl >= 3.0) & (mwl <= 10.0), 1.0).otherwise(0.0)
    hits = F.size(
        F.filter(F.transform(tk, F.lower), lambda x: x.isin(*TX.DEFAULT_STOPWORDS))
    )
    swr = F.when(n > 0, hits.cast("double") / n).otherwise(0.0)
    sw_score = F.least(swr * 5.0, F.lit(1.0))
    punct = F.length(F.regexp_replace(text_col, "[A-Za-z0-9\\s]", ""))
    pr = F.when(
        F.length(text_col) > 0, punct.cast("double") / F.length(text_col)
    ).otherwise(0.0)
    punct_score = F.lit(1.0) - F.least(pr * 4.0, F.lit(1.0))
    return 0.3 * len_score + 0.2 * wl_score + 0.3 * sw_score + 0.2 * punct_score


def build_training_corpus(
    docs: DataFrame,
    out_dir: str,
    quality_min: float = 0.3,
    langs: tuple[str, ...] = ("en", "de", "es", "fr", "zh"),
    chunk_size: int = 32,
    stride: int = 24,
    shard_tokens: int = 2000,
    shard_format: str = "parquet",
    strip_spans_k: int | None = None,
    c4: bool = False,
    lsh_max_bucket: int | None = None,
    near_dup_policy: str = "canonical",
    unicode_form: str | None = None,
    layout: str = "chunks",
    seq_tokens: int = 2048,
    seq_seed: int = 0,
    overflow: str = "flag",
    rows_per_shard: int = 10000,
    parts: int | None = None,
    ledger_dir: str | None = None,
    license_policy: str | None = None,
    code_quality: bool = False,
) -> dict[str, int]:
    """Run the curation funnel and write chunk shards to ``out_dir``
    (``shard_format="parquet"``: partitioned by shard_id — the default
    for text pipelines; ``"tar"``: WebDataset tar shards via
    sinks.tarshard, one sample per chunk keyed doc-chunk with a .txt
    member — the layout multimodal dataloaders stream; ``"arrow"``:
    digest-manifested Arrow IPC stream shards via sinks.arrowshard,
    one writer task per budget shard — the zero-copy columnar layout
    Arrow-native dataloaders consume). Returns per-stage row counts.

    Scale shape: quality/lang/PII/chunking are map-only; exact dedup is
    one fingerprint shuffle; the near-dup stage shuffles only signature
    rows and the (tiny) pair graph; packing windows over per-doc token
    counts, not text. The near-dup survivors anti-join as a broadcast
    (cluster lists are |dups|-sized, not corpus-sized).

    ``c4=True`` runs the published C4 line-cleaning recipe
    (operators.gopher.c4_clean) FIRST — line drops + page drops — so
    every later stage judges the cleaned text.

    ``unicode_form`` (e.g. ``"NFC"``): Unicode-normalize the text
    BEFORE any hash-keyed stage, so denormal spellings of the same
    visible text collide at exact dedup instead of surviving as
    byte-distinct duplicates.

    ``near_dup_policy``: which copy survives a near-dup cluster —
    ``"canonical"`` (min id, the duplicate_clusters default) or
    ``"keep_best"`` (highest quality_score, ties -> smallest id — the
    dedup_keep_best policy, computed here on |dups|-sized tables only:
    cluster labels broadcast into the corpus, argmax over members).

    ``layout``: what the curated survivors become —

    - ``"chunks"`` (default): the overlapping chunk-and-shard layout
      described above (``chunk_size``/``stride``/``shard_tokens``).
    - ``"sft"``: whole-document greedy packing + the SFT sequence
      export (``export_sft_sequences``: a document never straddles a
      sequence boundary, ``doc_starts`` carries the block-diagonal
      attention-mask offsets) in the SAME governed call — the funnel's
      survivors flow straight into the layout with one stats dict:
      funnel counts plus ``{sequences, tokens, docs, oversize,
      pad_tokens}``, so the pad accounting an SFT data lead watches is
      returned next to the curation attrition it trades against.
      ``seq_tokens``/``seq_seed``/``overflow``/``rows_per_shard``/
      ``parts`` parameterize the layout; ``chunk_size``/``stride``/
      ``shard_tokens`` are ignored.

    ``ledger_dir``: opt-in PER-DOCUMENT attrition ledger (read by
    ``admission_report``): one parquet row per INPUT document with the first stage that dropped it (``c4`` /
    ``quality`` / ``lang`` / ``exact_dup`` / ``near_dup``) or
    ``kept`` — the "why did my document disappear" audit a corpus
    owner actually asks. Ids-only lineage: five doc_id-keyed joins of
    8-byte id rows (plus re-running the map-only stage predicates), no
    text movement; the per-stage counts in the returned dict are the
    same table rolled up (test-pinned equal).

    ``license_policy`` / ``code_quality``: the CODE-corpus gates
    (operators/code.py — The Stack/StarCoder screens), run right after
    C4 cleaning so every verdict reads the cleaned text:
    ``license_policy="exclude_copyleft"`` (or ``"permissive_only"``)
    drops by license; ``code_quality=True`` drops by the line-length/
    alnum/autogen/blob screens. Both are map-only boolean predicates
    (``license_keep`` / ``code_quality_keep``) fused into the same
    projection stage as quality/lang — zero extra shuffles — and both
    get first-drop ledger attribution (``license`` /
    ``code_quality``) plus their own stage counts in the returned
    dict, which admission_report pivots like every other gate.
    """
    if layout not in ("chunks", "sft"):
        raise ValueError(f"layout must be 'chunks' or 'sft', got {layout!r}")
    if near_dup_policy not in ("canonical", "keep_best"):
        raise ValueError(
            f"near_dup_policy must be 'canonical' or 'keep_best', "
            f"got {near_dup_policy!r}"
        )
    spark = docs.sparkSession
    obs_keys = ["input", "quality", "lang", "exact", "chunks"]
    if license_policy is not None:
        obs_keys.append("license")
    if code_quality:
        obs_keys.append("code_quality")
    obs = {k: Observation(k) for k in obs_keys}

    staged = docs.observe(obs["input"], F.count(F.lit(1)).alias("n"))
    if unicode_form is not None:
        # normalization runs FIRST — every hash-keyed stage downstream
        # (exact fingerprints, shingles, LSH signatures) must see one
        # byte form per visible text or denormal duplicates survive
        from sstable_migrator_spark.operators.normalize import normalize_unicode

        staged = normalize_unicode(staged, form=unicode_form).drop("changed")
    if c4:
        # C4 line cleaning FIRST (it rewrites text): lines without
        # terminal punctuation / under 5 words / javascript vanish,
        # pages failing the sentence/lorem/brace rules drop — the rest
        # of the funnel then judges the CLEANED text
        from sstable_migrator_spark.operators.gopher import c4_clean

        passthrough = [c for c in docs.columns if c not in ("doc_id", "text")]
        cleaned = c4_clean(staged).filter(F.col("keep") == 1).select(
            "doc_id", F.col("clean_text").alias("text")
        )
        if passthrough:
            cleaned = cleaned.join(
                staged.select("doc_id", *passthrough), "doc_id"
            )
        staged = cleaned
    c4_stage = staged
    if license_policy is not None:
        # license gate first among the code screens: a copyleft file
        # is out regardless of how clean it looks
        from sstable_migrator_spark.operators.code import license_keep

        staged = staged.filter(
            license_keep(F.col("text"), policy=license_policy)
        ).observe(obs["license"], F.count(F.lit(1)).alias("n"))
    lic_stage = staged
    if code_quality:
        from sstable_migrator_spark.operators.code import code_quality_keep

        staged = staged.filter(code_quality_keep(F.col("text"))).observe(
            obs["code_quality"], F.count(F.lit(1)).alias("n")
        )
    cq_stage = staged
    q = staged.filter(quality_score(F.col("text")) >= quality_min).observe(
        obs["quality"], F.count(F.lit(1)).alias("n")
    )
    lg = q.filter(F.col("lang").isin(*langs)).observe(
        obs["lang"], F.count(F.lit(1)).alias("n")
    )
    exact = dedup.exact_dedup(lg).drop("fingerprint").observe(
        obs["exact"], F.count(F.lit(1)).alias("n")
    )
    # near-dup: pairs -> connected clusters -> keep the canonical doc.
    # The funnel re-reads `exact` here (pairs + anti-join), so cut the
    # lineage once; at scale this is the persisted post-exact-dedup
    # bronze table.
    exact = exact.localCheckpoint()
    # lsh_max_bucket: the hot-band df-cap for boilerplate-heavy crawls
    # (one template duplicated B times emits C(B,2) pairs uncapped —
    # SCALE.md has the measured cliff); star pairs keep the clusters
    pairs = dedup.minhash_lsh_pairs(
        exact, jaccard_threshold=0.5, max_bucket=lsh_max_bucket
    )
    clusters = dedup.duplicate_clusters(pairs)
    if near_dup_policy == "keep_best":
        # keep-best survivor: quality argmax over cluster MEMBERS only
        # — the cluster label table is |dups|-sized, so it broadcasts
        # into the corpus and every aggregate below stays |dups|-sized
        members = exact.join(
            F.broadcast(clusters.select("doc_id", "cluster_id")), "doc_id"
        ).select("doc_id", "cluster_id", quality_score(F.col("text")).alias("_q"))
        winners = members.groupBy("cluster_id").agg(
            F.max(
                F.struct(F.col("_q"), (-F.col("doc_id")).alias("nid"))
            ).alias("_b")
        ).select("cluster_id", (-F.col("_b.nid")).alias("doc_id"))
        losers = members.select("doc_id", "cluster_id").join(
            winners, ["cluster_id", "doc_id"], "left_anti"
        ).select("doc_id")
    else:
        losers = clusters.filter(~F.col("is_canonical")).select(
            F.col("doc_id").cast("long").alias("doc_id")
        )
    kept = exact.join(F.broadcast(losers), "doc_id", "left_anti")
    # near_dup_kept = exact - losers, counted on the TINY cluster-loser
    # table (|dups|-sized by this stage's own broadcast argument), not
    # with a corpus-sized kept.count() job. An Observation below the
    # chunking path would double-count: repartitionByRange's range
    # sampler runs the observed subtree a second time within the same
    # action.
    n_losers = losers.count()

    if ledger_dir is not None:
        # per-document attrition: first failing stage, or kept. Flags
        # come from the stage frames themselves (ids only; the lazy
        # re-scan repeats map-side predicates, `exact` is already
        # checkpointed, `losers` is |dups|-sized and broadcastable)
        def _flag(df: DataFrame, name: str) -> DataFrame:
            return df.select("doc_id").withColumn(name, F.lit(1))

        led = (
            docs.select("doc_id")
            .join(_flag(c4_stage, "_c4"), "doc_id", "left")
        )
        stage = F.when(F.col("_c4").isNull(), F.lit("c4"))
        if license_policy is not None:
            led = led.join(_flag(lic_stage, "_lic"), "doc_id", "left")
            stage = stage.when(F.col("_lic").isNull(), F.lit("license"))
        if code_quality:
            led = led.join(_flag(cq_stage, "_cq"), "doc_id", "left")
            stage = stage.when(
                F.col("_cq").isNull(), F.lit("code_quality")
            )
        led = (
            led.join(_flag(q, "_q"), "doc_id", "left")
            .join(_flag(lg, "_lg"), "doc_id", "left")
            .join(_flag(exact, "_e"), "doc_id", "left")
            .join(F.broadcast(_flag(losers, "_n")), "doc_id", "left")
            .select(
                "doc_id",
                stage.when(F.col("_q").isNull(), F.lit("quality"))
                .when(F.col("_lg").isNull(), F.lit("lang"))
                .when(F.col("_e").isNull(), F.lit("exact_dup"))
                .when(F.col("_n").isNotNull(), F.lit("near_dup"))
                .otherwise(F.lit("kept"))
                .alias("stage"),
            )
        )
        led.write.mode("overwrite").parquet(ledger_dir)

    clean = kept.withColumn("text", redact_pii(F.col("text")))
    if strip_spans_k is not None:
        # ExactSubstr deletion between redaction and chunking: corpus-
        # repeated >= k-token spans (boilerplate, templates, licenses)
        # vanish from every occurrence before chunks are cut, so no
        # chunk carries text the near-dup stages already judged
        # duplicated. The doc-level dedup above removed whole
        # duplicates; this removes the PARTIAL ones. Cut lineage once:
        # the span pass re-reads `clean` (window agg + join-back).
        clean = dedup.strip_duplicated_spans(
            clean.localCheckpoint(), k=strip_spans_k
        ).select("doc_id", F.col("clean_text").alias("text"))

    if layout == "sft":
        # cut lineage once: the SFT export re-reads the curated text
        # (greedy layout + text join-back), and the layout's range
        # exchange would re-run the observed funnel subtree
        # (double-counting the Observations) without it
        curated = clean.localCheckpoint()
        sft = export_sft_sequences(
            curated,
            out_dir,
            seq_tokens=seq_tokens,
            seed=seq_seed,
            rows_per_shard=rows_per_shard,
            shard_format=shard_format,
            overflow=overflow,
            parts=parts,
        )
        counts = {k: int(o.get["n"]) for k, o in obs.items() if k != "chunks"}
        counts["near_dup_kept"] = counts["exact"] - n_losers
        counts.update(sft)
        return counts

    tk = TX.tokens(F.lower(F.col("text")))
    chunked_src = clean.select("doc_id", tk.alias("tk")).filter(F.size("tk") > 0)
    n = F.size("tk")
    n_chunks = F.floor((n - 1) / F.lit(stride)).cast("int") + 1
    chunks = chunked_src.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda k: F.slice(F.col("tk"), k * stride + 1, chunk_size),
            )
        ).alias("chunk_id", "toks"),
    ).select(
        "doc_id",
        "chunk_id",
        F.size("toks").alias("n_tok"),
        F.array_join("toks", " ").alias("chunk_text"),
    )
    # shard packing: GLOBAL running token total over deterministic
    # (doc, chunk) order -> shard boundaries at the token budget (q77's
    # recipe), computed as a distributed two-phase prefix sum instead of
    # an un-partitioned Window.orderBy (which would funnel the whole
    # chunk set through one task at 100 TB):
    # (operators/analytics.global_prefix_sum — extracted from this file;
    # one driver row per PARTITION, bounded in-partition windows).
    ranged, _total_tok = analytics.global_prefix_sum(
        chunks, ["doc_id", "chunk_id"], "n_tok", out_col="_run"
    )
    packed = ranged.withColumn(
        "shard_id",
        F.floor((F.col("_run") - F.col("n_tok")) / F.lit(shard_tokens)).cast("int"),
    ).drop("_run")
    if shard_format == "parquet":
        packed.observe(obs["chunks"], F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).partitionBy("shard_id").parquet(out_dir)
    elif shard_format == "tar":
        from sstable_migrator_spark.sinks.tarshard import write_tar_shards

        tagged = packed.observe(
            obs["chunks"], F.count(F.lit(1)).alias("n")
        ).select(
            F.concat_ws(
                "-",
                F.lit("d"),
                F.col("doc_id").cast("string"),
                F.col("chunk_id").cast("string"),
            ).alias("_key"),
            F.col("chunk_text").alias("txt"),
            F.col("shard_id").cast("string").alias("shard"),
        )
        # token-budgeted shards become row groups per tar: repartition
        # on shard_id so each budget shard lands in one writer task
        write_tar_shards(
            tagged.repartition("shard").drop("shard"),
            out_dir,
            "_key",
            ["txt"],
        )
    elif shard_format == "arrow":
        from sstable_migrator_spark.sinks.arrowshard import write_arrow_shards

        # token-budgeted shards become writer tasks per budget shard,
        # same partitioning contract as the tar branch; columns stay
        # columnar (no key munging) — Arrow IS the trainer's row format
        write_arrow_shards(
            packed.observe(obs["chunks"], F.count(F.lit(1)).alias("n"))
            .repartition("shard_id"),
            out_dir,
        )
    else:
        raise ValueError(f"unknown shard_format {shard_format!r}")

    counts = {k: int(o.get["n"]) for k, o in obs.items()}
    counts["near_dup_kept"] = counts["exact"] - n_losers
    return counts


# the per-document decision-row schema of an ``_admissions/`` ledger
# (partitioned JSON, ``batch`` the partition column), PINNED for the
# report: schema inference would pay an extra pass over the ledger and
# could type a short or degenerate ledger loosely (e.g. an early
# all-reject wave). ``c4_keep``/``lang_keep``/``license_keep``/
# ``code_quality_keep`` exist only in the batch funnel's gate set — the
# JSON reader yields null for them on ledgers that lack them, and the
# report coalesces null to "gate not run = pass", so one schema covers
# both ledger forms.
_LEDGER_SCHEMA = (
    "doc_id long, exact_dup int, n_near_dups bigint, quality_keep int, "
    "ppl_keep int, decon_keep int, rep_keep int, c4_keep int, "
    "lang_keep int, license_keep int, code_quality_keep int, "
    "admitted int, batch int"
)


def _batch_ledger_as_admissions(spark: SparkSession, ledger_path: str) -> DataFrame:
    """The batch funnel's per-doc stage ledger
    (``build_training_corpus(ledger_dir=)``: one parquet row
    ``(doc_id, stage)`` naming the FIRST dropping stage, or 'kept')
    pivoted into the ``_admissions`` gate-int frame, so ONE report
    covers both ledger forms. First-drop semantics map exactly onto the
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

    READS BOTH LEDGER FORMS: a directory with an ``_admissions``
    subdir holds a per-batch JSON decision ledger (``_LEDGER_SCHEMA``,
    partitioned by ``batch``); a bare parquet directory of
    ``(doc_id, stage)`` rows is the batch funnel's ledger
    (``build_training_corpus(ledger_dir=)``) pivoted through
    ``_batch_ledger_as_admissions`` — same ops question, one report.
    Plan: one ledger scan, one batch-keyed agg, the all-time totals as
    a single-row broadcast cross. The ledger is O(decisions) rows of
    integers — at 100 TB this reads the ledger, never the corpus."""
    adm = os.path.join(corpus_path, "_admissions")
    if os.path.isdir(adm):
        led = spark.read.schema(_LEDGER_SCHEMA).json(adm)
    elif os.path.isdir(corpus_path):
        led = _batch_ledger_as_admissions(spark, corpus_path)
    else:
        raise ValueError(
            f"no attrition ledger at {corpus_path}: expected either a "
            "directory with an _admissions/ JSON ledger or "
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
        # null = the ledger doesn't carry this gate (an _admissions
        # ledger without c4/lang columns) -> pass, so the reject count is 0
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


def export_packed_sequences(
    docs: DataFrame,
    out_dir: str,
    seq_tokens: int = 2048,
    seed: int = 0,
    rows_per_shard: int = 10000,
    shard_format: str = "parquet",
    tokens_col: str | None = None,
) -> dict:
    """The TRAINER-FACING export: curated documents -> materialized
    fixed-token training sequences (operators/packing.pack_sequence_
    texts: reproducible shuffle by ``seed``, concat-and-chunk, every
    sequence but the last exactly ``seq_tokens`` tokens) -> shards in
    stream order. ``shard_format="parquet"``: range-partitioned and
    sorted by seq_id, so shard k holds a contiguous slice of the
    training stream and a dataloader reads shards sequentially with no
    global sort. ``"tar"``: WebDataset shards with zero-padded
    ``seq-<id>`` keys (lexical order == stream order) and a .txt
    member per sequence. ``"arrow"``: Arrow IPC stream shards in the
    same seq_id range order, ``rows_per_shard`` rows per file, sha256
    manifests. Returns ``{sequences, tokens}``.

    Epochs: ``export_training_epochs`` wraps this per-epoch with a
    versioned manifest and a resume cursor; or (cheaper) keep one
    export and reshuffle SHARD order + intra-shard order trainer-side
    — the standard trade; this function gives the exact-stream form.
    ``tokens_col`` forwards to the packer: sequences then pack by a
    pre-tokenized array column (real tokenizer tokens), not
    whitespace."""
    from sstable_migrator_spark.operators.packing import pack_sequence_texts

    seqs = pack_sequence_texts(
        docs, seq_tokens, seed=seed, tokens_col=tokens_col
    ).localCheckpoint()
    agg = seqs.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("t")
    ).first()
    if shard_format == "parquet":
        (
            seqs.repartitionByRange(F.col("seq_id"))
            .sortWithinPartitions("seq_id")
            .write.mode("overwrite")
            .parquet(out_dir)
        )
    elif shard_format == "tar":
        from sstable_migrator_spark.sinks.tarshard import write_tar_shards

        tagged = (
            seqs.repartitionByRange(F.col("seq_id"))
            .sortWithinPartitions("seq_id")
            .select(
                F.concat(
                    F.lit("seq-"), F.lpad(F.col("seq_id").cast("string"), 12, "0")
                ).alias("_key"),
                F.col("seq_text").alias("txt"),
            )
        )
        write_tar_shards(
            tagged, out_dir, "_key", ["txt"], max_rows_per_shard=rows_per_shard
        )
    elif shard_format == "arrow":
        from sstable_migrator_spark.sinks.arrowshard import write_arrow_shards

        write_arrow_shards(
            seqs.repartitionByRange(F.col("seq_id")).sortWithinPartitions("seq_id"),
            out_dir,
            max_rows_per_shard=rows_per_shard,
        )
    else:
        raise ValueError(f"unknown shard_format {shard_format!r}")
    return {"sequences": int(agg["n"]), "tokens": int(agg["t"] or 0)}


def export_sft_sequences(
    docs: DataFrame,
    out_dir: str,
    seq_tokens: int = 2048,
    seed: int = 0,
    rows_per_shard: int = 10000,
    shard_format: str = "parquet",
    separator: str = " ",
    overflow: str = "flag",
    id_col: str = "doc_id",
    text_col: str = "text",
    parts: int | None = None,
) -> dict:
    """The SFT/instruction-tuning sibling of ``export_packed_sequences``:
    sequences assembled by WHOLE-DOCUMENT greedy packing
    (``packing.pack_documents_greedy`` — a document never straddles a
    boundary; the trainer pads the remainder instead of masking
    mid-document splits). Each output row is one sequence:
    ``(seq_id, seq_text, n_docs, n_tokens, doc_starts)`` with members
    joined by ``separator`` in offset order; ``doc_starts`` lists the
    token offset where each member begins — the block-diagonal
    attention-mask input, the SFT twin of
    ``pack_sequence_texts(with_boundaries=)``. ``overflow="flag"`` (default)
    EXCLUDES oversize documents from assembly and reports them in the
    returned counts — never a silent drop; ``"truncate"`` cuts their
    text to the first ``seq_tokens`` whitespace tokens; ``"error"``
    raises. Returns ``{sequences, tokens, docs, oversize, pad_tokens}``
    (``pad_tokens = sequences * seq_tokens - tokens`` — the padding the
    layout costs, the number an SFT data lead actually watches).

    Plan: the greedy layout (one range exchange + per-partition scan),
    one id-keyed join to bring the text back, one seq-keyed agg to
    assemble — text moves twice, which is the floor for materializing
    reordered sequences. Shards land like the packed export: parquet
    range-partitioned by seq_id, or tar/arrow via the shared sinks."""
    from sstable_migrator_spark.operators.packing import pack_documents_greedy

    if not separator or separator.strip() != "":
        # doc_starts / n_tokens are computed from per-doc WHITESPACE
        # token counts; a non-whitespace separator (e.g. "|") would
        # merge the last token of one doc with the first of the next
        # in the assembled seq_text, silently desyncing the boundary
        # offsets the column exists to provide
        raise ValueError(
            "separator must be non-empty whitespace (doc_starts offsets "
            f"are whitespace-token positions), got {separator!r}"
        )
    layout = pack_documents_greedy(
        docs,
        seq_tokens,
        seed=seed,
        id_col=id_col,
        text_col=text_col,
        overflow=overflow,
        parts=parts,
    ).localCheckpoint()
    oversize = layout.filter(F.col("seq_id") < 0).count()
    body = F.col("_t")
    if overflow == "truncate":
        # rewrite ONLY genuinely-oversize docs (the slice+rejoin
        # normalizes whitespace; in-budget docs keep their bytes)
        body = F.when(
            TX.token_count(F.col("_t")) > seq_tokens,
            F.array_join(F.slice(TX.tokens(F.col("_t")), 1, seq_tokens), " "),
        ).otherwise(F.col("_t"))
    assembled = (
        layout.filter(F.col("seq_id") >= 0)
        .join(docs.select(F.col(id_col), F.col(text_col).alias("_t")), id_col)
        .select(
            "seq_id",
            "n_tokens",
            F.struct(F.col("seq_offset"), body.alias("_t")).alias("_m"),
        )
        .groupBy("seq_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("_m")), lambda m: m["_t"]
                ),
                separator,
            ).alias("seq_text"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            # block-diagonal attention-mask input (the SFT twin of
            # pack_sequence_texts(with_boundaries=)): token offsets
            # where each member document begins, in stream order
            F.sort_array(F.collect_list("_m.seq_offset")).alias("doc_starts"),
        )
    ).localCheckpoint()
    agg = assembled.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_tokens").alias("t"),
        F.sum("n_docs").alias("d"),
    ).first()
    if shard_format == "parquet":
        (
            assembled.repartitionByRange(F.col("seq_id"))
            .sortWithinPartitions("seq_id")
            .write.mode("overwrite")
            .parquet(out_dir)
        )
    elif shard_format == "tar":
        from sstable_migrator_spark.sinks.tarshard import write_tar_shards

        tagged = (
            assembled.repartitionByRange(F.col("seq_id"))
            .sortWithinPartitions("seq_id")
            .select(
                F.concat(
                    F.lit("seq-"), F.lpad(F.col("seq_id").cast("string"), 12, "0")
                ).alias("_key"),
                F.col("seq_text").alias("txt"),
            )
        )
        write_tar_shards(
            tagged, out_dir, "_key", ["txt"], max_rows_per_shard=rows_per_shard
        )
    elif shard_format == "arrow":
        from sstable_migrator_spark.sinks.arrowshard import write_arrow_shards

        write_arrow_shards(
            assembled.repartitionByRange(F.col("seq_id")).sortWithinPartitions(
                "seq_id"
            ),
            out_dir,
            max_rows_per_shard=rows_per_shard,
        )
    else:
        raise ValueError(f"unknown shard_format {shard_format!r}")
    n_seq, total = int(agg["n"]), int(agg["t"] or 0)
    return {
        "sequences": n_seq,
        "tokens": total,
        "docs": int(agg["d"] or 0),
        "oversize": int(oversize),
        "pad_tokens": n_seq * seq_tokens - total,
    }


def export_training_epochs(
    docs: DataFrame,
    out_dir: str,
    n_epochs: int = 1,
    seq_tokens: int = 2048,
    base_seed: int = 0,
    rows_per_shard: int = 10000,
    shard_format: str = "parquet",
    tokens_col: str | None = None,
) -> dict:
    """The OPERATIONAL contract a trainer actually consumes: N epochs
    of packed sequences, each a fresh deterministic permutation
    (``seed = base_seed + epoch`` — the shuffle is a pure function of
    (corpus, seed), so every epoch's order is reproducible by any
    worker), laid out as a partitioned dataset::

        out_dir/epoch=<e>/...       one export_packed_sequences per epoch
        out_dir/_manifest.json      version, seeds, per-epoch stats

    ``spark.read.parquet(out_dir)`` sees all epochs with an ``epoch``
    partition column; the manifest records (epoch, seed, sequences,
    tokens, path) so a trainer can sanity-check totals without a scan.
    Token totals are epoch-invariant (the same documents pack every
    time — only the order moves); sequence CONTENTS differ per epoch
    because the chunk boundaries move with the permutation.

    RESUME: the cursor is ``(epoch, last_completed_seq_id)`` —
    ``read_epoch_sequences(spark, out_dir, epoch, after_seq=cursor)``
    returns exactly the remaining sequences of that epoch (a pushed-
    down range filter over the seq_id-range-partitioned shards, so a
    mid-epoch restart reads O(remaining), not the epoch). Returns the
    manifest dict.

    INTEGRITY: every epoch entry carries per-shard content digests
    (file name, byte length, md5 — computed executor-side, O(shards)
    rows to the driver), so a trainer can verify a shard's bytes
    BEFORE consuming it and ``verify_epoch`` detects truncated,
    corrupted, missing, or extra shard files without parsing them."""
    import json
    import os

    if n_epochs < 1:
        raise ValueError(f"n_epochs must be >= 1, got {n_epochs}")
    epochs = []
    for e in range(n_epochs):
        rel = f"epoch={e}"
        epoch_dir = os.path.join(out_dir, rel)
        stats = export_packed_sequences(
            docs,
            epoch_dir,
            seq_tokens=seq_tokens,
            seed=base_seed + e,
            rows_per_shard=rows_per_shard,
            shard_format=shard_format,
            tokens_col=tokens_col,
        )
        shards = _digest_shard_files(docs.sparkSession, epoch_dir)
        epochs.append(
            {"epoch": e, "seed": base_seed + e, "path": rel,
             "shards": shards, **stats}
        )
    manifest = {
        "version": 2,
        "base_seed": base_seed,
        "seq_tokens": seq_tokens,
        "shard_format": shard_format,
        "n_epochs": n_epochs,
        "epochs": epochs,
    }
    with open(os.path.join(out_dir, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2, sort_keys=True)
    return manifest


def _shard_files(epoch_dir: str) -> list[str]:
    """The data files a trainer consumes: everything in the epoch
    directory except markers (_SUCCESS and friends) and checksum
    sidecars."""
    import os

    return sorted(
        f
        for f in os.listdir(epoch_dir)
        if not f.startswith((".", "_"))
        and not f.endswith(".crc")
        and os.path.isfile(os.path.join(epoch_dir, f))
    )


def _digest_shard_files(spark, epoch_dir: str) -> list[dict]:
    """Per-shard (file, bytes, md5) — digested EXECUTOR-side, one task
    per file batch, so manifest construction never streams dataset
    bytes through the driver; only O(shards) digest rows return."""
    import os

    import pandas as pd

    files = _shard_files(epoch_dir)
    if not files:
        return []
    paths = spark.createDataFrame(
        [(i, f) for i, f in enumerate(files)], "i int, file string"
    ).repartitionByRange(min(len(files), 64), "i")

    def _dig(batches):
        import hashlib

        for pdf in batches:
            rows = []
            for fname in pdf["file"]:
                h = hashlib.md5()
                n = 0
                with open(os.path.join(epoch_dir, fname), "rb") as fh:
                    for chunk in iter(lambda: fh.read(1 << 20), b""):
                        h.update(chunk)
                        n += len(chunk)
                rows.append(
                    {"file": fname, "bytes": n, "md5": h.hexdigest()}
                )
            yield pd.DataFrame(rows)

    return sorted(
        (r.asDict() for r in paths.mapInPandas(
            _dig, "file string, bytes long, md5 string"
        ).collect()),
        key=lambda r: r["file"],
    )


def verify_epoch(spark, out_dir: str, epoch: int) -> dict:
    """Recompute the epoch's shard digests and compare with the
    manifest — the trainer-side integrity gate: a truncated copy, a
    corrupted shard, a missing file, or an unexpected extra file all
    fail LOUDLY with the offending names, before any shard is parsed.
    Returns ``{shards, bytes}`` on success."""
    import json
    import os

    with open(os.path.join(out_dir, "_manifest.json")) as fh:
        manifest = json.load(fh)
    entry = next((x for x in manifest["epochs"] if x["epoch"] == epoch), None)
    if entry is None:
        known = [x["epoch"] for x in manifest["epochs"]]
        raise ValueError(f"epoch {epoch} not in manifest (has {known})")
    if "shards" not in entry:
        raise ValueError(
            "manifest predates shard digests (version "
            f"{manifest.get('version')}); re-export to verify integrity"
        )
    want = {s["file"]: s for s in entry["shards"]}
    epoch_dir = os.path.join(out_dir, entry["path"])
    got = {s["file"]: s for s in _digest_shard_files(spark, epoch_dir)}
    problems = []
    for f in sorted(set(want) - set(got)):
        problems.append(f"missing shard {f}")
    for f in sorted(set(got) - set(want)):
        problems.append(f"unexpected shard {f}")
    for f in sorted(set(want) & set(got)):
        if want[f]["bytes"] != got[f]["bytes"]:
            problems.append(
                f"shard {f}: {got[f]['bytes']} bytes, manifest says "
                f"{want[f]['bytes']} (truncated or padded copy)"
            )
        elif want[f]["md5"] != got[f]["md5"]:
            problems.append(f"shard {f}: content digest mismatch")
    if problems:
        raise ValueError(
            f"epoch {epoch} failed integrity verification: "
            + "; ".join(problems)
        )
    return {
        "shards": len(want),
        "bytes": int(sum(s["bytes"] for s in want.values())),
    }


def read_epoch_sequences(
    spark,
    out_dir: str,
    epoch: int,
    after_seq: int | None = None,
    verify: bool = False,
) -> DataFrame:
    """Resume-aware epoch reader: the sequences of ``epoch`` from an
    ``export_training_epochs`` dataset, optionally strictly after a
    resume cursor's ``after_seq``. Validates the request against the
    manifest (unknown epoch or a tar-format export fail loudly — the
    tar form is for WebDataset dataloaders, which resume by shard).
    The filter pushes down to the range-partitioned parquet, so a
    late-epoch resume scans only the remaining shards.
    ``verify=True`` first checks every shard's bytes against the
    manifest digests (``verify_epoch``) and refuses corrupt copies."""
    import json
    import os

    if verify:
        verify_epoch(spark, out_dir, epoch)
    with open(os.path.join(out_dir, "_manifest.json")) as fh:
        manifest = json.load(fh)
    entry = next((x for x in manifest["epochs"] if x["epoch"] == epoch), None)
    if entry is None:
        known = [x["epoch"] for x in manifest["epochs"]]
        raise ValueError(f"epoch {epoch} not in manifest (has {known})")
    if manifest["shard_format"] != "parquet":
        raise ValueError(
            "read_epoch_sequences resumes the parquet form; this export "
            f"is {manifest['shard_format']!r}"
        )
    df = spark.read.parquet(os.path.join(out_dir, entry["path"]))
    if after_seq is not None:
        df = df.filter(F.col("seq_id") > after_seq)
    return df

"""Deduplication operators.

Reference surface (SURVEY A1/A4/J4/T2): stage-boundary ``sort -u``,
Cassandra last-write-wins upsert, and the 25-day anti-join window.

Training-data-pipeline extensions (BASELINE.json north star): exact
hash dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard, embedding
cosine near-dup — each designed so the heavy side shuffles once on a
short key and small sides broadcast.
"""

from __future__ import annotations

# Module-level on purpose: the pandas_udf decorator resolves the kernel's
# postponed (PEP 563) ``pd.Series`` annotations against MODULE globals, so a
# function-local import breaks type-hint inspection.
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sstable_migrator_spark.functions import text as TX
from sstable_migrator_spark.functions import vectors as VX
from sstable_migrator_spark.operators.graph import connected_components

# --- reference-surface dedup ----------------------------------------------


def distinct_rows(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """A1 — ``sort -u`` analog. dropDuplicates, not orderBy+distinct:
    dedup in Spark needs no global sort (partial aggregation map-side,
    one shuffle on the key)."""
    return df.dropDuplicates(cols) if cols else df.distinct()


def upsert_latest(
    df: DataFrame, key_cols: list[str], order_col: str, tiebreak_cols: list[str] | None = None
) -> DataFrame:
    """A4 — Cassandra PK upsert semantics (last write wins on re-insert,
    App.java:143,154): keep the newest row per key. Deterministic
    tie-break so results are oracle-testable."""
    order = [F.col(order_col).desc()] + [F.col(c).desc() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def anti_join_history(
    today: DataFrame,
    history: DataFrame,
    key: str = "domain",
    date_col: str = "batch_date",
    window_days: int = 25,
    as_of=None,
) -> DataFrame:
    """J4/T2 — the 25-day dedup window
    (daily_certstream_download.sh:75-93). The reference runs ``comm -23``
    once per retained day; one left-anti join against the date-pruned
    history replaces the 25-pass loop. ``history`` should be
    date-partitioned so the window filter prunes partitions at scale.
    """
    as_of_expr = F.lit(as_of).cast("date") if as_of else F.current_date()
    recent = history.filter(
        F.col(date_col) >= F.date_sub(as_of_expr, window_days)
    ).select(key).distinct()
    return today.join(recent, key, "left_anti")


# --- extension: exact & near-duplicate document dedup ----------------------


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on the normalized-text fingerprint; keeps the lowest
    id per group (deterministic). One shuffle on a 32-char key."""
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col).asc())
    return (
        docs.withColumn("fingerprint", TX.fingerprint(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signature per document: word-k-shingles -> per-seed min
    of a portable 60-bit hash (the TX.hash64 recipe — conv(substring(
    md5(concat(seed|, s)),1,15),16,10) — the definition the DuckDB
    oracles mirror). Map-only: no explode, no shuffle."""
    # Stage the distinct shingle array ONCE as a column (shingling
    # stays a JVM expression, so every NULL/short-doc edge case is the
    # engine's own), then hand the array to the Arrow kernel below —
    # the 16-seed md5 fold was interpreted per element and dominated
    # every LSH-family entry (round 10, guide §4.2).
    staged = docs.withColumn("_sh", F.array_distinct(TX.shingles(F.col(text_col), shingle_k)))
    sig = _minhash_sig_kernel(num_hashes)(F.col("_sh"))
    return staged.select(F.col(id_col), F.col(text_col), sig.alias("signature"))


def _minhash_sig_kernel(num_hashes: int):
    """Arrow kernel twin of the per-seed expression fold:
    ``array_min(transform(_sh, s -> CAST(conv(substring(md5(concat(
    '{seed}|', s)), 1, 15), 16, 10) AS BIGINT)))`` for each seed.
    Higher-order-function lambdas are interpreted per ELEMENT (never
    codegen'd), so the fold paid ~16 interpreted md5 subtrees per
    shingle per row; here md5 runs in C (hashlib) ONCE per UNIQUE
    shingle per batch — the corpus shingle vocabulary is far smaller
    than the instance count, so most per-instance hashing disappears —
    and the per-doc minima are one ``np.minimum.reduceat``.

    Bit-identity argument (the recipe is ORACLE-PINNED; DuckDB twins
    replay it verbatim): the first 15 hex chars of an md5 digest are
    its top 60 bits, so the big-endian uint64 of ``digest[:8]`` ``>> 4`` ==
    ``CAST(conv(substring(hexdigest,1,15),16,10) AS BIGINT)`` exactly
    (both non-negative, < 2^60, no overflow); strings hash as UTF-8 in
    both engines; min over int64 is order-independent (unlike float
    folds, there is no accumulation-order concern). NULL semantics
    mirrored: a NULL shingle array (NULL text — shingles propagates the
    NULL) yields num_hashes NULLs, matching array_min over a NULL
    transform; the empty-array/NULL-element branches are defensive for
    direct kernel callers (unreachable via minhash_signatures, whose
    shingle arrays are non-empty with non-NULL elements whenever text
    is non-NULL). Only the ``_sh`` column crosses the boundary (guide
    §4.1/§4.2) — id/text stay in the JVM."""
    import numpy as np

    prefixes = [f"{seed}|".encode() for seed in range(num_hashes)]

    @F.pandas_udf("array<bigint>")
    def sig(sh: pd.Series) -> pd.Series:
        from hashlib import md5

        out: list = [None] * len(sh)
        uniq: dict = {}
        codes: list = []
        counts: list = []
        rows: list = []
        for i, arr in enumerate(sh):
            if arr is None:
                out[i] = [None] * num_hashes
                continue
            vals = [s for s in arr if s is not None]
            if not vals:
                out[i] = [None] * num_hashes
                continue
            rows.append(i)
            counts.append(len(vals))
            for s in vals:
                codes.append(uniq.setdefault(s, len(uniq)))
        if not rows:
            return pd.Series(out)
        # one (shingle, seed) digest prefix per 8 bytes, shingle-major
        buf = b"".join(
            md5(pre + b).digest()[:8]
            for b in (s.encode("utf-8") for s in uniq)
            for pre in prefixes
        )
        H = (np.frombuffer(buf, ">u8") >> 4).astype(np.int64).reshape(len(uniq), num_hashes)
        starts = np.zeros(len(counts), dtype=np.int64)
        np.cumsum(np.asarray(counts[:-1], dtype=np.int64), out=starts[1:])
        mins = np.minimum.reduceat(H[np.asarray(codes, dtype=np.int64)], starts, axis=0)
        for r, i in enumerate(rows):
            out[i] = mins[r].tolist()
        return pd.Series(out)

    return sig


def _check_bands(num_hashes: int, bands: int) -> int:
    if bands < 1 or num_hashes % bands != 0:
        # bands > num_hashes would make every band hash an empty
        # signature slice — IDENTICAL for all docs, silently degrading
        # the band join to an O(N^2) all-pairs pass; a non-divisor
        # silently drops trailing hashes from banding. Fail loudly.
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} exactly"
        )
    return num_hashes // bands


def _band_explode(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    extra: list[str] | None = None,
) -> DataFrame:
    """Explode a (id, signature[, extra...]) table into ``bands`` rows
    per document: (id[, extra...], signature, band, bucket). The ONE
    banding definition every LSH entry point (self-join, cross-corpus,
    persisted state) shares — so persisted band buckets always join
    against freshly computed ones."""
    rows_per_band = num_hashes // bands
    extra = extra or []
    return sigs.select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        F.col("signature"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at(
                                        "signature", b * rows_per_band + i + 1
                                    ).cast("string")
                                    for i in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, *extra, "signature", "bb.band", "bb.bucket")


def _first_band(sig_a, sig_b, bands: int, rows_per_band: int):
    """The FIRST band whose signature slices are equal. Every LSH join
    keeps a colliding pair only at this band instead of paying a
    dropDuplicates shuffle over the candidate set."""
    first = F.lit(bands - 1)
    for bi in range(bands - 2, -1, -1):
        s = bi * rows_per_band + 1
        same = F.slice(sig_a, s, rows_per_band) == F.slice(sig_b, s, rows_per_band)
        first = F.when(same, F.lit(bi)).otherwise(first)
    return first


def _est_jaccard(sig_a, sig_b, num_hashes: int):
    """Signature-estimated Jaccard: the share of positions where the
    two signatures agree, as one codegen'd sum (no per-element lambda).
    A NULL position (a NULL text's signature) counts as a non-match."""
    hits = sum(
        F.coalesce((sig_a[i] == sig_b[i]).cast("int"), F.lit(0))
        for i in range(num_hashes)
    )
    return hits / F.lit(float(num_hashes))


def build_dedup_state(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """The persisted incremental-dedup state for a corpus: ONE pass
    over the text computes both the exact-dup fingerprint and the
    MinHash signature, exploded to ``bands`` rows per document —
    ``(id, fp, signature, band, bucket)``. Persist to parquet (e.g.
    ``<corpus>/_dedup_state``) and feed it back as ``old_state=``: a
    daily judgement then costs O(day), never a corpus re-scan — the
    contract ``incremental_dedup`` advertises."""
    _check_bands(num_hashes, bands)
    sigs = minhash_signatures(docs, text_col, id_col, num_hashes, shingle_k)
    staged = sigs.select(
        id_col, TX.fingerprint(F.col(text_col)).alias("fp"), "signature"
    )
    return _band_explode(staged, id_col, num_hashes, bands, extra=["fp"])


def write_dedup_state_params(
    path: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    unicode_form: str | None = None,
) -> None:
    """Record the LSH parameters a persisted ``build_dedup_state``
    table was built with, as ``<path>/_params.json`` (underscore files
    are invisible to parquet readers). A state consumed with DIFFERENT
    banding silently yields wrong est_jaccard and missed/spurious
    candidate pairs — the sidecar lets ``check_dedup_state_params``
    refuse up front instead. ``unicode_form`` records whether the
    fingerprinted text was Unicode-normalized first: a state built on
    raw bytes probed with normalized text (or vice versa) silently
    misses denormal duplicates — the same class of drift, guarded the
    same way."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "_params.json"), "w") as fh:
        json.dump(
            {
                "num_hashes": num_hashes,
                "bands": bands,
                "shingle_k": shingle_k,
                "unicode_form": unicode_form,
            },
            fh,
        )


def check_dedup_state_params(
    path: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    unicode_form: str | None = None,
) -> dict | None:
    """Assert a persisted dedup state's recorded parameters match the
    caller's. Returns the recorded params, or None when the sidecar is
    absent (a pre-sidecar state — the in-plan signature-length assert
    in ``lsh_pairs_between_banded`` still backstops num_hashes there).
    A sidecar written before the ``unicode_form`` field existed is
    read as ``unicode_form = None`` (those states were necessarily
    built unnormalized). Raises ValueError on any mismatch."""
    import json
    import os

    p = os.path.join(path, "_params.json")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        got = json.load(fh)
    got.setdefault("unicode_form", None)
    want = {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_k": shingle_k,
        "unicode_form": unicode_form,
    }
    if got != want:
        raise ValueError(
            f"dedup state at {path} was built with {got}, "
            f"queried with {want} — rebuild the state or match the params"
        )
    return got


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs above an estimated Jaccard
    threshold.

    Scale path: signatures (narrow) -> explode to ``bands`` rows/doc ->
    shuffle on (band, band_hash) buckets -> within-bucket self-join ->
    distinct pairs -> signature-estimated Jaccard filter. The self-join
    shuffles only bucketed signature rows (num_hashes longs/doc), never
    the text. Returns (id_a, id_b, est_jaccard) with id_a < id_b.

    HOT BANDS: boilerplate (one template duplicated B times) puts B
    rows in ONE (band, bucket) and the self-join emits C(B,2) pairs —
    quadratic OUTPUT, which no AQE skew split can cap (measured in
    SCALE.md: the wall cliff is the pair count, not partition
    imbalance). ``max_bucket`` is the same df-cap discipline as
    ``winnow_pairs``/``exact_span_pairs``, adapted to keep
    connectivity instead of dropping it: buckets over the cap emit
    STAR pairs (the bucket's min-id member vs every other member,
    O(B) per bucket) instead of all C(B,2) pairs. Downstream
    clustering (``duplicate_clusters``) recovers the same components —
    star edges connect exactly the docs the clique edges did; what's
    traded away is exhaustive pair ENUMERATION inside hot buckets.
    The drop rule, exactly: every pair is emitted only at its FIRST
    matching band (the dedup discipline both paths share), so a
    member-member pair whose first matching band lands in a hot
    bucket is NOT emitted — not even when a LATER band's small
    bucket also witnesses it (the small path filters it there as a
    non-first band; the star path emits only rep-vs-member rows).
    Such a pair still lands in one component via its two star edges
    through the representative, PROVIDED both members pass the
    est_jaccard filter against the rep — a member similar to a
    non-rep member but not to the rep is the true recall loss. In
    boilerplate cliques members are near-identical, so in practice
    recall survives; q164 measures it, q217's SQL twin replays these
    exact semantics. Off (None) by default."""
    rows_per_band = _check_bands(num_hashes, bands)
    if max_bucket is not None and max_bucket < 2:
        raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
    sigs = minhash_signatures(docs, text_col, id_col, num_hashes, shingle_k)
    # Materialize the (tiny: id + num_hashes longs) signature table
    # before the self-join: both join sides would otherwise re-execute
    # the whole shingle+md5 expression tree (sf0.1: ~2x wall). At 100 TB
    # the signature table is persisted storage reused across runs;
    # localCheckpoint is the in-session stand-in.
    sigs = sigs.select(id_col, "signature").localCheckpoint()
    banded = _band_explode(sigs, id_col, num_hashes, bands)

    hot = None
    if max_bucket is not None:
        sizes = banded.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("_n")
        )
        tagged = banded.join(sizes, ["band", "bucket"]).localCheckpoint()
        hot = tagged.filter(F.col("_n") > max_bucket).drop("_n")
        banded = tagged.filter(F.col("_n") <= max_bucket).drop("_n")

    a = banded.alias("a")
    b = banded.alias("b")
    joined = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    sig_a, sig_b = F.col("a.signature"), F.col("b.signature")
    first_band = _first_band(sig_a, sig_b, bands, rows_per_band)
    pairs = joined.filter(F.col("a.band") == first_band).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        sig_a.alias("sig_a"),
        sig_b.alias("sig_b"),
    )
    if hot is not None:
        # star pairs for over-cap buckets: min-id representative vs
        # every other member — O(bucket) rows, connectivity preserved.
        # The SAME first-matching-band discipline as the small path
        # keeps the union duplicate-free without a pair-set shuffle: a
        # star row survives only at the pair's first matching band, so
        # either that band's bucket is hot (star emits, small path has
        # no rows there) or it is small (small path emits, star rows
        # at later bands are filtered) — never both
        reps = hot.groupBy("band", "bucket").agg(
            F.min(F.struct(F.col(id_col), F.col("signature"))).alias("_r")
        )
        star = (
            hot.join(reps, ["band", "bucket"])
            .filter(F.col(id_col) != F.col(f"_r.{id_col}"))
            .select(
                F.col("band"),
                F.col(f"_r.{id_col}").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.col("_r.signature").alias("sig_a"),
                F.col("signature").alias("sig_b"),
            )
        )
        star_first = _first_band(F.col("sig_a"), F.col("sig_b"), bands, rows_per_band)
        star = star.filter(F.col("band") == star_first).drop("band")
        pairs = pairs.unionByName(star)
    est = _est_jaccard(F.col("sig_a"), F.col("sig_b"), num_hashes)
    return (
        pairs.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.4,
    group_col: str | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for candidate pairs.

    Without ``group_col`` this is an O(N^2) self-join — correct but only
    for small N or as the verification stage after LSH blocking. With
    ``group_col`` (e.g. LSH bucket or source) pairs are generated within
    groups only.
    """
    grams = docs.select(
        F.col(id_col),
        *( [F.col(group_col)] if group_col else [] ),
        F.array_distinct(TX.shingles(F.col(text_col), n)).alias("grams"),
    )
    a, b = grams.alias("a"), grams.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if group_col:
        cond = cond & (F.col(f"a.{group_col}") == F.col(f"b.{group_col}"))
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.array_union(F.col("a.grams"), F.col("b.grams")))
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """SimHash fingerprint (bit-majority over token hashes), md5-nibble
    based so the oracle can reproduce it: bit i of a token = (hex nibble
    i of md5(token)) >= 8; document bit i = majority vote. md5 has 32
    hex nibbles, so at most 32 informative bits — more would silently
    vote every high bit to 0 for every document (universal banding
    buckets downstream = O(N^2) candidate blowup), hence the guard."""
    if not 1 <= bits <= 32:
        raise ValueError(f"bits={bits} must be in [1, 32] (md5 nibble count)")
    # md5 each token ONCE (staged column); the per-bit votes then only
    # slice nibbles out of the precomputed hex strings. Without staging,
    # tokenize+md5 would run `bits` times per row.
    staged = docs.withColumn(
        "_tokmd5",
        F.transform(TX.tokens(TX.normalize_text(F.col(text_col))), F.md5),
    )

    def _vote(i: int):
        # closure factory (see _hasher note in minhash_signatures)
        return lambda acc, h: acc + F.when(
            F.substring(h, i + 1, 1).isin(*"89abcdef"), F.lit(1)
        ).otherwise(F.lit(-1))

    votes = [
        F.aggregate(F.col("_tokmd5"), F.lit(0), _vote(i)) for i in range(bits)
    ]
    value = None
    for i, v in enumerate(votes):
        bit = F.when(v > 0, F.lit(1 << i)).otherwise(F.lit(0))
        value = bit if value is None else value + bit
    return staged.select(F.col(id_col), value.cast("long").alias("simhash"))


def simhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance <= ``max_hamming``.

    Scale path: the b-bit fingerprint is split into ``bands`` equal
    slices; by pigeonhole, any pair within hamming ``bands - 1`` shares
    at least one identical slice, so a shuffle on (band, slice_value)
    followed by a within-bucket self-join finds EVERY qualifying pair —
    exact, not probabilistic — while only fingerprint rows (one long per
    doc) ever shuffle. Requires ``max_hamming < bands``.

    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    # materialize fingerprints (one long per doc) so the banded
    # self-join doesn't execute the md5-vote tree twice — see the
    # matching note in minhash_lsh_pairs
    sh = simhash(docs, text_col, id_col, bits).localCheckpoint()
    return hamming_near_dup_pairs(
        sh, hash_col="simhash", id_col=id_col,
        bits=bits, bands=bands, max_hamming=max_hamming,
    )


def hamming_near_dup_pairs(
    hashes: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    bits: int = 64,
    bands: int = 8,
    max_hamming: int = 7,
) -> DataFrame:
    """Generic banded-hamming near-dup join over ANY precomputed b-bit
    fingerprint column (SimHash text prints, perceptual image hashes,
    audio chromaprints...): split into ``bands`` equal slices; by
    pigeonhole any pair within hamming ``bands - 1`` shares at least
    one identical slice, so a shuffle on (band, slice) + within-bucket
    self-join finds EVERY qualifying pair — exact, not probabilistic.
    Requires ``max_hamming < bands``. Returns (id_a, id_b, hamming)
    with id_a < id_b. Only (id, long-hash) rows ever shuffle."""
    if bits % bands != 0:
        raise ValueError("bits must divide evenly into bands")
    if max_hamming >= bands:
        raise ValueError("band join is only complete for max_hamming < bands")
    width = bits // bands
    mask = (1 << width) - 1
    # rename in its own projection: aliasing and slicing "_h" in one
    # select would be a lateral alias reference, which explode rejects.
    # Band explode and first-band arithmetic are assembled as SQL
    # strings (one py4j round trip each instead of ~10 per band —
    # measured ~0.3 s of construction per call, 4+ catalog entries);
    # inline(array(struct...)) is the same generator explode() plans.
    hashes = hashes.select(F.col(id_col), F.col(hash_col).alias("_h"))
    bands_sql = ", ".join(
        f"struct({b} AS band, (shiftright(_h, {b * width}) & {mask}) AS val)"
        for b in range(bands)
    )
    banded = hashes.selectExpr(id_col, "_h", f"inline(array({bands_sql}))")
    a, b = banded.alias("a"), banded.alias("b")
    joined = a.join(
        b,
        F.expr(f"a.band = b.band AND a.val = b.val AND a.{id_col} < b.{id_col}"),
    )
    # A pair collides in up to `bands` buckets; instead of a
    # dropDuplicates shuffle over the (large) candidate set, keep each
    # pair only at its FIRST matching band — pure bit arithmetic on the
    # xor of the two fingerprints, no extra exchange.
    xor_sql = "(a._h ^ b._h)"
    first_band_sql = (
        "CASE "
        + " ".join(
            f"WHEN (shiftright({xor_sql}, {bi * width}) & {mask}) = 0 THEN {bi}"
            for bi in range(bands - 1)
        )
        + f" ELSE {bands - 1} END"
    )
    keep = F.expr(
        f"a.band = ({first_band_sql}) "
        f"AND CAST(bit_count({xor_sql}) AS INT) <= {max_hamming}"
    )
    return joined.filter(keep).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.expr(f"CAST(bit_count({xor_sql}) AS INT)").alias("hamming"),
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    block_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine >= t).

    All-pairs without blocking — use the LSH signature from
    ``simsearch.lsh_bucketize`` as ``block_col`` at scale so the
    self-join happens per bucket.

    Round 11 measured the Arrow serve-path kernel
    (``simsearch._score_candidates_cosine``) on this path and REVERTED
    it: the catalog entry (q45) caps the block at 60 vectors (~1.8k
    pairs), where one extra Python stage dispatch cost 0.21 -> 0.52 s
    exec at sf0.1 — the interpreted ``VX.cosine`` fold on a few
    thousand rows is microseconds. For unbounded pair volumes route
    through the kernel instead (the serve paths already do).
    """
    base = embeddings.select(
        F.col(id_col), F.col(vec_col).alias("v"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    )
    a, b = base.alias("a"), base.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    cos = VX.cosine(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS (connected
    components): every doc in a component gets ``cluster_id`` = the
    minimum doc id reachable through the pair graph, plus an
    ``is_canonical`` keep/drop flag (the survivor is the min id).
    Returns ``(doc_id, cluster_id, is_canonical)``.

    This is the step a real training-data dedup pipeline needs after
    LSH/simhash pair generation — pairs alone over-delete (A~B, B~C
    must keep exactly one of {A,B,C}, not zero).

    A thin wrapper over ``graph.connected_components`` (star
    contraction over the PAIR GRAPH ONLY, never the documents, with
    the driver union-find cutover for small pair graphs); it inherits
    that operator's contract: a pair with a NULL id is dropped, and a
    doc that appears only in self-pairs is its own cluster."""
    cc = connected_components(pairs, src=id_a, dst=id_b)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


def lsh_plan(
    jaccard_threshold: float,
    num_hashes: int = 16,
    max_bands: int | None = None,
) -> dict:
    """Pick LSH banding for a target Jaccard threshold — the parameter
    question every MinHash deployment answers before running
    ``minhash_lsh_pairs``: with b bands of r rows the collision
    probability is ``p(s) = 1 - (1 - s^r)^b``, an S-curve whose
    midpoint sits near ``(1/b)^(1/r)``. This chooses, among the exact
    divisors of ``num_hashes`` (optionally capped by ``max_bands``),
    the banding whose midpoint lands closest to the target — then
    reports what that banding actually does: collision probability AT
    the threshold, at 0.1 below (false-positive pressure on the band
    join) and 0.1 above (recall headroom). Driver-side pure function,
    O(divisors); no cluster work. Returns ``{bands, rows_per_band,
    midpoint, p_at_threshold, p_below, p_above}``.

    Use the probabilities to size the verify stage: p_below is the
    fraction of just-under-threshold pairs the band join will emit as
    candidates (they cost signature comparisons, not text), p_above is
    the worst-case recall floor for pairs just over it. q164 measures
    the realized recall/precision of the default (16, 4) plan."""
    if not 0.0 < jaccard_threshold < 1.0:
        raise ValueError(
            f"jaccard_threshold must be in (0, 1), got {jaccard_threshold}"
        )
    if num_hashes < 2:
        raise ValueError(f"num_hashes must be >= 2, got {num_hashes}")
    if max_bands is not None and max_bands < 1:
        # b=1 always divides num_hashes, so max_bands >= 1 guarantees
        # at least one candidate banding; below that every divisor is
        # filtered out and the unpack would fail opaquely
        raise ValueError(f"max_bands must be >= 1, got {max_bands}")

    def p_collide(s: float, b: int, r: int) -> float:
        return 1.0 - (1.0 - s**r) ** b

    best = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        if max_bands is not None and b > max_bands:
            continue
        r = num_hashes // b
        if r < 1:
            continue
        mid = (1.0 / b) ** (1.0 / r)
        key = (abs(mid - jaccard_threshold), b)  # ties -> fewer bands
        if best is None or key < best[0]:
            best = (key, b, r, mid)
    _, b, r, mid = best
    t = jaccard_threshold
    return {
        "bands": b,
        "rows_per_band": r,
        "midpoint": mid,
        "p_at_threshold": p_collide(t, b, r),
        "p_below": p_collide(max(t - 0.1, 0.0), b, r),
        "p_above": p_collide(min(t + 0.1, 1.0), b, r),
    }


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dup dedup with a KEEP-BEST policy: resolve the pair graph
    into clusters (``duplicate_clusters``) and keep, per cluster, the
    document with the HIGHEST ``quality_col`` (ties -> smallest id)
    instead of ``duplicate_clusters``' min-id canonical. This is how a
    production corpus actually survives dedup — when a boilerplate
    template has one well-filled instance and many stubs, the survivor
    should be the best copy, not whichever got the smallest id.
    Documents outside the pair graph are their own cluster and always
    kept. Returns ``(id, cluster_id, <quality_col>, is_kept)`` for
    every input document.

    ``quality_col`` must be non-null and integer-comparable (a NULL
    inside the argmax struct would make the winner engine-dependent —
    coalesce upstream). For SOURCE-PRIORITY dedup ("keep the curated
    copy over the CommonCrawl one, then by quality") encode the policy
    into the column: ``priority * K + quality`` with K above the
    quality range — the argmax is ordering-generic, so no new operator
    is needed.

    Plan: ``duplicate_clusters`` runs over the PAIR GRAPH ONLY (sparse
    — |edges| ~ |dups|; a pair with a NULL id is dropped there); docs
    join the O(dup-docs) label table once on id (broadcastable whenever the dup set is small relative to the
    corpus), then one shuffle on cluster_id computes the per-cluster
    argmax as ``max(struct(quality, -id))`` — no window, map-side
    partial max. At 100 TB both exchanges carry (id, cluster, quality)
    triples only, never text."""
    clusters = duplicate_clusters(pairs, id_a=id_a, id_b=id_b).select(
        F.col("doc_id").alias(id_col), "cluster_id"
    )
    labeled = (
        docs.select(F.col(id_col).cast("long").alias(id_col), quality_col)
        .join(clusters, id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
    )
    best = labeled.groupBy("cluster_id").agg(
        F.max(
            F.struct(F.col(quality_col).alias("q"), (-F.col(id_col)).alias("nid"))
        ).alias("_b")
    ).select("cluster_id", (-F.col("_b.nid")).alias("_win"))
    return labeled.join(best, "cluster_id").select(
        id_col,
        "cluster_id",
        quality_col,
        (F.col(id_col) == F.col("_win")).alias("is_kept"),
    )


def strip_contaminated_spans(
    docs: DataFrame,
    eval_docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    merged_intervals: bool = False,
) -> DataFrame:
    """Benchmark decontamination by DELETION — the span treatment where
    ``contamination_flags`` (q79's operator form) only flags: every
    token position covered by a verbatim ``k``-token window that occurs
    ANYWHERE in the held-out eval set is cut from the training
    document, and the survivors re-join into the cleaned text. Doc-level
    dropping (the flags path) throws away a whole document for one
    leaked sentence; span deletion keeps the rest — the same trade
    ``strip_duplicated_spans`` makes for ExactSubstr dedup, pointed at
    an eval set instead of the corpus itself. Returns
    ``(id, clean_text, n_tokens, n_removed)`` over the
    lowercase/whitespace-normalized token stream.

    Plan: the eval side's window keys (md5 of window text — content-
    keyed, engine-portable) are DISTINCT'd and broadcast, so the corpus
    side never shuffles for the probe; the only data-sized exchange is
    the per-doc rollup of matching window starts. The map-side rebuild
    (interval union -> kept tokens) is shared with
    ``strip_duplicated_spans``, including its ``merged_intervals``
    Arrow kernel for pathological mostly-covered documents. At 100 TB
    the eval set is fixed-size (benchmarks are MBs), so this is one
    broadcast + one (id, start) exchange — strictly cheaper than the
    self-dedup form."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    staged = _stage_tokens(docs, text_col, id_col)
    wins = _window_keys(staged, id_col, k)
    eval_keys = (
        _window_keys(_stage_tokens(eval_docs, text_col, id_col), id_col, k)
        .select("wkey")
        .distinct()
    )
    hit_starts = (
        wins.join(F.broadcast(eval_keys), "wkey")
        .groupBy(id_col)
        .agg(F.collect_list("start").alias("_starts"))
    )
    return _rebuild_stripped(staged, hit_starts, k, id_col, docs, merged_intervals)


def paragraph_dedup(
    paras: DataFrame,
    doc_col: str = "doc_id",
    pos_col: str = "pos",
    para_col: str = "para",
    joiner: str = " ",
    pos_cap: int = 4096,
) -> DataFrame:
    """Corpus-wide paragraph-level dedup (the RefinedWeb/CCNet recipe the
    reference's stage-boundary `sort -u` (start.sh:8) approximates at
    whole-record granularity): every paragraph that already appeared
    anywhere earlier in the corpus is dropped, docs are reassembled from
    their surviving paragraphs in order, and fully-duplicate docs vanish.

    "Earlier" is the total order (doc_id, pos), encoded as the scalar
    ``doc_id * pos_cap + pos`` (requires pos < pos_cap) so the
    first-occurrence winner is a plain ``min`` — a map-side-partial
    aggregation that stays cheap even when one boilerplate paragraph
    occurs a billion times (the classic skew case where a
    row_number-over-hash window would sort the whole hot bucket on one
    task). Shuffles: one hash agg on the paragraph hash, one join back
    on it (both sides hash-partitioned the same way), one final agg on
    doc_id for reassembly. Only (ids, md5) move through the first two;
    paragraph text is shuffled once, for reassembly.
    """
    # the scalar key is only a total order if pos < pos_cap — enforce it
    # IN the expression (raise_error evaluates per row, no extra pass)
    # rather than trusting the docstring; and compute in long so a
    # 32-bit doc_id * pos_cap cannot overflow
    guarded_pos = F.when(
        F.col(pos_col) >= pos_cap,
        F.raise_error(
            F.concat(
                F.lit(f"paragraph position exceeds pos_cap={pos_cap}: "),
                F.col(pos_col).cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.col(pos_col).cast("long"))
    h = paras.select(
        F.col(doc_col),
        F.col(pos_col),
        F.col(para_col),
        F.md5(F.col(para_col)).alias("_ph"),
        (F.col(doc_col).cast("long") * pos_cap + guarded_pos).alias("_k"),
    )
    firsts = h.groupBy("_ph").agg(F.min("_k").alias("_first_k"))
    kept = (
        h.join(firsts, "_ph")
        .filter(F.col("_k") == F.col("_first_k"))
        .select(doc_col, pos_col, para_col)
    )
    return kept.groupBy(doc_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(pos_col, para_col))),
                lambda x: x[para_col],
            ),
            joiner,
        ).alias("clean_text"),
        F.count("*").alias("kept_chunks"),
    )


def semantic_dedup(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023 recipe): assign
    every vector to its nearest centroid cell (map-only literal
    expression, ``simsearch.ivf_assign``), then within each cell flag a
    vector as duplicate iff some LOWER-ID cell-mate has cosine >=
    threshold (keep-first canonicalization). Returns
    ``(id, cell, is_dup)``.

    Scale shape: the cluster step bounds pair cost to
    sum_c |cell_c|^2 — at 100 TB you raise n_cells so cells stay
    ~1-10k vectors (the paper uses 50k clusters for LAION-scale), and
    the only shuffles are the cell-keyed self-join and the final
    per-id rollup; no all-pairs stage exists anywhere. The left join
    carries the cosine predicate in the ON clause so non-matching
    cell-mates are dropped before the aggregation.

    Cross-engine float note (accepted ulp risk): the dup flag is a
    float-cosine >= threshold compare. This kernel accumulates dot
    products via BLAS (pairwise/blocked summation); a sequential-fold
    engine (e.g. the DuckDB oracle) can differ in the last few ulps,
    so a similarity landing within ~1e-12 of the threshold could flip
    ``is_dup`` across engines. No quantization is applied because the
    boundary is empirically unoccupied: tests assert every within-cell
    pair at the test SFs clears the threshold by a wide margin
    (tests/test_dedup.py::test_semantic_dedup_threshold_margin). For
    an adversarial corpus, round sims to a fixed decimal on BOTH
    engines before the compare.
    """
    import numpy as np
    import pandas as pd

    from sstable_migrator_spark.operators.simsearch import ivf_assign

    # One shuffle total: assignment is map-only (numpy batch matmul in
    # ivf_assign), then the within-cell pairwise pass runs as a
    # vectorized applyInPandas kernel grouped by cell — the SAME
    # cell-keyed exchange the persisted IVF layout (partitionBy(cell))
    # gives for free at 100 TB. Per cell the kernel is one BLAS
    # rank-update (|cell| x dim unit rows @ transpose) and a strictly-
    # lower-triangular any() — the expression-join formulation paid an
    # interpreted zip_with/aggregate lambda per PAIR (~seconds at 2k
    # rows); this does identical flops per batch in native code. Cell
    # size is the memory knob: |cell|^2 doubles must fit a task (~1-10k
    # rows per cell at scale -> raise n_cells, exactly the SemDeDup
    # paper's 50k-clusters-for-LAION recipe).
    assigned = ivf_assign(embeddings, centroids, vec_col, "cell").select(
        F.col(id_col), F.col("cell"), F.col(vec_col)
    )

    # derive the id column's type from the actual schema (ids are not
    # always long — the ivf_pq_topk precedent in simsearch.py)
    id_type = embeddings.schema[id_col].dataType.simpleString()

    def flag_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({id_col: [], "cell": [], "is_dup": []})
        pdf = pdf.sort_values(id_col)
        v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        n = np.linalg.norm(v, axis=1, keepdims=True)
        u = np.divide(v, n, out=np.zeros_like(v), where=n > 0)
        sims = u @ u.T
        dup = np.tril(sims >= threshold, k=-1).any(axis=1)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "cell": pdf["cell"].to_numpy(),
                "is_dup": dup,
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        flag_cell, f"{id_col} {id_type}, cell int, is_dup boolean"
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    threshold_num: int = 3,
    threshold_den: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT set-similarity join (PPJoin-style prefix filtering): all
    doc pairs with token-set Jaccard >= threshold, found WITHOUT an
    all-pairs pass and WITHOUT the probabilistic misses of LSH.

    Recipe (Chaudhuri/Xiao prefix-filter family):
    1. global token order, rarest first (df asc, token asc) — computed
       over the VOCAB as a distributed two-phase rank (range-partition
       by (df, tok), per-partition offsets via one row-per-partition
       driver pass, bounded within-partition row_number) — never a
       single-task global sort, because a web-scale vocabulary is
       hundreds of millions of types — then broadcast back;
    2. each doc's token set becomes a sorted rank array; any pair with
       Jaccard >= t MUST share a token inside each other's first
       ``p = n - ceil(t*n) + 1`` ranks (pigeonhole), so only prefix
       tokens are exploded and joined — and prefixes hold the RAREST
       tokens, so candidate buckets stay small by construction;
    3. candidates verify exactly with integer math:
       den*|inter| >= num*|union|  (never a float threshold).

    The threshold is a rational num/den so the prefix length
    ``ceil(num*n/den)`` is computed in integer arithmetic — no
    0.6*n float-ulp edge anywhere. Shuffles: vocab df rollup, prefix
    token join, pair distinct — the corpus text itself never shuffles,
    only (doc, rank) ints. Returns (id_a, id_b, inter, union, jaccard).
    """
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(TX.tokens(F.lower(F.col(text_col))))).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df_"))
    # Distributed rarest-first rank (corpus.py shard-packing recipe): a
    # web-scale vocabulary is hundreds of millions of types, so a global
    # Window.orderBy (one-task sort of the whole vocab) is out.
    #   1. repartitionByRange(df_, tok) — global (df asc, tok asc) order
    #      becomes partition-id order;
    #   2. per-partition type counts -> driver (one row PER PARTITION)
    #      -> exclusive prefix offsets broadcast back;
    #   3. bounded per-partition row_number + offset = exact global rank.
    parts = max(docs.sparkSession.sparkContext.defaultParallelism, 1)
    ranged = (
        vocab.repartitionByRange(parts, "df_", "tok")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()  # count pass + rank pass both scan it
    )
    counts = sorted(
        (r["_pid"], r["c"])
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    offsets, acc = {}, 0
    for pid, c in counts:
        offsets[pid] = acc
        acc += c
    off_df = F.broadcast(
        docs.sparkSession.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _off long"
        )
    )
    rank_w = Window.partitionBy("_pid").orderBy(F.col("df_").asc(), F.col("tok").asc())
    ranked_vocab = (
        ranged.join(off_df, "_pid")
        .select("tok", (F.col("_off") + F.row_number().over(rank_w)).cast("int").alias("rnk"))
    )
    doc_ranks = (
        toks.join(F.broadcast(ranked_vocab), "tok")
        .groupBy("doc")
        .agg(F.sort_array(F.collect_set("rnk")).alias("ranks"))
        .withColumn("n", F.size("ranks"))
        .localCheckpoint()  # feeds prefix explode AND both verify sides
    )
    num, den = threshold_num, threshold_den
    # p = n - ceil(num*n/den) + 1, all integer
    p = (F.col("n") - ((F.col("n") * num + (den - 1)) / den).cast("int") + 1).cast("int")
    prefixes = doc_ranks.select(
        "doc", F.explode(F.slice("ranks", F.lit(1), p)).alias("rnk")
    )
    a, b = prefixes.alias("a"), prefixes.alias("b")
    cand = (
        a.join(b, (F.col("a.rnk") == F.col("b.rnk")) & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )
    ra = doc_ranks.select(F.col("doc").alias("id_a"), F.col("ranks").alias("ra"),
                          F.col("n").alias("na"))
    rb = doc_ranks.select(F.col("doc").alias("id_b"), F.col("ranks").alias("rb"),
                          F.col("n").alias("nb"))
    verified = (
        cand.join(ra, "id_a")
        .join(rb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("ra", "rb")))
        .withColumn("union", F.col("na") + F.col("nb") - F.col("inter"))
        .filter(F.col("inter") * den >= F.col("union") * num)
    )
    return verified.select(
        "id_a", "id_b",
        F.col("inter").cast("long").alias("inter"),
        F.col("union").cast("long").alias("union"),
        (F.col("inter").cast("double") / F.col("union")).alias("jaccard"),
    )


def _span_window_keys(toks: DataFrame, k: int) -> DataFrame:
    """(doc, tk) -> per-doc DISTINCT k-token window keys
    ``(doc, wkey)`` — the Arrow twin of the oracle-pinned expression
    ``explode(transform(sequence(1, n-k+1), i ->
    md5(array_join(slice(tk, i, k), ' ')))) ... distinct``.

    Bit-identity: tokens from ``TX.tokens`` contain no spaces, so for
    a single-space separator ``array_join(slice(tk, i, k), ' ')`` IS
    the substring ``joined[off_i : off_{i+k-1} + len(tk_{i+k-1})]`` of
    the once-joined text (offset arithmetic in CHARACTERS — the
    substring is encoded to UTF-8 only at hash time, so multi-byte
    code points are safe); hashlib and Spark's md5 both hash UTF-8
    bytes and print lowercase hex. Dedup per doc happens here (a set),
    exactly the scope the old global (doc, wkey) distinct had — which
    also deletes that exchange, the plan's biggest (every window row).
    Pinned by tests/test_dedup.py::test_span_key_kernel_bit_identity.
    """
    doc_type = toks.schema["doc"].dataType.simpleString()

    def _win_keys(batches):
        from hashlib import md5

        import pandas as pd

        for pdf in batches:
            out_doc: list = []
            out_key: list = []
            for doc, tk in zip(pdf["doc"], pdf["tk"]):
                if tk is None or len(tk) < k:
                    continue
                tk = list(tk)
                joined = " ".join(tk)
                offs = []
                pos = 0
                for t in tk:
                    offs.append(pos)
                    pos += len(t) + 1
                seen = set()
                for i in range(len(tk) - k + 1):
                    w = joined[offs[i] : offs[i + k - 1] + len(tk[i + k - 1])]
                    seen.add(md5(w.encode("utf-8")).hexdigest())
                out_doc.extend([doc] * len(seen))
                out_key.extend(seen)
            yield pd.DataFrame({"doc": out_doc, "wkey": out_key})

    return toks.mapInPandas(_win_keys, f"doc {doc_type}, wkey string")


def exact_span_pairs(
    docs: DataFrame,
    k: int = 8,
    max_df: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr-style span dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): two documents sharing
    ANY verbatim k-token window contain a duplicated span — the
    criterion that catches copied paragraphs which whole-doc
    fingerprints (q40) and near-dup signatures (q43) both miss when the
    rest of the documents differ.

    Recipe: every doc explodes into its k-token windows, keyed by
    md5 of the joined window text (content-keyed and engine-portable —
    no hash-function parity concerns); windows are distinct per doc;
    window keys seen in more than ``max_df`` docs are dropped as
    boilerplate (site chrome, licenses) — the same bucket-fanout cap
    LSH banding applies, and the suffix-array paper's own preprocessing
    prunes. Surviving keys group into doc-id sets (bounded by max_df;
    rows sharing one id count once, so no ``(a, a)`` pairs) and emit
    in-bucket pairs via an array comprehension — no self-join.
    Returns ``(id_a, id_b, shared_windows)``.

    Scale shape: window hashing is map-only; the shuffles are the
    df-cap rollup and the final pair rollup — and they move 16-byte
    keys + ids, never text. Pair cost is bounded by
    sum_w C(df_w, 2) <= C(max_df, 2) * |windows|, so the cap is the
    knob, exactly like LSH bucket caps. The full Lee et al. pipeline
    additionally merges adjacent shared windows into maximal spans;
    ``shared_windows`` is monotone in span length (a shared run of L
    tokens yields L-k+1 shared windows), so the count IS the span
    signal at fixed k.

    Round-11 (§4.2/§2.4): window keys come from an Arrow kernel
    instead of the explode(transform(md5(array_join(slice...))))
    expression — HOF lambdas are interpreted per WINDOW, so every
    window paid an interpreted array_join+md5 subtree. The kernel
    joins each doc's tokens ONCE, takes windows as substring slices of
    the joined text (token-offset arithmetic, no per-window list
    slicing), and runs md5 in C — bit-identical keys, since
    array_join(slice(tk, i, k), ' ') IS joined[off_i : off_{i+k-1} +
    len(tk_{i+k-1})] for a single-space separator and both engines
    hash UTF-8 and print lowercase hex. Per-doc dedup happens in the
    kernel (a set), which also deletes the old (doc, wkey) distinct —
    the biggest exchange in the plan (every window row) — leaving the
    df-cap groupBy as the only window-sized shuffle.
    """
    toks = docs.select(
        F.col(id_col).alias("doc"),
        TX.tokens(F.lower(F.col(text_col))).alias("tk"),
    ).filter(F.size("tk") >= k)
    wins = _span_window_keys(toks, k)
    grouped = (
        wins.groupBy("wkey")
        .agg(F.sort_array(F.collect_set("doc")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= max_df))
    )
    pairs = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (a, i) -> "
                "transform(slice(ds, i + 2, size(ds)), b -> "
                "struct(a AS id_a, b AS id_b))))"
            )
        ).alias("p")
    ).select("p.*")
    return pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("shared_windows")
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    w: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every k-token gram, slide a w-gram window
    over the hash sequence, and select each window's MINIMUM (rightmost
    occurrence on ties — the paper's rule, which minimizes selections
    on runs). The guarantee: any verbatim match of at least w + k - 1
    tokens shares a selected fingerprint, at an expected density of
    2/(w+1) — a tunable middle ground between exact_span_pairs (every
    window, k-token guarantee, dense) and whole-doc MinHash (sparse, no
    span guarantee). Returns ``(doc, pos, fp)`` — gram position kept so
    callers can localize the matching span.

    Entirely expression-level (transform/slice/array_min) — the
    extraction is map-only over each document; nothing shuffles until
    the caller aggregates fingerprints."""
    toks = docs.select(
        F.col(id_col).alias("doc"),
        TX.tokens(F.lower(F.col(text_col))).alias("tk"),
    ).filter(F.size("tk") >= k + w - 1)
    grams = toks.select(
        "doc",
        F.transform(
            F.sequence(F.lit(1), F.size("tk") - (k - 1)),
            lambda i: TX.hash64(F.array_join(F.slice("tk", i, k), " "), seed=13),
        ).alias("gh"),
    )
    sel = grams.select(
        "doc",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("gh") - (w - 1)),
                lambda i: F.struct(
                    (
                        i
                        + F.lit(w)
                        - F.array_position(
                            F.reverse(F.slice("gh", i, w)),
                            F.array_min(F.slice("gh", i, w)),
                        )
                    ).cast("long").alias("pos"),
                    F.array_min(F.slice("gh", i, w)).alias("fp"),
                ),
            )
        ).alias("sel"),
    )
    return sel.select("doc", F.explode("sel").alias("s")).select(
        "doc", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp")
    )


def winnow_pairs(
    docs: DataFrame,
    k: int = 4,
    w: int = 5,
    max_df: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pair mining over winnowed fingerprints: docs sharing selected
    fingerprints, with the same boilerplate df-cap and in-bucket
    array-comprehension pairing as ``exact_span_pairs`` (no self-join).
    For pairing, the winnow selection reduces to the DISTINCT set of
    window minima — the rightmost-position tie rule only affects WHERE
    a fingerprint sits, never WHICH values are selected — so the pair
    path skips position bookkeeping entirely. Returns
    ``(id_a, id_b, shared_fps)``. Scale: fingerprint explode is
    map-only at 2/(w+1) density; shuffles move (fp, id) pairs only;
    pair cost bounded by C(max_df, 2) per fingerprint."""
    toks = docs.select(
        F.col(id_col).alias("doc"),
        TX.tokens(F.lower(F.col(text_col))).alias("tk"),
    ).filter(F.size("tk") >= k + w - 1)
    # stage the gram-hash array in its own projection so each gram is
    # hashed once, not once per window it appears in
    grams = toks.select(
        "doc",
        F.transform(
            F.sequence(F.lit(1), F.size("tk") - (k - 1)),
            lambda i: TX.hash64(F.array_join(F.slice("tk", i, k), " "), seed=13),
        ).alias("gh"),
    )
    fps = grams.select(
        "doc",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("gh") - (w - 1)),
                    lambda i: F.array_min(F.slice("gh", i, w)),
                )
            )
        ).alias("fp"),
    )
    grouped = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_set("doc")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= max_df))
    )
    pairs = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (a, i) -> "
                "transform(slice(ds, i + 2, size(ds)), b -> "
                "struct(a AS id_a, b AS id_b))))"
            )
        ).alias("p")
    ).select("p.*")
    return pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("shared_fps")
    )


def strip_duplicated_spans(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    merged_intervals: bool = False,
) -> DataFrame:
    """ExactSubstr REMOVAL (Lee et al. 2022's dedup-by-deletion — the
    treatment q138's pair miner only detects): every token position
    covered by a verbatim ``k``-token window that occurs >= 2 times in
    the corpus (across documents OR repeated within one) is DELETED;
    the survivors re-join into the cleaned text. Returns
    ``(id, clean_text, n_tokens, n_removed)`` over the
    lowercase/whitespace-normalized token stream (the same stream the
    window keys hash — the oracle mirrors it; callers wanting original
    casing apply the positions to their own tokenization).

    Plan: one window explode keyed by md5 of the window TEXT
    (content-keyed — no hash-function parity needed), one count
    aggregation to find duplicated keys, one join back to mark
    duplicated starts, one per-doc rollup of those starts (bounded by
    the doc's own window count), then pure array expressions rebuild
    the text map-side: coverage = union of [start, start+k) intervals,
    kept = tokens whose position escapes it. Shuffles carry 16-byte
    keys + ids only; per-doc state is O(doc length). The default
    in-doc rebuild is O(n + covered) per doc: a hash-based
    array_except finds the kept positions in one pass, and untouched
    docs (no duplicated window) skip the per-element work entirely.
    ``merged_intervals=True`` swaps ONLY the final map-side rebuild
    for an Arrow-batched mapInPandas kernel that sorts the duplicated
    starts and folds them into disjoint intervals — O(n + s log s)
    per doc — with hash-identical output; the corpus-side plan (the
    two 16-byte-key shuffles) is the same either way."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    staged = _stage_tokens(docs, text_col, id_col)
    wins = _window_keys(staged, id_col, k)
    # Duplicated-window detection in ONE pass over the exploded
    # windows (round-10, guide §2.4): a count() window partitioned by
    # wkey marks every occurrence with its corpus-wide frequency, so
    # the duplicate filter happens on the SAME shuffled pass that
    # counts — the previous two-branch form (groupBy count -> filter
    # -> join back) exploded and md5-keyed every window TWICE and paid
    # a second wkey exchange plus a sort-merge join. Same output, one
    # fewer data-sized exchange, one window-key pass instead of two.
    wcnt = Window.partitionBy("wkey")
    dup_starts = (
        wins.withColumn("_c", F.count(F.lit(1)).over(wcnt))
        .filter(F.col("_c") >= 2)
        .groupBy(id_col)
        .agg(F.collect_list("start").alias("_starts"))
    )
    return _rebuild_stripped(staged, dup_starts, k, id_col, docs, merged_intervals)


def _stage_tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, _tk tokens, _n count) over the lowercase/whitespace-
    normalized stream — the shared staging for span strip operators."""
    toks = TX.tokens(F.lower(F.col(text_col)))
    return docs.select(
        F.col(id_col), toks.alias("_tk")
    ).withColumn("_n", F.size("_tk").cast("long"))


def _window_keys(staged: DataFrame, id_col: str, k: int) -> DataFrame:
    """Explode every k-token window start with its content-md5 key.

    The key is the RAW 16-byte digest (``unhex(md5(...))``), not the
    32-char hex string: the key is internal (only its equality is
    observable), content-keyed md5 keeps the 128-bit no-collision
    contract at 100 TB window counts where a 64-bit hash would not,
    and halving the key halves the bytes every wkey exchange and sort
    moves (round-10, guide §2.3)."""
    win_starts = F.when(
        F.col("_n") >= k, F.sequence(F.lit(1), (F.col("_n") - (k - 1)).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    return staged.select(
        F.col(id_col),
        F.explode(win_starts).alias("start"),
        F.col("_tk"),
    ).select(
        id_col,
        "start",
        F.unhex(
            F.md5(F.array_join(F.slice("_tk", F.col("start"), k), " "))
        ).alias("wkey"),
    )


def _rebuild_stripped(
    staged: DataFrame,
    dup_starts: DataFrame,
    k: int,
    id_col: str,
    docs: DataFrame,
    merged_intervals: bool,
) -> DataFrame:
    """Shared map-side rebuild: delete every token position covered by
    a [start, start+k) interval from ``dup_starts``, re-join survivors.
    Two forms with hash-identical output (see strip_duplicated_spans)."""
    if merged_intervals:
        import pandas as pd

        id_type = docs.schema[id_col].dataType.simpleString()

        def _rebuild(batches):
            for pdf in batches:
                ids, texts, n_toks, n_rem = [], [], [], []
                for idv, tk, n, starts in zip(
                    pdf[id_col], pdf["_tk"], pdf["_n"], pdf["_starts"]
                ):
                    tk = list(tk)
                    if starts is None or len(starts) == 0:
                        kept_toks = tk
                    else:
                        # fold sorted [s, s+k-1] (1-based, inclusive)
                        # into disjoint intervals, then keep the gaps
                        ivals: list[list[int]] = []
                        for s in sorted(int(s) for s in starts):
                            hi = s + k - 1
                            if ivals and s <= ivals[-1][1] + 1:
                                if hi > ivals[-1][1]:
                                    ivals[-1][1] = hi
                            else:
                                ivals.append([s, hi])
                        kept_toks = []
                        pos = 1
                        for lo, hi in ivals:
                            kept_toks.extend(tk[pos - 1 : lo - 1])
                            pos = hi + 1
                        kept_toks.extend(tk[pos - 1 :])
                    ids.append(idv)
                    texts.append(" ".join(kept_toks))
                    n_toks.append(int(n))
                    n_rem.append(int(n) - len(kept_toks))
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "clean_text": texts,
                        "n_tokens": n_toks,
                        "n_removed": n_rem,
                    }
                )

        return staged.join(dup_starts, id_col, "left").mapInPandas(
            _rebuild,
            f"{id_col} {id_type}, clean_text string, "
            "n_tokens long, n_removed long",
        )
    # O(n + covered) per doc (round-10, guide §1.2 "per-task work"):
    # kept positions come from ONE hash-based array_except over the
    # position range, and only docs WITH hits pay any per-element
    # work at all (the when() hands untouched docs their token array
    # back with zero lambda dispatches). The previous form ran an
    # interpreted filter() whose body linearly scanned the covered
    # array per token — O(n x covered), quadratic for mostly-covered
    # docs (an eval doc in the decontamination path covers ALL its
    # positions), measured 1.75 s -> 1.15 s for the q219 shape at
    # sf0.1.
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.col("_starts"),
                lambda s: F.sequence(s, s + (k - 1)),
            )
        )
    )
    kept = F.when(F.col("_starts").isNull(), F.col("_tk")).otherwise(
        F.transform(
            F.array_except(
                F.sequence(F.lit(1), F.col("_n").cast("int")), F.col("_cov")
            ),
            lambda p: F.element_at("_tk", p),
        )
    )
    return (
        staged.join(dup_starts, id_col, "left")
        .withColumn("_cov", covered)
        .withColumn("_kept", kept)
        .select(
            id_col,
            F.array_join("_kept", " ").alias("clean_text"),
            F.col("_n").alias("n_tokens"),
            (F.col("_n") - F.size("_kept")).cast("long").alias("n_removed"),
        )
    )


def contamination_flags(
    docs: DataFrame,
    eval_docs: DataFrame,
    shingle_k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination (q79's shape as a reusable operator):
    flag every document sharing any word-``shingle_k``-shingle with the
    held-out eval set. The eval shingle set is small and fixed at any
    corpus scale — it broadcasts, so the corpus side never shuffles for
    the probe; the only shuffle is the per-doc rollup. Returns
    ``(id, n_shingles, n_hits, contaminated)``."""
    ev = (
        eval_docs.select(
            F.explode(TX.shingles(F.col(text_col), shingle_k)).alias("s")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus = docs.select(
        id_col, F.explode(TX.shingles(F.col(text_col), shingle_k)).alias("s")
    )
    return (
        corpus.join(F.broadcast(ev), "s", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_hits"),
            (F.count("_hit") > 0).alias("contaminated"),
        )
    )


def lsh_pairs_between_banded(
    new_banded: DataFrame,
    old_banded: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Cross-corpus candidate pairs from two PRE-BANDED signature
    tables (``build_dedup_state`` output — the old side typically a
    persisted parquet). New x old band-bucket join
    only; no text is touched. Returns ``(new_id, old_id,
    est_jaccard)``.

    A persisted state built with DIFFERENT num_hashes would make the
    per-band slices and the Jaccard estimate silently wrong, so the
    estimate is guarded by an in-plan ``assert_true`` on both sides'
    signature lengths — a mismatched state fails the query loudly.
    (Full param identity — bands/shingle_k too — is the job of the
    ``_params.json`` sidecar, ``check_dedup_state_params``.)"""
    rows_per_band = _check_bands(num_hashes, bands)
    cols = [id_col, "signature", "band", "bucket"]
    a = new_banded.select(cols).alias("a")
    b = old_banded.select(cols).alias("b")
    joined = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket")),
    )

    sig_a, sig_b = F.col("a.signature"), F.col("b.signature")
    first_band = _first_band(sig_a, sig_b, bands, rows_per_band)
    est = _est_jaccard(sig_a, sig_b, num_hashes)
    # load-bearing guard (feeds the output column, so it can't be
    # pruned): any colliding row whose stored signature length differs
    # from num_hashes raises instead of mis-estimating
    shape_ok = F.assert_true(
        (F.size(sig_a) == num_hashes) & (F.size(sig_b) == num_hashes),
        F.lit(
            f"dedup state signature length != num_hashes={num_hashes} — "
            "state built with different parameters?"
        ),
    )
    est = F.when(shape_ok.isNull(), est)
    return (
        joined.filter(F.col("a.band") == first_band)
        .select(
            F.col(f"a.{id_col}").alias("new_id"),
            F.col(f"b.{id_col}").alias("old_id"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= jaccard_threshold)
    )


def incremental_dedup(
    new_docs: DataFrame,
    old_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    *,
    old_state: DataFrame | None = None,
) -> DataFrame:
    """Admission decision for every NEW document against the existing
    corpus: ``(doc_id, exact_dup, n_near_dups, admitted)`` — exact_dup
    when its normalized-text fingerprint already exists, n_near_dups
    from the cross-corpus LSH pairs, admitted when neither fires.
    All-integer output, hash-exact. This is the daily gate the
    reference's 25-day domain window (J4/T2) becomes for a document
    corpus.

    The old side is EITHER ``old_docs`` (text — re-fingerprints and
    re-hashes the whole corpus, one-shot use) OR ``old_state`` (a
    persisted ``build_dedup_state`` table — the production form: a
    day's cost then scales with the day, never the corpus)."""
    if (old_docs is None) == (old_state is None):
        raise ValueError("pass exactly one of old_docs / old_state")
    new_state = build_dedup_state(
        new_docs, text_col, id_col, num_hashes, bands, shingle_k
    ).localCheckpoint()
    if old_state is None:
        old_state = build_dedup_state(
            old_docs, text_col, id_col, num_hashes, bands, shingle_k
        ).localCheckpoint()
    new_fp = new_state.filter(F.col("band") == 0).select(id_col, "fp")
    old_fp = old_state.filter(F.col("band") == 0).select("fp").distinct()
    exact = (
        new_fp.join(old_fp.withColumn("_hit", F.lit(1)), "fp", "left")
        .select(id_col, F.coalesce("_hit", F.lit(0)).alias("exact_dup"))
    )
    near = (
        lsh_pairs_between_banded(
            new_state, old_state, id_col, num_hashes, bands, jaccard_threshold
        )
        .groupBy(F.col("new_id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_near_dups"))
    )
    return (
        exact.join(near, id_col, "left")
        .select(
            id_col,
            F.col("exact_dup").cast("int").alias("exact_dup"),
            F.coalesce("n_near_dups", F.lit(0)).cast("long").alias("n_near_dups"),
            (
                (F.col("exact_dup") == 0)
                & (F.coalesce("n_near_dups", F.lit(0)) == 0)
            ).cast("int").alias("admitted"),
        )
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    valid_pct: int = 10,
) -> DataFrame:
    """Train/valid/test assignment that can NEVER leak a near-duplicate
    across splits: documents are assigned by their duplicate CLUSTER
    (min-id label over the near-dup pair graph; singletons are their
    own cluster), and the split is a deterministic portable hash of the
    cluster id — so every member of a cluster lands in the same split
    by construction. Splitting documents independently (the naive
    hash-of-doc-id) puts ~2*p*(1-p) of every near-dup pair across the
    train/eval boundary — the classic eval-contamination bug this
    operator exists to make impossible.

    Returns ``(id, cluster_id, split)`` with split in
    train/valid/test at train_pct/valid_pct/rest. Scale: clustering is
    ``duplicate_clusters`` over the pair graph (the LSH output,
    O(duplicates); a pair with a NULL id is dropped); the split itself
    is one broadcast-able cluster map join + a map-side hash."""
    if not (0 < train_pct and 0 <= valid_pct and train_pct + valid_pct < 100):
        raise ValueError(f"bad split percentages {train_pct}/{valid_pct}")
    cc = duplicate_clusters(pairs).select(id_col, "cluster_id")
    labeled = (
        docs.select(id_col)
        .join(cc, id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
    )
    bucket = TX.hash64(F.col("cluster_id").cast("string"), seed=17) % 100
    return labeled.withColumn(
        "split",
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + valid_pct, F.lit("valid"))
        .otherwise(F.lit("test")),
    )


def soft_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SOFT deduplication: keep ONE copy per exact-dup group but carry
    the multiplicity out as a loss/sampling weight instead of
    discarding the information (the published alternative to hard
    dedup — common text is down-weighted, not erased, so frequency
    signal survives into training). Same single fingerprint shuffle as
    ``exact_dedup`` (the group count rides the SAME window partition —
    no second pass); the survivor row gains ``dup_count`` and
    ``weight_x1e6 = floor(1e6 / dup_count)`` (integer-exact: both
    engines floor the identical correctly-rounded double, so the
    weight hash-matches cross-engine; divide by 1e6 at the consumer).
    At 100 TB this costs exactly what exact dedup costs."""
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col).asc())
    wc = Window.partitionBy("fingerprint")
    return (
        docs.withColumn("fingerprint", TX.fingerprint(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("dup_count", F.count(F.lit(1)).over(wc).cast("long"))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn(
            "weight_x1e6",
            F.floor(F.lit(1000000) / F.col("dup_count")).cast("long"),
        )
    )


def mine_templates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Template mining for instruction-style corpora: mask the VARIABLE
    tokens (normalize_text's lowercase/whitespace-collapse, then every
    digit run -> '0') so fill-in-the-blank instances of one prompt
    template collide on a single key, then keep templates with >=
    ``min_count`` instances — the report a dataset owner reads to find
    machine-generated prompt families BEFORE near-dup ever sees them
    (template instances often sit below MinHash thresholds because the
    filled slots differ, while the template itself is 100x duplicated).
    One hash shuffle keyed by the masked text; output is
    |templates|-sized: (template, n_docs, example_doc_id)."""
    masked = F.regexp_replace(
        TX.normalize_text(F.col(text_col)), "[0-9]+", "0"
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), masked.alias("template"))
        .groupBy("template")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("example_doc_id"),
        )
        .filter(F.col("n_docs") >= int(min_count))
    )


def dedup_threshold_sweep(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    band_pct: int = 10,
    floor_pct: int = 10,
    group_col: str | None = None,
) -> DataFrame:
    """The table that SETS ``jaccard_threshold`` — the near-dup twin of
    the perplexity-gate calibration sweep (q231): per Jaccard band,
    how many candidate pairs sit there and how many DOCUMENTS a dedup
    run at that threshold would implicate, so the threshold is chosen
    from a table instead of folklore.

    Banding is all-integer: a pair's band is ``(100 * |A∩B|) div
    |A∪B|`` floored to ``band_pct``-wide bands (no float Jaccard ever
    exists, so the sweep hash-matches a SQL twin exactly). Pairs below
    ``floor_pct`` are out of scope (uninteresting thresholds — and the
    floor is what bounds the pair explosion, exactly like
    ngram_jaccard_pairs' threshold). Per band the output reports:

    - ``n_pairs``    — candidate pairs whose Jaccard lands in the band;
    - ``n_docs_best``— docs whose BEST pair lands there (a doc counts
      once, at its highest band);
    - ``docs_touched`` — running sum of n_docs_best from the top band
      down: the docs a dedup at threshold = band_lo would implicate.

    Same candidate-generation contract as ``ngram_jaccard_pairs``:
    without ``group_col`` the self-join is O(N^2) — the bounded
    verification form; at scale pass the LSH bucket (or any blocking
    key) as ``group_col`` so pairs stay within buckets. The cumulative
    walk is an unpartitioned window over the ~(100/band_pct)-row band
    rollup — bounded by construction, the q231 pattern. Output
    <= 100/band_pct + 1 rows."""
    if not (0 < band_pct <= 100) or 100 % band_pct:
        raise ValueError(f"band_pct must divide 100, got {band_pct}")
    grams = docs.select(
        F.col(id_col),
        *([F.col(group_col)] if group_col else []),
        F.array_distinct(TX.shingles(F.col(text_col), n)).alias("grams"),
    )
    a, b = grams.alias("a"), grams.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if group_col:
        cond = cond & (F.col(f"a.{group_col}") == F.col(f"b.{group_col}"))
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.array_union(F.col("a.grams"), F.col("b.grams")))
    pairs = (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            # shingles() never yields an empty set, so union >= 1
            (100 * inter).cast("long").alias("_i100"),
            union.cast("long").alias("_u"),
        )
        # integral DIV end to end (the float-`/`-never-touches-a-hashed-
        # column discipline): band_lo = ((100*inter) div union
        # div band_pct) * band_pct
        .selectExpr(
            "id_a",
            "id_b",
            f"CAST((_i100 div _u) div {band_pct} AS BIGINT) * {band_pct} "
            "AS band_lo",
        )
    )
    per_band_pairs = pairs.filter(F.col("band_lo") >= floor_pct).groupBy(
        "band_lo"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    best = (
        pairs.filter(F.col("band_lo") >= floor_pct)
        .select(F.col("id_a").alias("doc"), "band_lo")
        .unionByName(
            pairs.filter(F.col("band_lo") >= floor_pct)
            .select(F.col("id_b").alias("doc"), "band_lo")
        )
        .groupBy("doc")
        .agg(F.max("band_lo").alias("band_lo"))
        .groupBy("band_lo")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs_best"))
    )
    joined = per_band_pairs.join(best, "band_lo", "full_outer").select(
        "band_lo",
        F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
        F.coalesce("n_docs_best", F.lit(0)).cast("long").alias("n_docs_best"),
    )
    w = Window.orderBy(F.col("band_lo").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return joined.withColumn(
        "docs_touched", F.sum("n_docs_best").over(w).cast("long")
    )

"""E2E training-corpus funnel: quality -> lang -> exact dedup ->
near-dup clusters -> PII -> chunk -> shard packing, one composed run."""

from __future__ import annotations

from pyspark.sql import functions as F

from sstable_migrator_spark.pipelines.corpus import build_training_corpus


def test_full_funnel(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # plant an exact dup and a near dup so both dedup stages have work
    base = docs.limit(50)
    exact_dup = base.filter(F.col("doc_id") == base.first()["doc_id"]).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    near_dup = base.limit(5).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" tail token")).alias("text"),
        "lang", "source", "n_chars",
    )
    corpus = base.unionByName(exact_dup).unionByName(near_dup)

    out = str(tmp_path / "shards")
    counts = build_training_corpus(corpus, out, quality_min=0.0, shard_tokens=500)

    # funnel is monotone and every stage is accounted
    assert counts["input"] == 56
    assert counts["input"] >= counts["quality"] >= counts["lang"] >= counts["exact"]
    assert counts["exact"] >= counts["near_dup_kept"]
    # the planted exact dup must die in exact dedup (same fingerprint)
    assert counts["exact"] < counts["lang"]
    assert counts["chunks"] > 0

    shards = spark.read.parquet(out)
    assert set(shards.columns) >= {"doc_id", "chunk_id", "n_tok", "chunk_text", "shard_id"}
    # shard budget respected: each shard's token total stays under
    # budget + one max chunk (the packing rule's slack)
    per_shard = shards.groupBy("shard_id").agg(F.sum("n_tok").alias("t")).collect()
    max_chunk = shards.agg(F.max("n_tok")).first()[0]
    assert all(r["t"] <= 500 + max_chunk for r in per_shard), per_shard


def test_funnel_keep_best_policy(spark, sf_dir, tmp_path):
    """near_dup_policy='keep_best': the SURVIVOR of a planted near-dup
    cluster is the higher-quality copy even when it has the larger id
    (the canonical policy would keep the smaller id); stage counts are
    identical between policies (same clusters, one survivor each)."""
    import pytest as _pytest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.limit(40)
    # perturbed copy with HIGHER quality: append well-formed prose so
    # quality_score rises; id is larger so canonical would drop it
    near_dup = base.limit(4).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        # 8 stopword tokens: strictly raises quality_score (length +
        # stopword terms) while keeping shingle-Jaccard with the
        # original far above the 0.5 pairing threshold
        F.concat("text", F.lit(" and the of to is in it you")).alias("text"),
        "lang", "source", "n_chars",
    )
    corpus = base.unionByName(near_dup)
    out_c = str(tmp_path / "canon")
    out_b = str(tmp_path / "best")
    c1 = build_training_corpus(corpus, out_c, quality_min=0.0, shard_tokens=500)
    c2 = build_training_corpus(
        corpus, out_b, quality_min=0.0, shard_tokens=500,
        near_dup_policy="keep_best",
    )
    assert c1["near_dup_kept"] == c2["near_dup_kept"]
    canon_ids = {r["doc_id"] for r in spark.read.parquet(out_c).select("doc_id").distinct().collect()}
    best_ids = {r["doc_id"] for r in spark.read.parquet(out_b).select("doc_id").distinct().collect()}
    planted = {r["doc_id"] for r in near_dup.select("doc_id").collect()}
    # canonical keeps the originals; keep-best keeps the enriched copies
    assert not (canon_ids & planted)
    flipped = best_ids & planted
    assert flipped, "keep_best kept no planted higher-quality copy"
    # each flip evicts its original
    assert all((d - 200000) not in best_ids for d in flipped)
    with _pytest.raises(ValueError):
        build_training_corpus(corpus, str(tmp_path / "x"), near_dup_policy="bogus")


def test_quality_score_matches_tx(spark, sf_dir):
    """Drift guard: the pipeline's staged quality expression must stay
    bit-identical to functions.text.quality_score (the form the
    oracle-checked q48/q84 pin) — the staging is a perf shape, never a
    semantic fork."""
    from pyspark.sql import functions as F

    from sstable_migrator_spark.functions import text as TX
    from sstable_migrator_spark.pipelines.corpus import quality_score
    from sstable_migrator_spark.queries import _t

    docs = _t(spark, sf_dir, "documents")
    diff = docs.select(
        quality_score(F.col("text")).alias("a"),
        TX.quality_score(F.col("text")).alias("b"),
    ).filter("a IS DISTINCT FROM b")
    assert diff.count() == 0


def test_tar_shard_format(spark, tmp_path, sf_dir):
    """The funnel's tar output round-trips every chunk it wrote in the
    parquet form — same curation, WebDataset layout."""
    from sstable_migrator_spark.pipelines.corpus import build_training_corpus
    from sstable_migrator_spark.sinks.tarshard import read_tar_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    pq_dir, tar_dir = str(tmp_path / "pq"), str(tmp_path / "tar")
    c1 = build_training_corpus(docs, pq_dir)
    c2 = build_training_corpus(docs, tar_dir, shard_format="tar")
    assert c1 == c2
    pq = spark.read.parquet(pq_dir)
    back = read_tar_shards(spark, tar_dir, "_key", ["txt"])
    assert back.count() == pq.count()
    a = sorted(r["txt"] for r in back.collect())
    b = sorted(r["chunk_text"] for r in pq.collect())
    assert a == b


def test_arrow_shard_format(spark, tmp_path, sf_dir):
    """The funnel's Arrow IPC output round-trips every chunk the
    parquet form wrote — same curation, columnar trainer shards with
    manifest digests; sequence export honors rows_per_shard."""
    from pyspark.sql import functions as F

    from sstable_migrator_spark.pipelines.corpus import (
        build_training_corpus,
        export_packed_sequences,
    )
    from sstable_migrator_spark.sinks.arrowshard import read_arrow_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    pq_dir, ar_dir = str(tmp_path / "pq"), str(tmp_path / "ar")
    c1 = build_training_corpus(docs, pq_dir)
    c2 = build_training_corpus(docs, ar_dir, shard_format="arrow")
    assert c1 == c2
    pq = spark.read.parquet(pq_dir)
    back = read_arrow_shards(spark, ar_dir)
    assert back.count() == pq.count()
    a = sorted(r["chunk_text"] for r in back.collect())
    b = sorted(r["chunk_text"] for r in pq.collect())
    assert a == b

    seq_docs = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("doc"), F.col("id").cast("string"),
            F.expr("repeat(' tok', CAST(id % 7 AS INT) + 1)"),
        ).alias("text"),
    )
    sd = str(tmp_path / "seq")
    stats = export_packed_sequences(
        seq_docs, sd, seq_tokens=8, seed=3, shard_format="arrow",
        rows_per_shard=4,
    )
    seqs = read_arrow_shards(spark, sd)
    assert seqs.count() == stats["sequences"]
    import glob as _glob
    import json as _json

    import pyarrow as pa

    with open(f"{sd}/_arrow_manifests.json") as fh:
        man = _json.load(fh)
    assert all(m["rows"] <= 4 for m in man)
    shard0 = sorted(_glob.glob(f"{sd}/shard-*.arrow"))[0]
    with open(shard0, "rb") as fh:
        names = pa.ipc.open_stream(fh).schema.names
    assert "seq_id" in names and "seq_text" in names


def test_export_packed_sequences_parquet_and_tar(spark, tmp_path):
    """Trainer-facing export: sequences land in stream order; the tar
    form round-trips with lexical keys == stream order; rebuilt stream
    equals the deterministic shuffle's concatenation."""
    from pyspark.sql import functions as F

    from sstable_migrator_spark.operators.packing import deterministic_shuffle
    from sstable_migrator_spark.pipelines.corpus import export_packed_sequences
    from sstable_migrator_spark.sinks.tarshard import read_tar_shards

    docs = spark.range(25).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("doc"), F.col("id").cast("string"),
            F.expr("repeat(' tok', CAST(id % 9 AS INT) + 1)")
        ).alias("text"),
    )
    S = 16
    out = str(tmp_path / "pq")
    meta = export_packed_sequences(docs, out, seq_tokens=S, seed=2)
    back = spark.read.parquet(out).orderBy("seq_id").collect()
    assert len(back) == meta["sequences"]
    assert sum(r["n_tokens"] for r in back) == meta["tokens"]
    for r in back[:-1]:
        assert r["n_tokens"] == S

    order = sorted(
        deterministic_shuffle(docs, seed=2).collect(), key=lambda r: r["position"]
    )
    want = []
    for r in order:
        want.extend(r["text"].split())
    got = []
    for r in back:
        got.extend(r["seq_text"].split(" "))
    assert got == want

    tard = str(tmp_path / "tar")
    export_packed_sequences(docs, tard, seq_tokens=S, seed=2, shard_format="tar")
    rows = read_tar_shards(spark, tard, "_key", ["txt"]).collect()
    by_key = {r["_key"]: r["txt"] for r in rows}
    assert len(by_key) == meta["sequences"]
    rebuilt = []
    for k in sorted(by_key):  # lexical == stream order (zero-padded)
        rebuilt.extend(by_key[k].split(" "))
    assert rebuilt == want

    import pytest as _pytest
    with _pytest.raises(ValueError, match="shard_format"):
        export_packed_sequences(docs, str(tmp_path / "x"), shard_format="zip")


def test_training_epochs_manifest_and_resume(spark, tmp_path):
    """The multi-epoch trainer contract: every epoch is a DIFFERENT
    deterministic permutation of the SAME tokens (totals invariant,
    token multiset identical, orders distinct); the manifest records
    seeds and stats; a mid-epoch resume cursor returns exactly the
    remaining sequences; the whole export reads back as one
    epoch-partitioned dataset."""
    import collections
    import json

    import pytest as _pytest
    from pyspark.sql import functions as F

    from sstable_migrator_spark.pipelines.corpus import (
        export_training_epochs,
        read_epoch_sequences,
    )

    docs = spark.range(25).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("doc"), F.col("id").cast("string"),
            F.expr("repeat(' tok', CAST(id % 9 AS INT) + 1)")
        ).alias("text"),
    )
    out = str(tmp_path / "epochs")
    man = export_training_epochs(
        docs, out, n_epochs=2, seq_tokens=16, base_seed=5
    )
    assert [e["epoch"] for e in man["epochs"]] == [0, 1]
    assert [e["seed"] for e in man["epochs"]] == [5, 6]
    with open(f"{out}/_manifest.json") as fh:
        assert json.load(fh) == man

    e0 = sorted(read_epoch_sequences(spark, out, 0).collect(),
                key=lambda r: r["seq_id"])
    e1 = sorted(read_epoch_sequences(spark, out, 1).collect(),
                key=lambda r: r["seq_id"])
    # totals are epoch-invariant and manifest-recorded
    assert sum(r["n_tokens"] for r in e0) == man["epochs"][0]["tokens"]
    assert sum(r["n_tokens"] for r in e1) == man["epochs"][0]["tokens"]
    assert len(e0) == len(e1) == man["epochs"][0]["sequences"]
    s0 = [r["seq_text"] for r in e0]
    s1 = [r["seq_text"] for r in e1]
    assert s0 != s1  # epoch 1 is a different permutation
    # ... of the SAME tokens
    m0 = collections.Counter(t for s in s0 for t in s.split(" "))
    m1 = collections.Counter(t for s in s1 for t in s.split(" "))
    assert m0 == m1

    # resume mid-epoch: cursor (epoch=0, after_seq=k) -> exactly the rest
    k = e0[len(e0) // 2]["seq_id"]
    rem = read_epoch_sequences(spark, out, 0, after_seq=k).collect()
    assert sorted(r["seq_id"] for r in rem) == [
        r["seq_id"] for r in e0 if r["seq_id"] > k
    ]
    assert {(r["seq_id"], r["seq_text"]) for r in rem} <= {
        (r["seq_id"], r["seq_text"]) for r in e0
    }

    # the whole export is one epoch-partitioned dataset
    whole = spark.read.parquet(out)
    assert {r["epoch"] for r in whole.select("epoch").distinct().collect()} == {0, 1}

    with _pytest.raises(ValueError, match="not in manifest"):
        read_epoch_sequences(spark, out, 9)
    with _pytest.raises(ValueError, match="n_epochs"):
        export_training_epochs(docs, str(tmp_path / "y"), n_epochs=0)
    tar_out = str(tmp_path / "tar_epochs")
    export_training_epochs(docs, tar_out, n_epochs=1, seq_tokens=16,
                           shard_format="tar")
    with _pytest.raises(ValueError, match="parquet form"):
        read_epoch_sequences(spark, tar_out, 0)


def test_funnel_strip_spans_stage(spark, tmp_path):
    """Opt-in ExactSubstr stage: corpus-repeated boilerplate vanishes
    from the chunks; without the flag it survives."""
    from pyspark.sql import functions as F

    from sstable_migrator_spark.pipelines.corpus import build_training_corpus

    boiler = "subscribe to our newsletter for daily updates and exclusive offers today"
    # each doc is MOSTLY unique (so doc-level near-dup keeps them all);
    # only the short boilerplate tail repeats corpus-wide
    rows = [
        (i, "en",
         f"the harvest report for area {i} says "
         + " ".join(f"crop{i}w{j} and the field{i}x{j}" for j in range(12))
         + " " + boiler)
        for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    out1 = str(tmp_path / "with")
    build_training_corpus(docs, out1, quality_min=0.0, strip_spans_k=8,
                          chunk_size=64, stride=64, shard_tokens=10000)
    kept = " ".join(r["chunk_text"] for r in spark.read.parquet(out1).collect())
    assert "subscribe" not in kept and "newsletter" not in kept
    assert "harvest" in kept  # unique content survives

    out2 = str(tmp_path / "without")
    build_training_corpus(docs, out2, quality_min=0.0,
                          chunk_size=64, stride=64, shard_tokens=10000)
    kept2 = " ".join(r["chunk_text"] for r in spark.read.parquet(out2).collect())
    assert "subscribe" in kept2


def test_wet_ingest_end_to_end(spark, tmp_path):
    """CommonCrawl-shaped ingestion: WET shards -> documents (stable
    hash ids, lang-id) -> curation funnel -> shards. A duplicated
    record across shards collapses at exact dedup; markup residue is
    stripped when asked."""
    from sstable_migrator_spark.pipelines.web_ingest import (
        ingest_wet_corpus,
        wet_to_documents,
    )
    from sstable_migrator_spark.sources.warc import encode_wet, read_wet

    base = ("the quiet village market opens early and the farmers bring "
            "fresh bread with butter and a warm greeting for the visitors "
            "who arrive from the city")
    recs_a = [
        {"url": "http://a.example/1", "date": "2024-06-01T00:00:00Z",
         "text": base},
        {"url": "http://a.example/2", "date": "2024-06-01T00:00:00Z",
         "text": "<p>the library &amp; the reading room</p> stay open for "
                 "the whole evening and the students keep their seats"},
    ]
    recs_b = [
        # exact same identity AND text as a/1 -> same doc_id -> dedup
        {"url": "http://a.example/1", "date": "2024-06-01T00:00:00Z",
         "text": base},
        {"url": "http://b.example/9", "date": "2024-06-02T00:00:00Z",
         "text": "completely different content about the harbor and the "
                 "ships that wait for the morning tide with their cargo"},
    ]
    wetdir = tmp_path / "wet"
    wetdir.mkdir()
    (wetdir / "a.warc.wet.gz").write_bytes(encode_wet(recs_a))
    (wetdir / "b.warc.wet.gz").write_bytes(encode_wet(recs_b))

    docs = wet_to_documents(
        read_wet(spark, str(wetdir / "*.gz")), strip_html=True
    ).collect()
    by_url = {}
    for r in docs:
        by_url.setdefault(r["url"], []).append(r)
    assert len(by_url["http://a.example/1"]) == 2
    ids = {r["doc_id"] for r in by_url["http://a.example/1"]}
    assert len(ids) == 1  # identity hash is stable across shards
    assert "&amp;" not in by_url["http://a.example/2"][0]["text"]
    assert all(r["lang"] == "en" for r in docs)

    out = str(tmp_path / "out")
    counts = ingest_wet_corpus(
        spark, str(wetdir / "*.gz"), out,
        strip_html=True, quality_min=0.0, chunk_size=64, stride=64,
        shard_tokens=10000,
    )
    assert counts["wet_records"] == 4
    assert counts["exact"] == 3  # the cross-shard duplicate collapsed
    kept = " ".join(r["chunk_text"] for r in spark.read.parquet(out).collect())
    assert "village" in kept and "harbor" in kept and "library" in kept


def test_web_corpus_capstone_end_to_end(spark, tmp_path):
    """The full acquisition-to-training arc in one test: frontier ->
    robots gate -> politeness schedule -> (deterministic synthetic
    fetch) -> WET shards -> ingestion funnel -> packed training
    sequences. Each stage's operator has its own oracle/unit evidence;
    this pins that they COMPOSE."""
    import json as _json

    from pyspark.sql import functions as F

    from sstable_migrator_spark.operators.crawl import (
        crawl_schedule,
        parse_robots,
        robots_allowed,
    )
    from sstable_migrator_spark.pipelines.corpus import export_packed_sequences
    from sstable_migrator_spark.pipelines.web_ingest import ingest_wet_corpus
    from sstable_migrator_spark.sources.warc import encode_wet

    # 1. frontier + robots
    frontier = spark.createDataFrame(
        [(f"http://site{i % 2}.com/{'private' if i % 5 == 0 else 'page'}/{i}",)
         for i in range(20)],
        "url string",
    )
    rules = parse_robots(
        spark.createDataFrame(
            [("site0.com", "User-agent: *\nDisallow: /private/"),
             ("site1.com", "User-agent: *\nDisallow: /private/")],
            "host string, body string",
        )
    )
    allowed = robots_allowed(frontier, rules).filter("allowed = 1")
    n_allowed = allowed.count()
    assert n_allowed == 16  # 4 of 20 hit /private/

    # 2. politeness plan over the allowed frontier
    plan = crawl_schedule(allowed.select("url"), crawl_delay_ms=100)
    assert plan.count() == n_allowed

    # 3. "fetch": deterministic synthetic page text per allowed url,
    #    written as one WET shard per host (the crawler's natural unit)
    fetched = sorted(
        (r["host"], r["url"]) for r in plan.select("host", "url").collect()
    )
    wetdir = tmp_path / "wet"
    wetdir.mkdir()
    hosts: dict = {}
    for host, url in fetched:
        hosts.setdefault(host, []).append({
            "url": url,
            "date": "2024-06-01T00:00:00Z",
            "text": ("the page at " + url.rsplit("/", 1)[-1] + " talks about "
                     + " ".join(f"topic{ord(c) % 7}" for c in url[-6:])
                     + " and the usual closing remarks for the readers"),
        })
    for host, recs in hosts.items():
        (wetdir / f"{host}.warc.wet.gz").write_bytes(encode_wet(recs))

    # 4. ingest through the curation funnel
    corpus_out = str(tmp_path / "chunks")
    counts = ingest_wet_corpus(
        spark, str(wetdir / "*.gz"), corpus_out,
        quality_min=0.0, chunk_size=64, stride=64, shard_tokens=10000,
    )
    assert counts["wet_records"] == n_allowed
    assert counts["chunks"] > 0

    # 5. pack the curated docs into training sequences
    curated = spark.read.parquet(corpus_out).select(
        "doc_id", F.col("chunk_text").alias("text")
    )
    seq_out = str(tmp_path / "seqs")
    meta = export_packed_sequences(curated, seq_out, seq_tokens=32, seed=1)
    seqs = spark.read.parquet(seq_out).collect()
    assert meta["sequences"] == len(seqs) > 0
    total = sum(r["n_tokens"] for r in seqs)
    assert total == meta["tokens"]
    # no /private/ page leaked through the whole arc
    all_text = " ".join(r["seq_text"] for r in seqs)
    assert "private" not in all_text


def test_stateful_web_corpus_capstone_v2(spark, tmp_path):
    """Round-7 capstone: the raw-WARC acquisition arc composes end to
    end — robots gate + politeness plan over the discovered URLs ->
    raw-WARC responses (HTTP messages, not pre-extracted WET) -> header
    strip + html_to_text ingestion -> multi-epoch packed training
    export with a resume cursor. Disallowed pages never reach the
    training stream, and both epochs carry the same token multiset in
    different orders."""
    from pyspark.sql import functions as F

    from sstable_migrator_spark.operators.crawl import (
        crawl_schedule,
        robots_allowed,
    )
    from sstable_migrator_spark.pipelines.corpus import (
        export_training_epochs,
        read_epoch_sequences,
    )
    from sstable_migrator_spark.pipelines.web_ingest import ingest_warc_corpus
    from sstable_migrator_spark.sources.warc import encode_warc_responses

    # 1. discovered URLs -> robots gate + politeness plan
    urls = spark.createDataFrame(
        [(f"http://site{i % 2}.com/{'private' if i % 5 == 0 else 'page'}/{i}",)
         for i in range(20)],
        "url string",
    )
    rules = spark.createDataFrame(
        [("site0.com", "*", "disallow", "/private/"),
         ("site1.com", "*", "disallow", "/private/")],
        "host string, agent string, rule string, prefix string",
    )
    allowed = robots_allowed(urls, rules).filter("allowed = 1").select("url")
    plan = crawl_schedule(allowed).collect()
    assert len(plan) == 16  # 4 of 20 hit /private/

    # 2. "fetch" the PLAN (not the raw URL list): one raw-WARC response
    #    shard per host, real HTTP messages
    warcdir = tmp_path / "warc"
    warcdir.mkdir()
    hosts: dict = {}
    for r in sorted((p["host"], p["url"]) for p in plan):
        host, url = r
        page = (
            "<html><body><h1>Page</h1><p>the page at "
            + url.rsplit("/", 1)[-1]
            + " talks about "
            + " ".join(f"topic{ord(c) % 7}" for c in url[-6:])
            + " and the usual closing remarks for the readers</p></body></html>"
        )
        hosts.setdefault(host, []).append(
            {"url": url, "date": "2024-06-01T00:00:00Z", "html": page}
        )
    for host, recs in hosts.items():
        (warcdir / f"{host}.warc.gz").write_bytes(encode_warc_responses(recs))

    # 3. raw-WARC ingestion: header strip -> html_to_text -> funnel
    corpus_out = str(tmp_path / "chunks")
    counts = ingest_warc_corpus(
        spark, str(warcdir / "*.warc.gz"), corpus_out,
        quality_min=0.0, chunk_size=64, stride=64, shard_tokens=10000,
    )
    assert counts["warc_records"] == 16
    assert counts["chunks"] > 0
    curated = spark.read.parquet(corpus_out).select(
        "doc_id", F.col("chunk_text").alias("text")
    )
    assert "private" not in " ".join(
        r["text"] for r in curated.collect()
    )

    # 4. multi-epoch packed export + mid-epoch resume
    epochs_out = str(tmp_path / "epochs")
    man = export_training_epochs(
        curated, epochs_out, n_epochs=2, seq_tokens=32, base_seed=3
    )
    e0 = sorted(read_epoch_sequences(spark, epochs_out, 0).collect(),
                key=lambda r: r["seq_id"])
    e1 = sorted(read_epoch_sequences(spark, epochs_out, 1).collect(),
                key=lambda r: r["seq_id"])
    assert len(e0) == len(e1) == man["epochs"][0]["sequences"] > 0
    assert [r["seq_text"] for r in e0] != [r["seq_text"] for r in e1]
    import collections as _c
    assert _c.Counter(
        t for r in e0 for t in r["seq_text"].split(" ")
    ) == _c.Counter(t for r in e1 for t in r["seq_text"].split(" "))
    cursor = e0[len(e0) // 2]["seq_id"]
    rem = read_epoch_sequences(spark, epochs_out, 0, after_seq=cursor)
    assert rem.count() == sum(1 for r in e0 if r["seq_id"] > cursor)
    # no disallowed page anywhere in the training stream
    assert "private" not in " ".join(r["seq_text"] for r in e0)


def test_bpe_tokenized_epoch_export(spark, tmp_path):
    """The trainer-grade composition: BPE pieces (tokens_col) flow
    through the multi-epoch export — sequence token totals equal the
    corpus piece total in every epoch, and sequences are piece-exact."""
    from pyspark.sql import functions as F

    from sstable_migrator_spark.functions.bpe import bpe_encode_docs, train_bpe
    from sstable_migrator_spark.pipelines.corpus import (
        export_training_epochs,
        read_epoch_sequences,
    )

    docs = spark.createDataFrame(
        [(i, "the theatre the other anthem " * (1 + i % 3)) for i in range(15)],
        "doc_id long, text string",
    )
    merges = train_bpe(docs, n_merges=5)
    enc = docs.join(bpe_encode_docs(docs, merges), "doc_id").localCheckpoint()
    total = enc.agg(F.sum("n_pieces")).first()[0]

    out = str(tmp_path / "bpe_epochs")
    man = export_training_epochs(
        enc, out, n_epochs=2, seq_tokens=16, base_seed=1, tokens_col="pieces"
    )
    for e in (0, 1):
        rows = read_epoch_sequences(spark, out, e).collect()
        assert sum(r["n_tokens"] for r in rows) == total == man["epochs"][e]["tokens"]
        full = sorted(rows, key=lambda r: r["seq_id"])
        for r in full[:-1]:
            assert r["n_tokens"] == 16


def test_epoch_resume_filter_pushes_down(spark, tmp_path):
    """The resume cursor must reach the parquet scan as a pushed
    filter (seq_id is the sort key of the range-partitioned shards, so
    footer min/max stats skip completed row groups): PushedFilters in
    the scan node names seq_id."""
    from pyspark.sql import functions as F

    from sstable_migrator_spark.pipelines.corpus import (
        export_training_epochs,
        read_epoch_sequences,
    )

    docs = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.expr("repeat('tok ', CAST(id % 7 AS INT) + 1)").alias("text"),
    )
    out = str(tmp_path / "ep")
    export_training_epochs(docs, out, n_epochs=1, seq_tokens=8)
    df = read_epoch_sequences(spark, out, 0, after_seq=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "seq_id" in plan.split("PushedFilters", 1)[1][:200]


def test_funnel_c4_stage(spark, tmp_path):
    """c4=True cleans BEFORE the rest of the funnel: junk lines vanish
    from surviving docs, lorem-ipsum pages never reach the chunks, and
    without the flag the junk sails through."""
    from pyspark.sql import functions as F

    from sstable_migrator_spark.pipelines.corpus import build_training_corpus

    good = ("the quiet village market opens early and the farmers bring "
            "fresh bread with butter for everyone.\n"
            "the second sentence also carries plenty of ordinary words!\n"
            "a third proper sentence closes the little paragraph nicely.")
    other = ("harbor ships wait for the morning tide with their heavy cargo.\n"
             "sailors check the ropes and sails before the long crossing!\n"
             "the lighthouse keeper logs every vessel passing the point.")
    docs = spark.createDataFrame(
        [
            (1, good + "\nclickbait menu fragment without punctuation", "en"),
            (2, other + "\nLorem ipsum dolor sit amet consectetur elite page.", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    out = str(tmp_path / "c4")
    counts = build_training_corpus(
        docs, out, quality_min=0.0, c4=True, chunk_size=64, stride=64,
        shard_tokens=10000,
    )
    assert counts["input"] == 2
    kept = " ".join(
        r["chunk_text"] for r in spark.read.parquet(out).collect()
    )
    assert "village" in kept
    assert "clickbait" not in kept          # line dropped
    assert "lorem" not in kept.lower()      # page dropped
    # control: without c4 the junk survives the funnel
    out2 = str(tmp_path / "raw")
    build_training_corpus(
        docs, out2, quality_min=0.0, chunk_size=64, stride=64,
        shard_tokens=10000,
    )
    raw = " ".join(
        r["chunk_text"] for r in spark.read.parquet(out2).collect()
    )
    assert "clickbait" in raw and "lorem" in raw.lower()


def test_epoch_shard_digests_detect_corruption(spark, tmp_path):
    """The epoch manifest carries per-shard content digests (bytes +
    md5, computed executor-side): verify_epoch passes on a clean
    export, then fails loudly — naming the shard — on a corrupted
    byte, a truncated copy, a deleted shard, and an extra file; and
    read_epoch_sequences(verify=True) refuses the corrupt epoch while
    the untouched epoch still verifies."""
    import json
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from sstable_migrator_spark.pipelines.corpus import (
        export_training_epochs,
        read_epoch_sequences,
        verify_epoch,
    )

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.expr("repeat(concat('tok', CAST(id AS STRING), ' '), "
               "CAST(id % 5 AS INT) + 2)").alias("text"),
    )
    out = str(tmp_path / "ep")
    manifest = export_training_epochs(
        docs, out, n_epochs=2, seq_tokens=16, rows_per_shard=8
    )
    assert manifest["version"] == 2
    for e in manifest["epochs"]:
        assert e["shards"] and all(
            s["bytes"] > 0 and len(s["md5"]) == 32 for s in e["shards"]
        )
    ok = verify_epoch(spark, out, 0)
    assert ok["shards"] == len(manifest["epochs"][0]["shards"])

    epoch_dir = os.path.join(out, "epoch=0")
    victim = os.path.join(
        epoch_dir, manifest["epochs"][0]["shards"][0]["file"]
    )
    blob = open(victim, "rb").read()

    # corrupted byte (same length): digest mismatch
    with open(victim, "wb") as fh:
        fh.write(blob[:10] + bytes([blob[10] ^ 0xFF]) + blob[11:])
    with _pytest.raises(ValueError, match="digest mismatch"):
        verify_epoch(spark, out, 0)
    with _pytest.raises(ValueError, match="integrity"):
        read_epoch_sequences(spark, out, 0, verify=True)

    # truncated copy: byte-length mismatch reported as such
    with open(victim, "wb") as fh:
        fh.write(blob[: len(blob) // 2])
    with _pytest.raises(ValueError, match="truncated"):
        verify_epoch(spark, out, 0)

    # missing shard
    os.remove(victim)
    with _pytest.raises(ValueError, match="missing shard"):
        verify_epoch(spark, out, 0)

    # restored + an extra file: unexpected shard
    with open(victim, "wb") as fh:
        fh.write(blob)
    extra = os.path.join(epoch_dir, "rogue-file.parquet")
    with open(extra, "wb") as fh:
        fh.write(b"not a shard")
    with _pytest.raises(ValueError, match="unexpected shard"):
        verify_epoch(spark, out, 0)
    os.remove(extra)
    assert verify_epoch(spark, out, 0)["shards"] >= 1

    # the OTHER epoch was never touched: still verifies, still reads
    assert verify_epoch(spark, out, 1)["shards"] >= 1
    assert read_epoch_sequences(spark, out, 1, verify=True).count() > 0

    # old manifests (no digests) fail with guidance, not silently pass
    m = json.load(open(os.path.join(out, "_manifest.json")))
    for e in m["epochs"]:
        e.pop("shards")
    m["version"] = 1
    json.dump(m, open(os.path.join(out, "_manifest.json"), "w"))
    with _pytest.raises(ValueError, match="predates shard digests"):
        verify_epoch(spark, out, 0)


def test_export_sft_sequences(spark, tmp_path):
    """SFT export: whole docs only per sequence (no straddle), token
    budget respected, pad accounting exact, oversize flagged vs
    truncated, arrow shards round-trip."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sstable_migrator_spark.functions import text as TX
    from sstable_migrator_spark.pipelines.corpus import export_sft_sequences
    from sstable_migrator_spark.sinks.arrowshard import read_arrow_shards

    S = 12
    rows = [(i, " ".join(f"d{i}t{j}" for j in range((i * 5) % 7 + 2))) for i in range(30)]
    rows.append((99, " ".join(f"big{j}" for j in range(20))))  # oversize
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    out = str(tmp_path / "sft")
    stats = export_sft_sequences(docs, out, seq_tokens=S, seed=4, parts=2)
    assert stats["oversize"] == 1
    assert stats["docs"] == 30
    seqs = spark.read.parquet(out)
    assert seqs.count() == stats["sequences"]
    got = seqs.select(
        "seq_id", "n_docs", "n_tokens", "doc_starts",
        TX.token_count(F.col("seq_text")).alias("real"),
    ).collect()
    assert all(r["n_tokens"] == r["real"] for r in got)
    # boundaries: one start per member doc, first at 0, strictly
    # increasing, all inside the budget
    for r in got:
        ds = list(r["doc_starts"])
        assert len(ds) == r["n_docs"] and ds[0] == 0
        assert ds == sorted(set(ds)) and all(0 <= x < S for x in ds)
    assert all(r["n_tokens"] <= S for r in got)
    assert sum(r["n_tokens"] for r in got) == stats["tokens"]
    assert stats["pad_tokens"] == stats["sequences"] * S - stats["tokens"]
    # every doc token appears exactly once across all sequences
    all_toks = " ".join(r["seq_text"] for r in seqs.collect()).split()
    want_toks = [t for i, txt in rows if i != 99 for t in txt.split()]
    assert sorted(all_toks) == sorted(want_toks)

    # truncate: the oversize doc joins, charged exactly S
    out2 = str(tmp_path / "sft_trunc")
    st2 = export_sft_sequences(
        docs, out2, seq_tokens=S, seed=4, parts=2, overflow="truncate"
    )
    assert st2["oversize"] == 0 and st2["docs"] == 31
    tr = spark.read.parquet(out2)
    big = tr.filter(F.col("seq_text").contains("big0")).first()
    assert big["n_tokens"] <= S
    assert "big11" in big["seq_text"] and "big12" not in big["seq_text"]

    # arrow shards round-trip with the same rows
    out3 = str(tmp_path / "sft_arrow")
    st3 = export_sft_sequences(
        docs, out3, seq_tokens=S, seed=4, parts=2, shard_format="arrow",
        rows_per_shard=5,
    )
    back = read_arrow_shards(spark, out3)
    assert back.count() == st3["sequences"]
    with _pytest.raises(ValueError):
        export_sft_sequences(docs, str(tmp_path / "x"), shard_format="nope")
    # a non-whitespace separator would desync doc_starts (whitespace
    # token offsets) from the assembled text — refused up front
    with _pytest.raises(ValueError, match="separator"):
        export_sft_sequences(docs, str(tmp_path / "y"), separator="|")
    with _pytest.raises(ValueError, match="separator"):
        export_sft_sequences(docs, str(tmp_path / "z"), separator="")


def test_funnel_unicode_normalization(spark, tmp_path):
    """unicode_form='NFC': a decomposed spelling of an existing doc
    collapses at exact dedup; without it, the byte-distinct twin
    survives the whole funnel as a duplicate."""
    from pyspark.sql import functions as F

    base_text = (
        "caf\u00e9 terrace in spring is the painting people remember most "
        "from that museum visit and the gallery keeps it near the entrance"
    )
    denormal = base_text.replace("caf\u00e9", "cafe\u0301")  # -> decomposed
    docs = spark.createDataFrame(
        [(1, base_text, "en"), (2, denormal, "en"),
         (3, "an unrelated document about parquet files and arrow batches "
             "written plainly for the funnel to keep intact today", "en")],
        "doc_id long, text string, lang string",
    )
    raw = build_training_corpus(
        docs, str(tmp_path / "raw"), quality_min=0.0
    )
    norm = build_training_corpus(
        docs, str(tmp_path / "norm"), quality_min=0.0, unicode_form="NFC"
    )
    assert raw["exact"] == 3          # byte-distinct twins both survive
    assert norm["exact"] == 2         # normalized twins collapse
    kept = {r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "norm")).select("doc_id").distinct().collect()}
    assert kept == {1, 3}             # fingerprint-min survivor


def test_funnel_all_options_compose(spark, sf_dir, tmp_path):
    """Kitchen-sink funnel: unicode + C4 + keep-best + LSH cap +
    ExactSubstr strip + arrow shards in ONE run — the option
    interactions (unicode rewrites text before C4; C4 rewrites before
    quality; keep-best consumes capped pairs; span strip rewrites
    before chunking; arrow sink consumes the packed layout) must
    compose without dropping any stage's guarantees."""
    from sstable_migrator_spark.sinks.arrowshard import read_arrow_shards

    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # C4 keeps only >= 3 sentences of >= 5 words each ending in terminal
    # punctuation — restructure each synthetic doc into three sentences
    # so the c4 stage has survivors to hand the rest of the funnel
    tk = F.split(F.col("text"), " ")
    third = (F.size(tk) / 3).cast("int")
    sentences = F.concat(
        F.concat_ws(
            ". ",
            F.array_join(F.slice(tk, F.lit(1), third), " "),
            F.array_join(F.slice(tk, third + 1, third), " "),
            F.array_join(
                F.slice(tk, third * 2 + 1, F.size(tk) - third * 2), " "
            ),
        ),
        F.lit("."),
    )
    docs = (
        raw.filter(F.size(tk) >= 21)
        .limit(50)
        .select("doc_id", sentences.alias("text"), "lang", "source", "n_chars")
    )
    near = docs.limit(4).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat("text", F.lit(" And the of to is in it you.")).alias("text"),
        "lang", "source", "n_chars",
    )
    corpus = docs.unionByName(near)
    out = str(tmp_path / "sink")
    counts = build_training_corpus(
        corpus,
        out,
        quality_min=0.0,
        shard_tokens=400,
        shard_format="arrow",
        strip_spans_k=8,
        c4=True,
        lsh_max_bucket=64,
        near_dup_policy="keep_best",
        unicode_form="NFC",
    )
    # monotone funnel, every stage accounted, dedup did work
    assert counts["input"] == docs.count() + 4
    assert counts["input"] >= counts["quality"] >= counts["lang"] >= counts["exact"]
    assert counts["exact"] >= counts["near_dup_kept"]
    assert counts["chunks"] > 0
    back = read_arrow_shards(spark, out)
    assert back.count() == counts["chunks"]
    # keep-best flipped at least one planted pair (the enriched copies
    # out-score their originals) — unless C4 dropped the pair entirely,
    # in which case the survivor set must simply be consistent
    kept = {r["doc_id"] for r in back.select("doc_id").distinct().collect()}
    planted = {r["doc_id"] for r in near.select("doc_id").collect()}
    surviving_pairs = {d for d in planted if (d - 300000) in kept or d in kept}
    for d in surviving_pairs:
        assert not (d in kept and (d - 300000) in kept), (
            f"near-dup pair {d} both kept — dedup failed under composition"
        )


def test_funnel_sft_layout_end_to_end(spark, sf_dir, tmp_path):
    """layout='sft': the funnel's curated survivors flow into the
    whole-document greedy layout + doc_starts export in ONE governed
    call — the returned stats carry BOTH the curation attrition and
    the SFT pad accounting, and the written sequences equal a manual
    funnel-then-export composition."""
    from pyspark.sql import functions as F

    from sstable_migrator_spark.functions import text as TX

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.limit(40)
    exact_dup = base.filter(F.col("doc_id") == base.first()["doc_id"]).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    corpus = base.unionByName(exact_dup)

    S = 64
    out = str(tmp_path / "sft")
    stats = build_training_corpus(
        corpus, out, quality_min=0.0, layout="sft", seq_tokens=S, seq_seed=7
    )
    # one dict, both halves: curation attrition + pad accounting
    assert stats["input"] == 41
    assert stats["input"] >= stats["quality"] >= stats["lang"] >= stats["exact"]
    assert stats["exact"] < stats["lang"]  # planted exact dup died
    assert "chunks" not in stats
    assert stats["sequences"] > 0 and stats["tokens"] > 0
    assert stats["pad_tokens"] == stats["sequences"] * S - stats["tokens"]
    assert stats["docs"] + stats["oversize"] <= stats["near_dup_kept"]

    seqs = spark.read.parquet(out)
    assert seqs.count() == stats["sequences"]
    got = seqs.select(
        "seq_id", "n_docs", "n_tokens", "doc_starts",
        TX.token_count(F.col("seq_text")).alias("real"),
    ).collect()
    # no straddle: every sequence's assembled text is exactly its
    # accounted whole-document tokens, within budget, offsets aligned
    for r in got:
        assert r["n_tokens"] == r["real"] <= S
        assert len(r["doc_starts"]) == r["n_docs"]
        assert r["doc_starts"][0] == 0
        assert list(r["doc_starts"]) == sorted(set(r["doc_starts"]))

    # bogus layout refused
    import pytest as _pytest

    with _pytest.raises(ValueError, match="layout"):
        build_training_corpus(corpus, str(tmp_path / "x"), layout="nope")


def test_funnel_per_doc_attrition_ledger(spark, sf_dir, tmp_path):
    """ledger_dir=: one row per INPUT document naming the first stage
    that dropped it (quality/lang/exact_dup/near_dup) or 'kept' — and
    the ledger's rollup equals the returned stage counts exactly."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.limit(40)
    exact_dup = base.filter(F.col("doc_id") == base.first()["doc_id"]).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    near_dup = base.limit(3).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" tail token")).alias("text"),
        "lang", "source", "n_chars",
    )
    # a doc that dies at the LANG stage
    alien = base.limit(1).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text",
        F.lit("xx").alias("lang"), "source", "n_chars",
    )
    corpus = base.unionByName(exact_dup).unionByName(near_dup).unionByName(alien)

    out = str(tmp_path / "shards")
    led_dir = str(tmp_path / "ledger")
    counts = build_training_corpus(
        corpus, out, quality_min=0.0, shard_tokens=500, ledger_dir=led_dir
    )

    led = spark.read.parquet(led_dir)
    assert led.count() == counts["input"] == 45
    by_stage = {r["stage"]: r["n"] for r in led.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # the rollup IS the returned counts, stage by stage
    assert by_stage.get("quality", 0) == counts["input"] - counts["quality"]
    assert by_stage.get("lang", 0) == counts["quality"] - counts["lang"] == 1
    assert by_stage.get("exact_dup", 0) == counts["lang"] - counts["exact"] >= 1
    assert by_stage.get("near_dup", 0) == counts["exact"] - counts["near_dup_kept"]
    assert by_stage.get("kept", 0) == counts["near_dup_kept"]
    assert "c4" not in by_stage  # c4 disabled: nothing attributed to it
    # the planted rows carry the right verdicts by id
    verdicts = {r["doc_id"]: r["stage"] for r in led.collect()}
    assert verdicts[300000 + base.first()["doc_id"]] == "lang"
    assert verdicts[100000 + base.first()["doc_id"]] == "exact_dup"


def test_admission_report_reads_batch_funnel_ledger(spark, sf_dir, tmp_path):
    """ONE report over both ledger forms: admission_report over a real
    build_training_corpus(ledger_dir=) parquet rolls up exactly the
    funnel's returned stage counts, with the batch-only gates (c4/lang)
    attributed in their own columns and the gates the funnel does not
    run (ppl/decon/rep) honestly zero."""
    from pyspark.sql import functions as F

    from sstable_migrator_spark.pipelines.corpus import admission_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    alien = docs.limit(1).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text",
        F.lit("xx").alias("lang"), "source", "n_chars",
    )
    corpus = docs.unionByName(alien)
    out = str(tmp_path / "shards")
    led_dir = str(tmp_path / "ledger")
    counts = build_training_corpus(
        corpus, out, quality_min=0.0, shard_tokens=500, ledger_dir=led_dir
    )

    rep = admission_report(spark, led_dir).collect()
    assert len(rep) == 1  # one synthetic batch: a funnel run is one wave
    r = rep[0]
    assert r["batch"] == 0 and r["judged"] == counts["input"]
    assert r["admitted"] == counts["near_dup_kept"]
    assert r["quality_rejects"] == counts["input"] - counts["quality"]
    assert r["lang_rejects"] == counts["quality"] - counts["lang"] == 1
    assert r["exact_dups"] == counts["lang"] - counts["exact"]
    assert r["near_dup_hits"] == counts["exact"] - counts["near_dup_kept"]
    assert r["c4_rejects"] == 0  # c4 stage disabled in this run
    assert (r["ppl_rejects"], r["decon_rejects"], r["rep_rejects"]) == (0, 0, 0)
    assert r["rate_drift"] is False  # one batch == the all-time rate

    # a missing/bogus path refuses loudly, naming both accepted forms
    import pytest

    with pytest.raises(ValueError, match="_admissions"):
        admission_report(spark, str(tmp_path / "nowhere"))


def test_funnel_code_gates(spark, sf_dir, tmp_path):
    """license_policy= / code_quality=: the code gates drop their
    planted violations with first-drop ledger attribution, the stage
    counts land in the returned dict, and admission_report pivots the
    new gates into its reject columns."""
    from pyspark.sql import functions as F

    from sstable_migrator_spark.pipelines.corpus import admission_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # newline-ify the prose: the CODE mean-line screen (<=100 chars)
    # correctly rejects one-line prose documents, so the base corpus
    # must look line-structured for the gates-pass path to be the norm
    base = docs.limit(30).withColumn(
        "text", F.regexp_replace("text", " ", "\n")
    )
    gpl = base.limit(1).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            F.lit("Licensed under the GNU General Public License. "), "text"
        ).alias("text"),
        "lang", "source", "n_chars",
    )
    autogen = base.limit(1).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.lit("// AUTO-GENERATED, DO NOT EDIT\n"), "text").alias(
            "text"
        ),
        "lang", "source", "n_chars",
    )
    # violates BOTH gates -> must attribute to license (first drop)
    both = base.limit(1).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(
            F.lit("GNU General Public License\n// auto-generated\n"), "text"
        ).alias("text"),
        "lang", "source", "n_chars",
    )
    corpus = base.unionByName(gpl).unionByName(autogen).unionByName(both)

    out = str(tmp_path / "shards")
    led_dir = str(tmp_path / "ledger")
    counts = build_training_corpus(
        corpus,
        out,
        quality_min=0.0,
        shard_tokens=500,
        license_policy="exclude_copyleft",
        code_quality=True,
        ledger_dir=led_dir,
    )
    assert counts["input"] == 33
    assert counts["input"] - counts["license"] == 2  # gpl + both
    assert counts["license"] - counts["code_quality"] == 1  # autogen

    led = spark.read.parquet(led_dir)
    verdicts = {r["doc_id"]: r["stage"] for r in led.collect()}
    first = base.first()["doc_id"]
    assert verdicts[100000 + first] == "license"
    assert verdicts[300000 + first] == "license"  # first drop wins
    assert verdicts[200000 + first] == "code_quality"

    rep = admission_report(spark, led_dir).collect()[0]
    assert rep["license_rejects"] == 2
    assert rep["code_quality_rejects"] == 1
    assert rep["judged"] == 33

    # gates off -> no stage rows, no counts keys (unchanged behavior)
    counts2 = build_training_corpus(
        base, str(tmp_path / "shards2"), quality_min=0.0, shard_tokens=500,
        ledger_dir=str(tmp_path / "ledger2"),
    )
    assert "license" not in counts2 and "code_quality" not in counts2
    led2 = spark.read.parquet(str(tmp_path / "ledger2"))
    stages2 = {r["stage"] for r in led2.select("stage").distinct().collect()}
    assert "license" not in stages2 and "code_quality" not in stages2


def test_funnel_permissive_only_policy(spark, tmp_path):
    """license_policy='permissive_only' admits ONLY positively-
    identified permissive docs."""
    from pyspark.sql import functions as F  # noqa: F401

    rows = [
        (1, "SPDX-License-Identifier: MIT\nthe quick brown fox " * 3, "en", "s", 10),
        (2, "plain unlicensed text the quick brown fox " * 3, "en", "s", 10),
        (3, "GNU General Public License " + "the quick brown fox " * 3, "en", "s", 10),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    counts = build_training_corpus(
        docs, str(tmp_path / "out"), quality_min=0.0, shard_tokens=500,
        license_policy="permissive_only",
    )
    assert counts["input"] == 3 and counts["license"] == 1

    import pytest

    with pytest.raises(ValueError, match="policy"):
        build_training_corpus(
            docs, str(tmp_path / "out2"), license_policy="nope"
        )

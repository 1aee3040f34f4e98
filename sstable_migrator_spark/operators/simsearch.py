"""Similarity search over embedding columns (north-star extension).

- ``brute_force_topk``: exact cosine top-k. The query set is broadcast;
  the corpus is scanned once with no shuffle of the corpus — per-query
  top-k via window over (query_id) on the (small) scored side. This is
  the 100 TB-sane baseline: one pass, k x |Q| rows shuffled.
- ``lsh_bucketize`` + ``lsh_topk``: random-hyperplane (cosine) LSH.
  Corpus gets a b-bit signature (pure expression); queries probe their
  own bucket (optionally hamming-adjacent buckets); candidates are
  scored exactly. Recall < 1 by construction — the scale path when one
  pass over the corpus per query batch is too much.
- ``ivf_assign`` + ``ivf_topk``: IVF-flat over fixed centroids. Cell
  assignment is a MAP-ONLY pass (numpy batch matmul in mapInPandas, the
  centroid matrix riding the task closure — no shuffle, no window);
  queries probe their n_probe nearest cells and score only those cells'
  vectors exactly. At 100 TB the corpus is written ``partitionBy(cell)``
  once, so a probe prunes to n_probe/n_cells of the data before any
  scan.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T



def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine. Returns
    (query_id, neighbor_id, cosine, rank), rank 1..k, ties broken by
    neighbor id for determinism. Scoring is the shared Arrow kernel
    (round 10, guide §4.2 — the ``VX.cosine`` expression form is three
    interpreted HOF folds per row; bit-identity argument at
    ``_score_candidates_cosine``)."""
    from pyspark.sql import Window

    cand = corpus.crossJoin(F.broadcast(queries)).select(
        F.col(query_id).alias("query_id"),
        F.col(corpus_id),
        F.col(corpus_vec),
        F.col(query_vec).alias("_qv"),
    )
    scored = _score_candidates_cosine(
        cand, corpus_id, corpus_vec
    ).withColumnRenamed("query_id", query_id)
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def make_hyperplanes(dim: int, bits: int, seed: int = 7) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def lsh_bucketize(
    df: DataFrame, planes: list[list[float]], vec_col: str = "embedding", out_col: str = "lsh_bucket"
) -> DataFrame:
    """Attach a b-bit random-hyperplane signature as an int bucket id.
    Map-only at any scale; partitioned-by-bucket writes then give
    co-located candidates. Round 10 (guide §4.2): the signature is an
    Arrow kernel — the pure-expression form (a zip_with + aggregate
    sign fold per plane) is three interpreted HOF folds PER PLANE per
    row (~1 ms/row at dim 64, and the dim-expanded codegen form blows
    the 64 KB method limit). Bucket-identical to the fold by construction: per plane,
    ``np.cumsum(v * plane, axis=1)`` forces the fold's left-to-right
    addition order (never np.sum's pairwise shortcut), the sign test
    and bit weights are unchanged. Width contract: every vector must
    match the planes' dim — a ragged batch fails np.stack loudly
    (the old fold silently produced all-zero bits there, which is a
    degenerate bucket, never a meaningful one)."""
    import numpy as np
    import pandas as pd

    pmat = np.array(planes, dtype=np.float64)  # bits x dim
    weights = (1 << np.arange(len(planes))).astype(np.int64)
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.IntegerType())]
    )

    def bucketize(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            sig = np.zeros(len(pdf), dtype=np.int64)
            for i in range(pmat.shape[0]):
                d = np.cumsum(v * pmat[i], axis=1)[:, -1]
                sig += np.where(d >= 0, weights[i], 0)
            out = pdf.copy()
            out[out_col] = sig.astype(np.int32)
            yield out

    return df.mapInPandas(bucketize, out_schema)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing the query's
    LSH bucket. Same output shape as brute_force_topk (rank within
    candidates)."""
    from pyspark.sql import Window

    c = lsh_bucketize(corpus, planes, corpus_vec, "_cb")
    q = lsh_bucketize(queries, planes, query_vec, "_qb")
    cand = c.join(F.broadcast(q), F.col("_cb") == F.col("_qb")).select(
        F.col(query_id).alias("query_id"),
        F.col(corpus_id),
        F.col(corpus_vec),
        F.col(query_vec).alias("_qv"),
    )
    scored = _score_candidates_cosine(
        cand, corpus_id, corpus_vec
    ).withColumnRenamed("query_id", query_id)
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# --- IVF-flat (inverted-file) ANN -----------------------------------------


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    seed: int = 7,
    max_iter: int = 20,
) -> list[tuple[int, list[float]]]:
    """Distributed IVF centroid training: MLlib KMeans (Lloyd over
    executor-aggregated partial sums — the 100 TB construction path;
    ``pq_train``'s driver-side sampled Lloyd stays for PQ codebooks,
    which are a KB-sized model). Returns ``[(cell_id, centroid)]`` in
    the ``ivf_assign`` contract, ordered by cell id. The centroid list
    itself is k*dim floats — closure-broadcast downstream exactly like
    the fixed-centroid path."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("_f")
    )
    model = KMeans(
        k=k, seed=seed, maxIter=max_iter, featuresCol="_f"
    ).fit(feat)
    return [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Attach each vector's nearest-centroid cell id. Map-only (no
    shuffle): the scale path writes the result partitionBy(cell) so
    probes become partition pruning.

    Implementation is mapInPandas + one numpy batch matmul per Arrow
    batch (rows x dim @ dim x n_cells, argmax per row). A pure-Column
    expression form was tried and removed: n_cells interpreted
    zip_with/aggregate lambdas PER ROW cost ~1µs per boxed element-op,
    so 2k rows x 64 cells x 64 dims is already seconds; the vectorized
    kernel does the same flops in milliseconds and is the 100 TB path
    (centroid matrix rides the task closure, one BLAS call per batch).
    Ordering: max dot against unit-normalized centroids (centroid norms
    divided out host-side, the vector's own norm is cell-invariant so
    the order equals cosine order), ties -> lowest cell id (argmax
    picks the first of the cell-id-sorted rows)."""
    import math

    import numpy as np

    ordered = sorted(((int(cid), cv) for cid, cv in centroids), key=lambda t: t[0])
    cmat = np.array(
        [
            [x / (math.sqrt(sum(y * y for y in cv)) or 1.0) for x in cv]
            for _, cv in ordered
        ],
        dtype=np.float64,
    ).T  # dim x n_cells
    cell_ids = np.array([cid for cid, _ in ordered], dtype=np.int64)
    # fresh StructType — StructType.add() mutates the DataFrame's cached
    # schema object in place, corrupting df.columns
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(cell_col, T.IntegerType(), False)]
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            idx = np.argmax(v @ cmat, axis=1)
            pdf[cell_col] = cell_ids[idx].astype(np.int32)
            yield pdf

    return df.mapInPandas(assign, out_schema)


def ivf_probe_cells(
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_probe: int = 2,
    vec_col: str = "query_vec",
    probe_col: str = "_probe",
) -> DataFrame:
    """One row per (query, probed cell): the n_probe nearest cells by
    unit-centroid dot, numpy-vectorized like ivf_assign (stable argsort
    on (-dot, cell-id order) -> ties break to the lower cell id, the
    same max-affinity/lowest-cell-id rule as ivf_assign)."""
    import math

    import numpy as np

    ordered = sorted(((int(cid), cv) for cid, cv in centroids), key=lambda t: t[0])
    cmat = np.array(
        [
            [x / (math.sqrt(sum(y * y for y in cv)) or 1.0) for x in cv]
            for _, cv in ordered
        ],
        dtype=np.float64,
    ).T
    cell_ids = np.array([cid for cid, _ in ordered], dtype=np.int64)
    p = min(n_probe, len(ordered))
    out_schema = T.StructType(
        list(queries.schema.fields) + [T.StructField(probe_col, T.IntegerType(), False)]
    )

    def probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # stable sort keeps cell-id order among exact dot ties
            top = np.argsort(-(v @ cmat), axis=1, kind="stable")[:, :p]
            rep = pdf.loc[pdf.index.repeat(p)].reset_index(drop=True)
            rep[probe_col] = cell_ids[top.ravel()].astype(np.int32)
            yield rep

    return queries.mapInPandas(probe, out_schema)


def _score_candidates_cosine(
    cand: DataFrame, corpus_id: str, corpus_vec: str
) -> DataFrame:
    """(query_id, neighbor_id, cosine) over joined candidate rows
    carrying ``corpus_vec`` and the query vector ``_qv`` — the exact
    serve-path scorer, as an Arrow kernel (round-10, guide §4.2).

    The expression form (``VX.cosine``) is three interpreted
    higher-order folds per row — Spark never codegens lambda bodies —
    and at |queries| x |probed candidates| rows it dominated the
    set-to-set serve (measured: 2.1 s of q236's 3.3 s at sf0.1; ~0.4 s
    as this kernel). BIT-IDENTICAL by construction, not approximately:
    products are elementwise IEEE doubles, and ``np.cumsum`` produces
    every prefix sum, which forces the same left-to-right addition
    chain as ``aggregate(zip_with(a, b, *), 0.0, +)`` — numpy's usual
    pairwise-summation shortcut (np.sum) is exactly what this must NOT
    use. sqrt/division are correctly-rounded IEEE ops in both engines;
    the zero-norm guard mirrors VX.cosine's ``otherwise(0.0)``."""
    import numpy as np
    import pandas as pd

    qid_field = cand.schema["query_id"]
    nid_type = cand.schema[corpus_id].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", qid_field.dataType),
            T.StructField("neighbor_id", nid_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[corpus_vec].to_numpy()).astype(np.float64)
            q = np.stack(pdf["_qv"].to_numpy()).astype(np.float64)
            d = np.cumsum(v * q, axis=1)[:, -1]
            nc = np.sqrt(np.cumsum(v * v, axis=1)[:, -1])
            nq = np.sqrt(np.cumsum(q * q, axis=1)[:, -1])
            ok = (nc > 0) & (nq > 0)
            # avoid 0/0 warnings; masked lanes are overwritten with 0.0
            denom = np.where(ok, nc * nq, 1.0)
            cos = np.where(ok, d / denom, 0.0)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf[corpus_id],
                    "cosine": cos,
                }
            )

    return cand.select("query_id", corpus_id, corpus_vec, "_qv").mapInPandas(
        score, out_schema
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """IVF-flat approximate top-k: each query probes its ``n_probe``
    nearest cells and scores only vectors assigned there. Same output
    shape as brute_force_topk (rank within probed candidates). The
    probe table (|Q| x n_probe rows) is broadcast; the corpus never
    shuffles."""
    from pyspark.sql import Window

    c = ivf_assign(corpus, centroids, corpus_vec, "_cell")
    # probe selection is the same numpy kernel as assignment (top
    # n_probe cells by unit-centroid dot, ties -> lower cell id via the
    # cell-id-sorted stable argsort). The expression form built
    # n_cells x dim literal columns PER CALL — ~1s of pure plan
    # construction at 64 cells before any data moved.
    probes = ivf_probe_cells(queries, centroids, n_probe, query_vec, "_probe")
    cand = c.join(F.broadcast(probes), F.col("_cell") == F.col("_probe")).select(
        F.col(query_id).alias("query_id"),
        F.col(corpus_id),
        F.col(corpus_vec),
        F.col(query_vec).alias("_qv"),
    )
    scored = _score_candidates_cosine(
        cand, corpus_id, corpus_vec
    ).withColumnRenamed("query_id", query_id)
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# --- product quantization (IVF-PQ's compression half) ----------------------


def pq_train(
    sample: "list[list[float]]", m: int = 4, k: int = 16, iters: int = 10
):
    """Train PQ codebooks (Jegou et al. 2011, "Product Quantization for
    Nearest Neighbor Search") on a DRIVER-SIDE sample: the vector
    splits into ``m`` subspaces, each quantized by its own k-means
    codebook of ``k`` centroids. Deterministic: init takes every
    (len/k)-th sample point (no RNG), Lloyd iterations are pure numpy.
    The sample is the scale control — codebooks are a fixed-size model
    (m*k*dsub floats, KBs), trained once on ~10-100k sampled vectors
    regardless of corpus size, exactly like the IVF centroid index.
    Returns an (m, k, dsub) ndarray."""
    import numpy as np

    x = np.asarray(sample, dtype=np.float64)
    n, dim = x.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = np.empty((m, k, dsub))
    for s in range(m):
        sub = x[:, s * dsub : (s + 1) * dsub]
        # init from DISTINCT sub-vectors, spread across their sorted
        # order — a strided pick over raw rows can land on k copies of
        # one point (clustered data), which Lloyd can never split
        uniq = np.unique(sub, axis=0)
        if len(uniq) >= k:
            cents = uniq[np.linspace(0, len(uniq) - 1, k).astype(int)].copy()
        else:
            cents = uniq[np.arange(k) % len(uniq)].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
        books[s] = cents
    return books


def pq_assign(
    df: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    centroids: "list[tuple[int, list[float]]] | None" = None,
    cell_col: str = "cell",
) -> DataFrame:
    """Map-only PQ encoding: each vector becomes ``m`` small codes
    (array<int>, one codebook index per subspace) via a vectorized
    numpy argmin per Arrow batch — the codebooks ride the task closure.
    At 100 TB this is the compression pass that turns a 64-float
    embedding into m bytes; no shuffle anywhere.

    Pass ``centroids`` for RESIDUAL encoding (the standard IVF-PQ form,
    Jegou et al. 2011 §III: quantize ``vector - assigned_centroid``
    rather than the raw vector — residuals concentrate around zero, so
    the same code budget spends its resolution on the part of the
    vector the cell id hasn't already explained, which is materially
    better recall at the same bytes). Requires ``cell_col`` on ``df``
    (ivf_assign's output); the centroid matrix rides the closure next
    to the codebooks. Still map-only."""
    import numpy as np

    books = np.asarray(codebooks)
    m, _k, dsub = books.shape
    out_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in df.schema.fields)
    cent_by_id = None
    if centroids is not None:
        if cell_col not in df.columns:
            raise ValueError(
                f"residual encoding needs the cell column {cell_col!r} "
                "(run ivf_assign first)"
            )
        cent_by_id = {
            int(c): np.asarray(v, dtype=np.float64) for c, v in centroids
        }

    def enc(batches):
        for pdf in batches:
            if len(pdf) == 0:  # np.stack([]) raises; same guard as ivf_assign
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if cent_by_id is not None:
                cells = pdf[cell_col].to_numpy()
                v = v - np.stack([cent_by_id[int(c)] for c in cells])
            codes = np.empty((len(v), m), dtype=np.int32)
            for s in range(m):
                sub = v[:, s * dsub : (s + 1) * dsub]
                d2 = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d2.argmin(axis=1)
            pdf = pdf.copy()
            pdf[out_col] = list(codes)
            yield pdf

    return df.mapInPandas(enc, f"{out_fields}, {out_col} array<int>")


def pq_adc_topk(
    df_codes: DataFrame,
    codebooks,
    query: "list[float]",
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Asymmetric distance computation: the query stays un-quantized;
    a per-query (m x k) lookup table of squared distances to every
    codebook centroid is built on the driver (m*k floats) and folded
    into a pure EXPRESSION over the code array — approx distance =
    sum_s lut[s][code_s]. The corpus is scanned once, reading only the
    m-int code column (the point of PQ: the scan touches codes, never
    raw vectors); top-k via global sort-limit (TakeOrderedAndProject).
    Returns (id, approx_d2) ascending."""
    import numpy as np

    books = np.asarray(codebooks)
    m, kk, dsub = books.shape
    q = np.asarray(query, dtype=np.float64)
    lut = np.empty((m, kk))
    for s in range(m):
        lut[s] = ((books[s] - q[s * dsub : (s + 1) * dsub]) ** 2).sum(axis=1)
    lut_lit = F.array(*[
        F.array(*[F.lit(float(lut[s][c])) for c in range(kk)]) for s in range(m)
    ])
    dist = F.aggregate(
        F.zip_with(
            F.col(code_col),
            lut_lit,
            lambda code, row: F.element_at(row, code + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        df_codes.select(F.col(id_col), dist.alias("approx_d2"))
        .orderBy(F.col("approx_d2").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: "list[tuple[int, list[float]]]",
    centroids: list[tuple[int, list[float]]],
    codebooks,
    k: int = 10,
    n_probe: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """The composed 100 TB ANN path: IVF cell pruning + PQ-ADC scoring
    (IVF-PQ, the FAISS default). The corpus is cell-assigned and
    PQ-encoded (both map-only; at scale both are precomputed at write
    time and the table is partitionBy(cell)); each query probes its
    n_probe nearest cells, and candidates are scored by ADC lookup —
    the scan reads m code ints per row, never the raw embedding.

    ``queries`` is an explicit (id, vector) list: query sets are small
    by definition (they are the probe side), and their LUTs — (m x k')
    squared-distance tables, KBs total — ride the task closure, so
    scoring needs no per-query join. Ranking is a per-query window over
    probed candidates only. Returns (query_id, neighbor_id, approx_d2,
    rank) with rank 1 = nearest."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    books = np.asarray(codebooks)
    m, kk, dsub = books.shape
    luts = {}
    probe_rows = []
    cents = sorted(centroids)
    cent_mat = np.stack([np.asarray(v, dtype=np.float64) for _, v in cents])
    cent_ids = np.asarray([c for c, _ in cents])
    # probe by the SAME rule ivf_assign places corpus vectors with
    # (max dot against unit centroids, ties -> lowest cell id) — a
    # different probe metric would prune cells the true neighbors
    # actually live in. Query-invariant normalization hoisted out of
    # the loop.
    norms = np.linalg.norm(cent_mat, axis=1, keepdims=True)
    unit = np.divide(cent_mat, norms, out=np.zeros_like(cent_mat), where=norms > 0)
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float64)
        lut = np.empty((m, kk))
        for s in range(m):
            lut[s] = ((books[s] - q[s * dsub : (s + 1) * dsub]) ** 2).sum(axis=1)
        luts[int(qid)] = lut
        order = np.argsort(-(unit @ q), kind="stable")[:n_probe]
        for c in cent_ids[order]:
            probe_rows.append((int(qid), int(c)))

    spark = corpus.sparkSession
    probes = F.broadcast(
        spark.createDataFrame(probe_rows, "query_id long, _probe int")
    )
    coded = pq_assign(
        ivf_assign(corpus, centroids, corpus_vec, "_cell"),
        books,
        vec_col=corpus_vec,
    )
    cand = coded.join(probes, F.col("_cell") == F.col("_probe")).select(
        "query_id", F.col(corpus_id).alias("neighbor_id"), "pq_code"
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:  # sparse probe joins leave empty batches
                continue
            codes = np.stack(pdf["pq_code"].to_numpy()).astype(np.int64)
            qids = pdf["query_id"].to_numpy()
            d = np.empty(len(pdf))
            for qid in np.unique(qids):
                mask = qids == qid
                lut = luts[int(qid)]
                c = codes[mask]
                d[mask] = lut[np.arange(m)[None, :], c].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "approx_d2": d,
                }
            )

    id_type = corpus.schema[corpus_id].dataType.simpleString()
    scored = cand.mapInPandas(
        score, f"query_id long, neighbor_id {id_type}, approx_d2 double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )

# --- persisted ANN index (build/serve split) --------------------------------
#
# The amortization discipline retrieval.py established for BM25
# (write_postings_index / bm25_topk_from_postings) applied to the
# vector family: at 100 TB the IVF centroids, PQ codebooks, and the
# cell-assigned / PQ-encoded corpus are DAYS of compute — serving must
# read a persisted artifact, never rebuild per query. Layout:
#
#   <path>/cell=<c>/...      corpus rows (id, embedding[, pq_code]),
#                            parquet partitioned by IVF cell — a probe
#                            prunes to n_probe directories before any
#                            scan (PartitionFilters, test-pinned)
#   <path>/_centroids/       (cell_id, centroid) — the model, KBs
#   <path>/_codebooks/       (subspace, code, centroid) — PQ model,
#                            present only when built with codebooks
#   <path>/_params.json      {dim, n_cells, pq_m, pq_k, metric} — the
#                            drift guard (dedup state's sidecar
#                            pattern): an append or serve against an
#                            index built with different geometry fails
#                            loudly instead of silently mis-ranking.


def write_ann_index_params(
    path: str,
    dim: int,
    n_cells: int,
    pq_m: int | None = None,
    pq_k: int | None = None,
    pq_residual: bool = False,
) -> None:
    """Record the geometry a persisted ANN index was built with, as
    ``<path>/_params.json`` (underscore files are invisible to parquet
    readers). Drift in any field silently breaks serving — wrong-dim
    appends crash deep inside a numpy kernel, a different cell count
    mis-prunes, different PQ geometry decodes garbage — so
    ``check_ann_index_params`` refuses up front instead."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "_params.json"), "w") as fh:
        json.dump(
            {
                "dim": int(dim),
                "n_cells": int(n_cells),
                "pq_m": None if pq_m is None else int(pq_m),
                "pq_k": None if pq_k is None else int(pq_k),
                # residual=True means pq_code encodes (vector - assigned
                # centroid): decoding/ADC against the wrong convention
                # ranks garbage, so it is geometry, not a tuning knob
                "pq_residual": bool(pq_residual),
                "metric": "cosine",
            },
            fh,
        )


def check_ann_index_params(
    path: str,
    dim: int | None = None,
    n_cells: int | None = None,
    pq_m: int | None = ...,
    pq_k: int | None = ...,
) -> dict | None:
    """Assert a persisted ANN index's recorded geometry matches the
    caller's expectations (pass None/... to skip a field; ``pq_m``/
    ``pq_k`` default to unchecked because serving reads them FROM the
    sidecar). Returns the recorded params, or None when the sidecar is
    absent. Raises ValueError on any mismatch — the loud-refusal
    contract shared with check_dedup_state_params."""
    import json
    import os

    p = os.path.join(path, "_params.json")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        rec = json.load(fh)
    want = {"dim": dim, "n_cells": n_cells}
    if pq_m is not ...:
        want["pq_m"] = pq_m
    if pq_k is not ...:
        want["pq_k"] = pq_k
    for key, val in want.items():
        if val is not None and rec.get(key) != val:
            raise ValueError(
                f"ANN index at {path} was built with {key}="
                f"{rec.get(key)!r}, but this call expects {val!r} — "
                "geometry drift silently mis-ranks; rebuild the index "
                "or fix the caller"
            )
    return rec


def write_ann_index(
    corpus: DataFrame,
    path: str,
    centroids: list[tuple[int, list[float]]],
    codebooks=None,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    pq_residual: bool = False,
) -> dict:
    """Persist the corpus as a SERVABLE ANN INDEX: cell-assign every
    vector (``ivf_assign``, map-only), optionally PQ-encode it
    (``pq_assign``, map-only), and write parquet ``partitionBy(cell)``
    so a query's probe prunes to its n_probe cells' directories before
    any scan. The models ride along: centroids in ``_centroids``,
    codebooks in ``_codebooks``, geometry in ``_params.json``. One
    corpus pass total; the second query costs an index lookup, never a
    re-assignment. Same shared-filesystem contract as every persisted
    store here (sinks.scratch_path / SPARK_GRAFT_SCRATCH). Returns
    ``{n_cells, dim, pq_m, pq_k, pq_residual}``."""
    import os

    import numpy as np

    spark = corpus.sparkSession
    cents = sorted(((int(c), list(map(float, v))) for c, v in centroids))
    dim = len(cents[0][1])
    if pq_residual and codebooks is None:
        raise ValueError("pq_residual=True needs codebooks")
    assigned = ivf_assign(corpus, cents, corpus_vec, "cell")
    pq_m = pq_k = None
    if codebooks is not None:
        books = np.asarray(codebooks)
        pq_m, pq_k, dsub = books.shape
        if pq_m * dsub != dim:
            raise ValueError(
                f"codebooks cover dim {pq_m * dsub}, centroids have dim {dim}"
            )
        assigned = pq_assign(
            assigned,
            books,
            vec_col=corpus_vec,
            centroids=cents if pq_residual else None,
        )
    assigned.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)
    from sstable_migrator_spark.sinks import local_rows_df

    local_rows_df(
        spark, [(c, v) for c, v in cents], "cell_id int, centroid array<double>"
    ).write.mode("overwrite").parquet(
        os.path.join(path, "_centroids")
    )
    if codebooks is not None:
        rows = [
            (s, c, [float(x) for x in books[s][c]])
            for s in range(pq_m)
            for c in range(pq_k)
        ]
        local_rows_df(
            spark, rows, "subspace int, code int, centroid array<double>"
        ).write.mode("overwrite").parquet(
            os.path.join(path, "_codebooks")
        )
    write_ann_index_params(path, dim, len(cents), pq_m, pq_k, pq_residual)
    return {
        "n_cells": len(cents), "dim": dim, "pq_m": pq_m, "pq_k": pq_k,
        "pq_residual": bool(pq_residual),
    }


def read_ann_centroids(spark, path: str) -> list[tuple[int, list[float]]]:
    """The index's own centroid model — n_cells rows (bounded: the
    model is KBs at any corpus scale), in the list form every IVF
    function here takes.

    Read DRIVER-side with pyarrow (round-10): a KB-sized sidecar does
    not need a cluster job — the Spark read+collect it replaces cost a
    full scheduler round trip per serve call. Same visibility contract
    as ``_params.json`` (already plain ``open()``): the index path is
    on the shared filesystem the driver and executors both see."""
    import os

    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(path, "_centroids"))
    pairs = zip(tbl.column("cell_id").to_pylist(), tbl.column("centroid").to_pylist())
    return sorted((int(c), [float(x) for x in v]) for c, v in pairs)


def read_ann_codebooks(spark, path: str):
    """The index's PQ codebooks as the (m, k, dsub) ndarray ``pq_*``
    functions take, or None for an IVF-flat index (no ``_codebooks``
    directory — flat indexes store raw vectors instead). Driver-side
    pyarrow read — see read_ann_centroids."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    p = os.path.join(path, "_codebooks")
    if not os.path.isdir(p):
        return None
    tbl = pq.read_table(p)
    subs = tbl.column("subspace").to_pylist()
    codes = tbl.column("code").to_pylist()
    cents = tbl.column("centroid").to_pylist()
    m = max(subs) + 1
    k = max(codes) + 1
    dsub = len(cents[0])
    books = np.empty((m, k, dsub))
    for s, c, v in zip(subs, codes, cents):
        books[s][c] = v
    return books


def append_ann_index(
    new_vecs: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """INCREMENTAL vector append — the update_postings_index analog:
    assign the NEW vectors to cells with the index's OWN centroids
    (and encode with its own codebooks when present), then append into
    the same ``cell=`` directories. A cell's vectors living in several
    files is invisible to serving (per-row scan). Appending an
    already-indexed id is the caller's bug, exactly as for postings —
    gate admission upstream. Geometry is guarded: wrong-dim vectors
    are refused loudly via the ``_params.json`` sidecar before any
    cluster work. Single-writer discipline, same as every store
    here."""
    spark = new_vecs.sparkSession
    rec = check_ann_index_params(path)
    if rec is None:
        raise ValueError(
            f"no ANN index at {path} (missing _params.json); build it "
            "with write_ann_index first"
        )
    # validate EVERY row's width, not just the first: a mixed-dim batch
    # (row 1 right, row N wrong) would otherwise pass and die inside
    # ivf_assign's np.stack/matmul with an opaque kernel error. One
    # map-side min/max agg over data that is about to be scanned anyway.
    dims = new_vecs.agg(
        F.min(F.size(corpus_vec)).alias("lo"), F.max(F.size(corpus_vec)).alias("hi")
    ).first()
    if dims["lo"] is None:
        return  # empty append: nothing to place
    if int(dims["lo"]) != rec["dim"] or int(dims["hi"]) != rec["dim"]:
        raise ValueError(
            f"ANN index at {path} was built with dim={rec['dim']}, but "
            f"the appended vectors have dims in "
            f"[{int(dims['lo'])}, {int(dims['hi'])}] — refusing the whole "
            "append (a mixed-width batch would crash inside the "
            "assignment kernel after partial placement)"
        )
    cents = read_ann_centroids(spark, path)
    assigned = ivf_assign(new_vecs, cents, corpus_vec, "cell")
    books = read_ann_codebooks(spark, path)
    if books is not None:
        # encode with the index's OWN convention: a residual index
        # appended with raw-vector codes would silently mis-rank
        assigned = pq_assign(
            assigned,
            books,
            vec_col=corpus_vec,
            centroids=cents if rec.get("pq_residual") else None,
        )
    assigned.repartition("cell").write.mode("append").partitionBy(
        "cell"
    ).parquet(path)


def ann_topk_from_index(
    spark,
    path: str,
    queries: "list[tuple[int, list[float]]]",
    k: int = 10,
    n_probe: int = 2,
    scoring: str = "exact",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    max_list_queries: int = 4096,
) -> DataFrame:
    """Approximate top-k served from a persisted ``write_ann_index`` —
    the serve-path twin of ``ivf_topk``/``ivf_pq_topk``: identical
    ranking (test- and oracle-pinned), but centroids/codebooks come
    from the index itself and the scan is PARTITION-PRUNED to the
    queries' probed cells (``PartitionFilters`` on ``cell``), so cost
    scales with the probed cells, not the corpus.

    ``queries`` is an explicit (id, vector) list — the ivf_pq_topk
    convention: the probe set must be known driver-side for pruning to
    reach the parquet scan, and query sets are small by definition
    (they are the probe side). Probing uses the SAME rule ivf_assign
    places vectors with (max dot against unit centroids, ties ->
    lowest cell id).

    ``scoring="exact"`` reads (id, embedding) from the probed cells
    and ranks by true cosine — IVF-flat, rank-identical to
    ``ivf_topk``. ``scoring="adc"`` reads (id, pq_code) ONLY (column
    pruning: the scan never touches raw vectors) and ranks by the PQ
    asymmetric distance — rank-identical to ``ivf_pq_topk``; requires
    an index built with codebooks."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    import math

    if scoring not in ("exact", "adc"):
        raise ValueError(f"scoring must be 'exact' or 'adc', got {scoring!r}")
    if not queries:
        raise ValueError("empty query list")
    if len(queries) > max_list_queries:
        # the LIST path rides every query's vector (and, for ADC, its
        # m x k float64 LUT) in the task closure — a 100k-query list
        # silently balloons every task. DataFrame-sized query sets
        # belong on ann_join, which keeps vectors distributed and
        # computes LUTs executor-side.
        raise ValueError(
            f"{len(queries)} queries exceeds the list-serving bound "
            f"({max_list_queries}): per-query vectors/LUTs ride the task "
            "closure here. Use ann_join(queries_df, path, ...) for "
            "large or DataFrame-shaped query sets (it keeps the query "
            "side distributed), or raise max_list_queries explicitly."
        )
    rec = check_ann_index_params(path, dim=len(queries[0][1]))
    if rec is None:
        # a sidecar-less directory is a crashed/partial build (the
        # params stamp is the LAST write): serving it would skip the
        # geometry guard silently — refuse and rebuild instead
        raise ValueError(
            f"no ANN index at {path} (missing _params.json — partial "
            "build?); build it with write_ann_index"
        )
    cents = read_ann_centroids(spark, path)
    # bit-identical probe recipe to ivf_probe_cells (same host-side
    # per-element normalization, same batch GEMM, same stable argsort)
    # so serving ranks EXACTLY like the in-memory path the oracle pins
    cmat = np.array(
        [
            [x / (math.sqrt(sum(y * y for y in cv)) or 1.0) for x in cv]
            for _, cv in cents
        ],
        dtype=np.float64,
    ).T  # dim x n_cells
    cell_ids = np.array([c for c, _ in cents], dtype=np.int64)
    p = min(n_probe, len(cents))
    qmat = np.array(
        [[float(x) for x in qv] for _, qv in queries], dtype=np.float64
    )
    top = np.argsort(-(qmat @ cmat), axis=1, kind="stable")[:, :p]
    probe_rows = [
        (int(qid), int(cell_ids[c]))
        for (qid, _), row in zip(queries, top)
        for c in row
    ]
    want_cells = sorted({c for _, c in probe_rows})
    probes = F.broadcast(
        spark.createDataFrame(probe_rows, "query_id long, _probe int")
    )

    if scoring == "exact":
        qvecs = F.broadcast(
            spark.createDataFrame(
                [(int(qid), [float(x) for x in qv]) for qid, qv in queries],
                "query_id long, _qv array<double>",
            )
        )
        cand = (
            spark.read.parquet(path)
            .filter(F.col("cell").isin(want_cells))
            .select(corpus_id, corpus_vec, "cell")
            .join(probes, F.col("cell") == F.col("_probe"))
            .join(qvecs, "query_id")
        )
        scored = _score_candidates_cosine(cand, corpus_id, corpus_vec)
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )

    books = read_ann_codebooks(spark, path)
    if books is None:
        raise ValueError(
            f"ANN index at {path} has no codebooks; scoring='adc' needs "
            "an index built with write_ann_index(..., codebooks=)"
        )
    m, kk, dsub = books.shape
    residual = bool(rec.get("pq_residual"))
    # LUTs: one (m x kk) table per query — or per (query, probed cell)
    # for a RESIDUAL index, where codes encode (vector - cell centroid)
    # so the query must be expressed in the same cell-relative frame:
    # lut[(q, cell)][s][c] = ||(q - centroid_cell)_s - book[s][c]||^2.
    # Still bounded: |Q| x n_probe tables, and |Q| <= max_list_queries.
    cent_by_id = {int(c): np.asarray(v, dtype=np.float64) for c, v in cents}
    qv_by_id = {int(qid): np.asarray(qv, dtype=np.float64) for qid, qv in queries}
    luts = {}
    if residual:
        for qid, cell in probe_rows:
            q = qv_by_id[qid] - cent_by_id[cell]
            lut = np.empty((m, kk))
            for s in range(m):
                lut[s] = (
                    (books[s] - q[s * dsub : (s + 1) * dsub]) ** 2
                ).sum(axis=1)
            luts[(qid, cell)] = lut
    else:
        for qid, q in qv_by_id.items():
            lut = np.empty((m, kk))
            for s in range(m):
                lut[s] = (
                    (books[s] - q[s * dsub : (s + 1) * dsub]) ** 2
                ).sum(axis=1)
            luts[qid] = lut
    cand = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(want_cells))
        .select(corpus_id, "pq_code", "cell")
        .join(probes, F.col("cell") == F.col("_probe"))
        .select(
            "query_id", F.col(corpus_id).alias("neighbor_id"),
            "pq_code", F.col("cell").cast("int").alias("cell"),
        )
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack(pdf["pq_code"].to_numpy()).astype(np.int64)
            qids = pdf["query_id"].to_numpy()
            cells = pdf["cell"].to_numpy()
            d = np.empty(len(pdf))
            for qid in np.unique(qids):
                mask = qids == qid
                if residual:
                    for cell in np.unique(cells[mask]):
                        mm = mask & (cells == cell)
                        d[mm] = luts[(int(qid), int(cell))][
                            np.arange(m)[None, :], codes[mm]
                        ].sum(axis=1)
                else:
                    d[mask] = luts[int(qid)][
                        np.arange(m)[None, :], codes[mask]
                    ].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "approx_d2": d,
                }
            )

    id_type = cand.schema["neighbor_id"].dataType.simpleString()
    scored = cand.mapInPandas(
        score, f"query_id long, neighbor_id {id_type}, approx_d2 double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def build_ann_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    pq_m: int | None = None,
    pq_k: int = 16,
    pq_sample: int = 4096,
    seed: int = 7,
    max_iter: int = 20,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    pq_residual: bool = False,
) -> dict:
    """The one-call TRAINED index build: distributed IVF centroid
    training (MLlib KMeans — the 100 TB construction path) + optional
    PQ codebook training on a bounded driver-side sample, then
    ``write_ann_index``. This is the production entry point; the
    lower-level ``write_ann_index(centroids=)`` form stays for callers
    that bring their own model (the oracle fixtures do). ``pq_m=None``
    builds IVF-flat; otherwise ``pq_sample`` rows (seeded hash order —
    deterministic, not a scan order accident) train the codebooks.
    ``pq_residual=True`` trains and encodes in the standard IVF-PQ
    form (codebooks over ``vector - assigned_centroid``; the sample's
    cells are assigned host-side with the exact ivf_assign rule) —
    residuals concentrate near zero, so the same m x k code budget
    buys measurably better recall (the delta is recorded in SCALE.md).
    Returns write_ann_index's summary dict."""
    import math

    import numpy as np

    cents = train_ivf_centroids(
        corpus, corpus_vec, k=n_cells, seed=seed, max_iter=max_iter
    )
    books = None
    if pq_m is not None:
        from sstable_migrator_spark.functions import text as TX

        sample_rows = (
            corpus.select(
                corpus_vec,
                TX.hash64(F.col(corpus_id).cast("string"), seed=seed).alias("_o"),
            )
            .orderBy("_o")
            .limit(int(pq_sample))
            .collect()
        )
        sample = np.asarray(
            [[float(x) for x in r[corpus_vec]] for r in sample_rows],
            dtype=np.float64,
        )
        if pq_residual:
            # the sample's residuals, assigned by the SAME rule
            # ivf_assign places corpus vectors with (max dot against
            # unit centroids, ties -> lowest cell id)
            ordered = sorted(cents)
            cmat = np.array(
                [
                    [x / (math.sqrt(sum(y * y for y in cv)) or 1.0) for x in cv]
                    for _, cv in ordered
                ],
                dtype=np.float64,
            ).T
            cent_mat = np.array([cv for _, cv in ordered], dtype=np.float64)
            idx = np.argmax(sample @ cmat, axis=1)
            sample = sample - cent_mat[idx]
        books = pq_train(sample.tolist(), m=pq_m, k=pq_k)
    return write_ann_index(
        corpus, path, cents, codebooks=books,
        corpus_id=corpus_id, corpus_vec=corpus_vec,
        pq_residual=pq_residual and pq_m is not None,
    )


def _probe_checkpoint(
    queries: DataFrame,
    path: str,
    rec: dict,
    cents: "list[tuple[int, list[float]]]",
    n_probe: int,
    query_id: str,
    query_vec: str,
) -> "tuple[DataFrame, list[int]]":
    """ONE job for the whole serve prelude (round 10, guide §1.2): the
    probe kernel's localCheckpoint carries two Observations — query
    vector width bounds BELOW the kernel, the distinct probed cells
    ABOVE it — so the dim guard and the bounded want_cells collect no
    longer cost one scheduled job each (three jobs -> one per serve
    call). The loud wrong-dim refusal is preserved: a width mismatch
    crashes the probe kernel, and the except path re-derives the
    bounds with the cheap aggregate to raise the SAME ValueError the
    three-job form raised."""
    from pyspark.sql import Observation

    obs_dim = Observation()
    obs_cells = Observation()

    def _dim_error(lo: int, hi: int) -> ValueError:
        return ValueError(
            f"ANN index at {path} was built with dim={rec['dim']}, but "
            f"the query vectors have dims in [{lo}, {hi}]"
        )

    qsel = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("_qv")
    ).observe(
        obs_dim,
        F.min(F.size("_qv")).alias("lo"),
        F.max(F.size("_qv")).alias("hi"),
    )
    try:
        probes = (
            ivf_probe_cells(qsel, cents, n_probe, "_qv", "_probe")
            .observe(obs_cells, F.collect_set("_probe").alias("cells"))
            .localCheckpoint()
        )
    except Exception as e:  # noqa: BLE001 — width mismatch kills the kernel
        dims = queries.agg(
            F.min(F.size(query_vec)).alias("lo"),
            F.max(F.size(query_vec)).alias("hi"),
        ).first()
        if dims["lo"] is not None and (
            int(dims["lo"]) != rec["dim"] or int(dims["hi"]) != rec["dim"]
        ):
            raise _dim_error(int(dims["lo"]), int(dims["hi"])) from e
        raise
    got = obs_dim.get
    if got["lo"] is None:
        raise ValueError("empty query DataFrame")
    if int(got["lo"]) != rec["dim"] or int(got["hi"]) != rec["dim"]:
        raise _dim_error(int(got["lo"]), int(got["hi"]))
    return probes, sorted(obs_cells.get["cells"] or [])


def ann_join(
    queries: DataFrame,
    path: str,
    k: int = 10,
    n_probe: int = 2,
    scoring: str = "exact",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """SET-TO-SET serving from a persisted ``write_ann_index``: the
    queries are a DataFrame, so corpus-vs-corpus kNN (SemDeDup at
    scale, dedup of a new crawl against an indexed corpus, batch
    retrieval) never funnels vectors through the driver — the list
    path (``ann_topk_from_index``) rides every query vector and ADC
    LUT in the task closure and is bounded for that reason.

    Plan shape: one map-only probe pass over the queries (the index's
    OWN centroids ride the closure — same kernel, same tie rule as
    ``ivf_assign``), ONE bounded collect of the distinct probed cell
    ids (<= n_cells rows, never query- or corpus-sized) so partition
    pruning still reaches the parquet scan, then a plain join of the
    probed cells' rows against the probe table on ``cell`` — AQE
    broadcasts the probe side when it is small, shuffles both sides
    when the query set is corpus-sized. Ranking is a per-query-key
    window over probed candidates only (data-sized, keyed shuffle).

    ``scoring="exact"`` ranks by true cosine from the stored vectors;
    ``scoring="adc"`` reads (id, pq_code) from the scan — never raw
    corpus vectors — and computes each query's (m x k) LUT
    EXECUTOR-side inside the scoring kernel (codebooks are KBs and
    ride the closure; per-query LUTs never exist on the driver). Both
    are rank-identical to the list path on the same index
    (test- and oracle-pinned). Returns (query_id, neighbor_id,
    cosine|approx_d2, rank)."""
    import math

    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    if scoring not in ("exact", "adc"):
        raise ValueError(f"scoring must be 'exact' or 'adc', got {scoring!r}")
    spark = queries.sparkSession
    rec = check_ann_index_params(path)
    if rec is None:
        raise ValueError(
            f"no ANN index at {path} (missing _params.json — partial "
            "build?); build it with write_ann_index"
        )
    cents = read_ann_centroids(spark, path)
    # same probe recipe as ivf_probe_cells / the list path (max dot
    # against unit centroids, ties -> lowest cell id), so ranking is
    # bit-identical across serving paths. Width guard (the
    # append_ann_index discipline) + the bounded distinct-cells
    # collect both ride the probe checkpoint job — want_cells stays
    # <= n_cells regardless of |Q|, which is what keeps
    # PartitionFilters on the scan for any query set.
    probes, want_cells = _probe_checkpoint(
        queries, path, rec, cents, n_probe, query_id, query_vec
    )

    if scoring == "exact":
        cand = _score_candidates_cosine(
            spark.read.parquet(path)
            .filter(F.col("cell").isin(want_cells))
            .select(corpus_id, corpus_vec, "cell")
            .join(probes, F.col("cell") == F.col("_probe")),
            corpus_id,
            corpus_vec,
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        return cand.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )

    books = read_ann_codebooks(spark, path)
    if books is None:
        raise ValueError(
            f"ANN index at {path} has no codebooks; scoring='adc' needs "
            "an index built with write_ann_index(..., codebooks=)"
        )
    m, kk, dsub = books.shape
    residual = bool(rec.get("pq_residual"))
    cent_by_id = (
        {int(c): np.asarray(v, dtype=np.float64) for c, v in cents}
        if residual
        else None
    )
    cand = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(want_cells))
        .select(corpus_id, "pq_code", "cell")
        .join(probes, F.col("cell") == F.col("_probe"))
        .select(
            "query_id", F.col(corpus_id).alias("neighbor_id"),
            "pq_code", "_qv", F.col("cell").cast("int").alias("cell"),
        )
    )

    def score(batches):
        # per-query LUTs are computed HERE, from the codebooks in the
        # closure and the query vector riding the row — one LUT per
        # distinct query per batch (per (query, cell) for a residual
        # index, whose codes live in the cell-relative frame),
        # identical numpy expressions to the list path so distances
        # (and therefore ranks) are bit-equal
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack(pdf["pq_code"].to_numpy()).astype(np.int64)
            qids = pdf["query_id"].to_numpy()
            cells = pdf["cell"].to_numpy()
            d = np.empty(len(pdf))
            for qid in np.unique(qids):
                mask = qids == qid
                qraw = np.asarray(
                    pdf["_qv"].to_numpy()[mask.argmax()], dtype=np.float64
                )
                if residual:
                    for cell in np.unique(cells[mask]):
                        mm = mask & (cells == cell)
                        q = qraw - cent_by_id[int(cell)]
                        lut = np.empty((m, kk))
                        for s in range(m):
                            lut[s] = (
                                (books[s] - q[s * dsub : (s + 1) * dsub]) ** 2
                            ).sum(axis=1)
                        d[mm] = lut[
                            np.arange(m)[None, :], codes[mm]
                        ].sum(axis=1)
                else:
                    lut = np.empty((m, kk))
                    for s in range(m):
                        lut[s] = (
                            (books[s] - qraw[s * dsub : (s + 1) * dsub]) ** 2
                        ).sum(axis=1)
                    d[mask] = lut[
                        np.arange(m)[None, :], codes[mask]
                    ].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "approx_d2": d,
                }
            )

    id_type = cand.schema["neighbor_id"].dataType.simpleString()
    qid_type = cand.schema["query_id"].dataType.simpleString()
    scored = cand.mapInPandas(
        score, f"query_id {qid_type}, neighbor_id {id_type}, approx_d2 double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def dedup_against_index(
    new_vecs: DataFrame,
    path: str,
    threshold: float = 0.99,
    n_probe: int = 2,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
) -> DataFrame:
    """Admission-gate near-dup check of a NEW batch against an already
    PERSISTED index — the "dedup today's crawl against the 100 TB
    corpus" path: every new vector finds its nearest indexed neighbor
    through ``ann_join`` (set-to-set: the batch stays a DataFrame, the
    scan stays partition-pruned to probed cells, nothing rebuilds) and
    is flagged when the cosine crosses ``threshold``. Returns one row
    per new vector: ``(query_id, dup_of, cosine, is_dup)`` — vectors
    whose probed cells hold no candidates keep a NULL neighbor and
    is_dup=0 (nothing indexed looks like them, by construction of the
    probe). Approximate exactly like serving is: a true near-dup whose
    neighbor lives outside the probed cells is missed at the same rate
    the index misses it for search — raise n_probe to trade scan for
    recall, the same dial. Composes with the SemDeDup/q83 in-batch
    stage: gate new-vs-index here, dedup new-vs-new there."""
    q = new_vecs.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("query_vec")
    )
    nn = (
        ann_join(q, path, k=1, n_probe=n_probe, scoring="exact",
                 corpus_id=corpus_id)
        .select("query_id", F.col("neighbor_id").alias("dup_of"), "cosine")
    )
    return (
        q.select("query_id")
        .join(nn, "query_id", "left")
        .select(
            "query_id",
            "dup_of",
            "cosine",
            F.when(F.col("cosine") >= float(threshold), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("is_dup"),
        )
    )


def ann_index_health(
    spark,
    path: str,
    overload_x: int = 2,
    underload_x: int = 2,
) -> DataFrame:
    """Occupancy report over a persisted ANN index — the ops check
    that decides WHEN to rebuild (appends place vectors with the
    BUILD's centroids, so a drifting corpus piles into few cells and
    probe-time scan width grows even though pruning stays correct;
    this report is the dial that watches it). One pass that moves no
    vector bytes: the scan projects only the partition column, the
    per-cell counts join the centroid sidecar so EMPTY cells (a
    crashed build's hole, a cell no append ever hits) surface as rows
    instead of silently vanishing, and the corpus total rides a
    single-row broadcast cross (the bounded scalar-cross discipline).
    Flags are INTEGER cross-multiplied — overloaded:
    ``n_cells * n_vecs > overload_x * total``; underloaded:
    ``underload_x * n_cells * n_vecs < total`` (empty cells are always
    underloaded) — so the report hash-matches a SQL oracle exactly.
    Output is bounded at n_cells rows regardless of corpus size."""
    import os

    if not os.path.exists(os.path.join(path, "_params.json")):
        raise FileNotFoundError(
            f"no ANN index at {path} (missing _params.json — partial or "
            "crashed build?); build it with write_ann_index/build_ann_index"
        )
    cents = spark.read.parquet(os.path.join(path, "_centroids")).select(
        F.col("cell_id").cast("int").alias("cell")
    )
    n_cells = cents.count()  # bounded: the model is KBs by contract
    counts = (
        spark.read.parquet(path)
        .groupBy(F.col("cell").cast("int").alias("cell"))
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )
    per_cell = cents.join(counts, "cell", "left").select(
        "cell", F.coalesce("n_vecs", F.lit(0)).cast("long").alias("n_vecs")
    )
    total = per_cell.agg(F.sum("n_vecs").cast("long").alias("total"))
    return per_cell.crossJoin(F.broadcast(total)).select(
        "cell",
        "n_vecs",
        "total",
        (F.lit(int(n_cells)) * F.col("n_vecs")
         > F.lit(int(overload_x)) * F.col("total"))
        .cast("int")
        .alias("overloaded"),
        (F.lit(int(underload_x) * int(n_cells)) * F.col("n_vecs")
         < F.col("total"))
        .cast("int")
        .alias("underloaded"),
    )


def ann_range_join(
    queries: DataFrame,
    path: str,
    min_cosine: float,
    n_probe: int = 2,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """RANGE (radius) search over a persisted ``write_ann_index`` —
    ``ann_join``'s threshold twin: every indexed neighbor whose cosine
    clears ``min_cosine``, not the k best. This is the retrieval shape
    dedup and dataset-poisoning sweeps actually want ("ALL near
    matches", where k-NN silently truncates a hot cluster at k and a
    cold query drags in k strangers).

    Plan: identical to ``ann_join``'s exact path up to scoring — map-
    only probe with the index's own centroids, bounded distinct-cell
    collect so PartitionFilters reach the scan, candidates join on
    ``cell`` — but the per-query top-k WINDOW (one keyed shuffle)
    disappears entirely: the threshold is a map-side filter over the
    scored candidates, so the whole serve after the candidate join is
    shuffle-FREE. Same approximation contract as every IVF serve: a
    qualifying neighbor outside the probed cells is missed at the
    index's recall; raise n_probe to trade scan for recall. Exact
    scoring only — ADC distances are approximations, and a RADIUS gate
    on an approximate distance silently redefines the radius; score
    codes with ``ann_join(scoring='adc')`` + a rank cut instead.
    Returns (query_id, neighbor_id, cosine), unranked."""
    if not (-1.0 <= float(min_cosine) <= 1.0):
        raise ValueError(
            f"min_cosine must be in [-1, 1], got {min_cosine!r} (cosine "
            "is the index metric — see _params.json)"
        )
    spark = queries.sparkSession
    rec = check_ann_index_params(path)
    if rec is None:
        raise ValueError(
            f"no ANN index at {path} (missing _params.json — partial "
            "build?); build it with write_ann_index"
        )
    cents = read_ann_centroids(spark, path)
    probes, want_cells = _probe_checkpoint(
        queries, path, rec, cents, n_probe, query_id, query_vec
    )
    return _score_candidates_cosine(
        spark.read.parquet(path)
        .filter(F.col("cell").isin(want_cells))
        .select(corpus_id, corpus_vec, "cell")
        .join(probes, F.col("cell") == F.col("_probe")),
        corpus_id,
        corpus_vec,
    ).filter(F.col("cosine") >= float(min_cosine))

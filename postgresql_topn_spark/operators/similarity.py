"""Similarity search over embedding columns (array<float>).

- `cosine_topk`: exact brute-force top-k — the (small) query set rides
  the task closure against a single corpus scan that emits per-batch
  partial top-k; the only shuffle is the tiny final per-query rank. The
  correctness baseline.
- `lsh_topk`: random-hyperplane LSH bucketing — the scale path: corpus
  and queries are bucketed by sign-pattern; candidates come from the
  query's bucket (+ optional multi-probe neighbors), then exact rerank.
  Recall < 1 by construction, so it carries a rows-only oracle plus a
  pytest recall floor vs brute force.

The dot product / norm are sequential left folds over the array
(`F.aggregate`), evaluated JVM-side; element order is fixed, which makes
the double results bit-reproducible — the DuckDB oracle folds in the
same order (`list_reduce`) so value hashes match exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from postgresql_topn_spark.functions.sketch import _col


def dot(a: Column | str, b: Column | str) -> Column:
    prods = F.zip_with(
        _col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _col(a),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _seq_sqnorm(X: "np.ndarray") -> "np.ndarray":
    """Row-wise squared norms accumulated dimension-sequentially, so each
    float64 sum performs the identical IEEE additions, in the identical
    order, as the `F.aggregate` left fold / DuckDB `list_reduce`."""
    acc = np.zeros(len(X))
    for j in range(X.shape[1]):
        acc += X[:, j] * X[:, j]
    return acc


def _seq_dots(Q: "np.ndarray", X: "np.ndarray") -> "np.ndarray":
    """(n_queries, n_rows) dot products with dimension-sequential
    accumulation (bit-identical to the sequential left fold; a BLAS
    matmul would differ by ~1 ulp from its pairwise/blocked summation)."""
    acc = np.zeros((len(Q), len(X)))
    for j in range(Q.shape[1]):
        acc += np.outer(Q[:, j], X[:, j])
    return acc


def _partial_topk_rows(qid_arr, ids, S, k: int):
    """Per-query top-k rows of a (n_queries, n_batch) score matrix.
    Comparator matches the final window rank exactly: sim DESC,
    neighbor id ASC. Excluded candidates carry -inf and are dropped."""
    out_q, out_n, out_s = [], [], []
    for i in range(len(qid_arr)):
        s = S[i]
        idx = np.nonzero(s > -np.inf)[0]
        if len(idx) == 0:
            continue
        sel = idx[np.lexsort((ids[idx], -s[idx]))][:k]
        out_q.append(np.full(len(sel), qid_arr[i]))
        out_n.append(ids[sel])
        out_s.append(s[sel])
    if not out_q:
        return None
    return (
        np.concatenate(out_q),
        np.concatenate(out_n),
        np.concatenate(out_s),
    )


def _merge_partial_topk(scored: DataFrame, k: int) -> DataFrame:
    """Final merge of per-batch partial top-k rows: one window rank over
    ~(batches x k) rows per query. sim is rounded to 6 decimals for
    cross-engine hash stability; the rank is computed on the unrounded
    value, ties broken by neighbor id."""
    w = Window.partitionBy("query_id").orderBy(F.desc("__sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("__sim", 6).alias("sim"))
    )


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str):
    """Materialize the query side to the driver — the same smallness
    contract as a broadcast join side, made explicit. Returns (ids, Q)."""
    rows = queries.select(_col(id_col), _col(vec_col)).collect()
    qids = np.asarray([r[0] for r in rows])
    Q = (
        np.asarray([r[1] for r in rows], dtype=np.float64)
        if rows
        else np.zeros((0, 0))
    )
    return qids, Q


def _scored_schema(corpus: DataFrame, queries: DataFrame, id_col: str):
    from pyspark.sql.types import DoubleType, StructField, StructType

    return StructType(
        [
            StructField("query_id", queries.schema[id_col].dataType),
            StructField("neighbor_id", corpus.schema[id_col].dataType),
            StructField("__sim", DoubleType()),
        ]
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    Scale shape: the (small) query set rides the task closure like a
    broadcast; the corpus streams through ONE mapInPandas pass that
    scores a whole Arrow batch per numpy call and emits only its
    per-batch top-k — a map-side combiner, so at most k rows per query
    per batch reach the single (tiny) window-rank shuffle. The corpus
    itself never shuffles; cost is one scan regardless of corpus size.

    Exactness: sums are accumulated dimension-sequentially
    (`_seq_dots`/`_seq_sqnorm`), bit-identical to the fold-based
    `cosine` expression and DuckDB `list_reduce` — oracled queries
    hash-match. Returns (query_id, neighbor_id, rank, sim) with sim
    rounded to 6 decimals."""
    qid_arr, Q = _collect_queries(queries, id_col, vec_col)
    schema = _scored_schema(corpus, queries, id_col)
    if len(qid_arr) == 0:
        return _merge_partial_topk(
            corpus.sparkSession.createDataFrame([], schema), k
        )
    qn = np.sqrt(_seq_sqnorm(Q))

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf.iloc[:, 0].to_numpy()
            X = np.asarray(pdf.iloc[:, 1].tolist(), dtype=np.float64)
            # dot / (norm_q * norm_c): same operand order as cosine()
            S = _seq_dots(Q, X) / (qn[:, None] * np.sqrt(_seq_sqnorm(X))[None, :])
            if not include_self:
                S[qid_arr[:, None] == ids[None, :]] = -np.inf
            top = _partial_topk_rows(qid_arr, ids, S, k)
            if top is not None:
                yield pd.DataFrame(
                    {"query_id": top[0], "neighbor_id": top[1], "__sim": top[2]}
                )

    scored = (
        # NULL-id rows are garbage input AND would float-coerce the
        # whole Arrow id column (corrupting ids > 2^53): drop at scan
        corpus.select(_col(id_col), _col(vec_col))
        .where(_col(id_col).isNotNull())
        .mapInPandas(score, schema)
    )
    return _merge_partial_topk(scored, k)


def cosine_pairs_exact(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """EXACT all-pairs cosine >= threshold — the correctness baseline the
    approximate pair generators (LSH banding in
    `embedding_near_dup_pairs`) are measured against. All-pairs is
    inherently O(n^2) score work; the shape keeps everything else
    linear: one side is materialized driver-side and rides the task
    closure (the explicit-broadcast contract of `cosine_topk`), the
    corpus streams through ONE mapInPandas pass, sub-threshold pairs die
    inside numpy, and only surviving (id_a, id_b, sim) rows become Spark
    rows — no shuffle at all. For corpora past broadcast size, tile the
    collected side into blocks and union the per-block passes (same
    plan, B scans); past that, use the LSH operator — that's what it's
    for. Scores accumulate dimension-sequentially (`_seq_dots`) so the
    doubles hash-match a DuckDB `list_reduce` oracle; `sim` is rounded
    to 6 decimals for cross-engine hash stability, with the threshold
    applied to the unrounded value on both sides."""
    qid_arr, Q = _collect_queries(df, id_col, vec_col)
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = df.schema[id_col].dataType
    schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("__sim", DoubleType()),
        ]
    )
    if len(qid_arr) == 0:
        return df.sparkSession.createDataFrame([], schema).select(
            "id_a", "id_b", F.round("__sim", 6).alias("sim")
        )
    qn = np.sqrt(_seq_sqnorm(Q))

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf.iloc[:, 0].to_numpy()
            X = np.asarray(pdf.iloc[:, 1].tolist(), dtype=np.float64)
            S = _seq_dots(Q, X) / (qn[:, None] * np.sqrt(_seq_sqnorm(X))[None, :])
            # each unordered pair is emitted once, from its id_a side
            keep = (qid_arr[:, None] < ids[None, :]) & (S >= threshold)
            iq, ix = np.nonzero(keep)
            if len(iq):
                yield pd.DataFrame(
                    {"id_a": qid_arr[iq], "id_b": ids[ix], "__sim": S[iq, ix]}
                )

    scored = (
        # NULL-id rows are garbage input AND would float-coerce the
        # whole Arrow id column (corrupting ids > 2^53): drop at scan
        df.select(_col(id_col), _col(vec_col))
        .where(_col(id_col).isNotNull())
        .mapInPandas(score, schema)
    )
    return scored.select("id_a", "id_b", F.round("__sim", 6).alias("sim"))


def _hyperplanes(
    dim: int, n_planes: int, seed: int, table: int = 0
) -> list[list[float]]:
    """Deterministic md5-derived hyperplanes: component (t, p, d) is
    md5_60bit('{seed}:{t}:{p}:{d}') / 2^60 - 0.5 — uniform in
    [-0.5, 0.5), bit-identically recomputable in ANSI SQL
    (CAST('0x'||substr(md5(...),1,15) AS BIGINT) / 2^60 - 0.5: the
    int->double conversion and the power-of-two divide round the same
    way in Python and SQL), which is what lets the LSH suite queries
    carry value-level DuckDB oracles. Uniform (not Gaussian) components
    still give a valid sign-hash family — collision probability is
    monotone in angle — and no normalization is applied: scaling a
    plane never changes the sign in exact math but DOES change float
    rounding, so the raw components are used on both engines."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(
                hashlib.md5(f"{seed}:{table}:{p}:{d}".encode()).hexdigest()[:15],
                16,
            )
            row.append(h / 2**60 - 0.5)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id (one bit per hyperplane)."""
    v = _col(vec)
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        d = F.aggregate(
            F.zip_with(v, lit_plane, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket.bitwiseOR(
            F.when(d > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return bucket


def lsh_tables(
    vec: Column | str, dim: int, n_tables: int, n_planes: int, seed: int
) -> Column:
    """array<struct<table:int,bucket:long>> — one sign-bucket per table.

    Multi-table (banded) LSH: a single r-plane signature requires ALL r
    signs to agree (collision prob (1 - theta/pi)^r, near zero for the
    moderate-similarity neighbors top-k cares about), so recall comes
    from OR-ing L independent tables: P(candidate) = 1-(1-p^r)^L.
    """
    entries = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed, t)
        entries.append(
            F.struct(
                F.lit(t).alias("table"), lsh_bucket(vec, planes).alias("bucket")
            )
        )
    return F.array(*entries)


def _planes_matrix(dim: int, n_tables: int, n_planes: int, seed: int):
    """(n_tables*n_planes, dim) float64 matrix, same planes (same seeds,
    same order) as the expression-based lsh_tables."""
    import numpy as np

    rows: list[list[float]] = []
    for t in range(n_tables):
        rows.extend(_hyperplanes(dim, n_planes, seed, t))
    return np.asarray(rows, dtype=np.float64)


def np_lsh_buckets(
    vec: Column | str, dim: int, n_tables: int, n_planes: int, seed: int
) -> Column:
    """array<long> of per-table sign buckets via ONE Arrow-batched numpy
    matmul per batch.

    The expression form (`lsh_tables`) builds n_tables*n_planes separate
    `aggregate(zip_with(...))` folds; Spark evaluates higher-order
    lambdas interpreted (outside whole-stage codegen), so that is
    ~L*r*dim interpreted evals per row — measured 5s for 2000 rows at
    L=16,r=4,dim=64. The numpy form is the same math at memory
    bandwidth, and at cluster scale it's a map-side pass with no
    shuffle. Projections accumulate dimension-sequentially, so bucket
    values match lsh_tables (and the DuckDB oracle fold) bit-for-bit."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    P = _planes_matrix(dim, n_tables, n_planes, seed)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @pandas_udf(ArrayType(LongType()))
    def _buckets(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        X = np.asarray(vs.tolist(), dtype=np.float64)
        # dimension-sequential projections: signs (and therefore bucket
        # ids) are bit-identical to the SQL list_reduce fold, so the
        # LSH suite queries can be value-oracled end-to-end
        signs = _seq_dots(X, P) > 0  # (B, L*r)
        buckets = signs.reshape(len(X), n_tables, n_planes) @ weights
        return pd.Series(list(buckets))

    return _buckets(_col(vec))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_tables: int = 12,
    n_planes: int = 4,
    dim: int = 64,
    seed: int = 7,
    include_self: bool = False,
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: band corpus + queries into L sign-bucket
    tables; a pair is a candidate iff it collides in at least one table;
    candidates are reranked with exact cosine.

    ``probe_hamming=1`` enables MULTI-PROBE: a table also matches when
    the two sign-buckets differ in at most one plane bit (the classic
    recall lever — a near neighbor that lands one sign flip away is
    still probed). Same tables, same one-pass plan; candidate volume
    grows by ~r neighbor buckets per table instead of doubling L. Only
    0 (exact bucket) and 1 are supported — beyond one flip the probe
    set loses its locality value faster than it gains recall.

    Scale shape: the (small) query side's buckets are computed on the
    driver and ride the task closure; the corpus streams through ONE
    mapInPandas pass that buckets each Arrow batch with the same plane
    matrix (one matmul), masks batch columns to those colliding with
    any query in some table, scores only the collisions, and emits
    per-batch partial top-k. The corpus never shuffles and is never
    exploded L times; candidate semantics (and therefore recall) are
    identical to the banded equi-join formulation because both sides
    use the same `_planes_matrix` buckets."""
    if probe_hamming not in (0, 1):
        raise ValueError(f"probe_hamming must be 0 or 1: {probe_hamming}")
    P = _planes_matrix(dim, n_tables, n_planes, seed)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    def buckets_of(X: "np.ndarray") -> "np.ndarray":
        # sequential projections — bit-identical to the SQL oracle fold
        signs = _seq_dots(X, P) > 0
        return signs.reshape(len(X), n_tables, n_planes) @ weights  # (n, L)

    qid_arr, Q = _collect_queries(queries, id_col, vec_col)
    schema = _scored_schema(corpus, queries, id_col)
    if len(qid_arr) == 0:
        return _merge_partial_topk(
            corpus.sparkSession.createDataFrame([], schema), k
        )
    QB = buckets_of(Q)  # (nq, L)
    qn = np.sqrt(_seq_sqnorm(Q))

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf.iloc[:, 0].to_numpy()
            X = np.asarray(pdf.iloc[:, 1].tolist(), dtype=np.float64)
            XB = buckets_of(X)  # (nb, L)
            if probe_hamming:
                # hamming(buckets) <= 1 in >= 1 table: xor is 0 or a
                # power of two iff (xor & (xor-1)) == 0
                xor = QB[:, None, :] ^ XB[None, :, :]
                mask = ((xor & (xor - 1)) == 0).any(axis=2)  # (nq, nb)
            else:
                # collision in >= 1 of the L tables -> candidate
                mask = (QB[:, None, :] == XB[None, :, :]).any(axis=2)
            if not include_self:
                mask &= qid_arr[:, None] != ids[None, :]
            cols = np.nonzero(mask.any(axis=0))[0]
            if len(cols) == 0:
                continue
            Xc = X[cols]
            S = np.full((len(qid_arr), len(cols)), -np.inf)
            sub = mask[:, cols]
            # same sequential-fold contract as cosine_topk: sims
            # hash-match the DuckDB list_reduce rerank
            sims = _seq_dots(Q, Xc) / (
                qn[:, None] * np.sqrt(_seq_sqnorm(Xc))[None, :]
            )
            S[sub] = sims[sub]
            top = _partial_topk_rows(qid_arr, ids[cols], S, k)
            if top is not None:
                yield pd.DataFrame(
                    {"query_id": top[0], "neighbor_id": top[1], "__sim": top[2]}
                )

    scored = (
        # NULL-id rows are garbage input AND would float-coerce the
        # whole Arrow id column (corrupting ids > 2^53): drop at scan
        corpus.select(_col(id_col), _col(vec_col))
        .where(_col(id_col).isNotNull())
        .mapInPandas(score, schema)
    )
    return _merge_partial_topk(scored, k)


def _train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str,
    n_lists: int,
    seed: int,
    max_train: int = 100_000,
    iters: int = 15,
):
    """(n_lists, dim) float64 centroids: Lloyd's k-means on a bounded
    driver-side sample.

    IVF coarse quantizers train on a sample by design (FAISS does the
    same): max_train vectors x 64 dims x 8 B = ~50 MB on the driver
    regardless of corpus size, and training cost is independent of scale.
    Only training is driver-side — cell ASSIGNMENT stays a distributed
    map-side pandas UDF. Replaces pyspark.ml KMeans, whose multi-job fit
    dominated the index build (4.3s of a 4.4s query at sf0.1).

    Determinism: the collected sample is lexsorted before seeding, so
    the trained centroids (and every keep/drop decision derived from
    them) are invariant to input PARTITIONING whenever the training
    multiset is — always in the n <= max_train regime (pytest-pinned
    via semantic_dedup); above it the Bernoulli sample's membership is
    partition-dependent by nature and only the given-sample training
    is deterministic."""
    vecs = corpus.select(vec_col)
    n = vecs.count()
    if n > max_train:
        vecs = vecs.sample(False, min(1.0, 1.05 * max_train / n), seed).limit(
            max_train
        )
    X = np.asarray(
        [r[0] for r in vecs.collect()], dtype=np.float64
    )
    if len(X):
        # collect() order follows partitioning; lexsort normalizes it
        X = X[np.lexsort(X.T[::-1])]
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(n_lists, len(X)), replace=False)]
    for _ in range(iters):
        d2 = (
            -2.0 * (X @ C.T)
            + np.einsum("ij,ij->i", C, C)
        )
        assign = d2.argmin(axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
            else:  # dead cell: reseed from a random point
                C[j] = X[rng.randint(len(X))]
    return C


def _seeded_ivf_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, n_lists: int
):
    """(n_lists, dim) float64 centroids picked DETERMINISTICALLY from
    the corpus itself: the n_lists vectors whose md5(id) sorts first
    (an md5-shuffled sample — k-means seeding without the Lloyd's
    iterations). Two properties the trained path can't give:

    - replayable in ANSI SQL (``ORDER BY md5(CAST(id AS VARCHAR)), id
      LIMIT n``), so IVF suite queries carry value-level DuckDB oracles
      like the LSH ones;
    - ONE tiny Spark job (a global sort-limit of n_lists rows riding a
      TakeOrderedAndProject — no count + no 100k-row collect), so the
      index "build" cost is a scan, not three jobs.

    Centroids drawn from the data manifold keep cells balanced enough
    for the recall/pruning trade (classic k-means|| intuition); pytest
    floors the recall of both modes."""
    rows = (
        corpus.select(
            _col(id_col).alias("__id"), _col(vec_col).alias("__v")
        )
        .orderBy(F.md5(F.col("__id").cast("string")), F.col("__id"))
        .limit(n_lists)
        .collect()
    )
    return np.asarray([r["__v"] for r in rows], dtype=np.float64)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 7,
    include_self: bool = False,
    centroid_mode: str = "train",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    `n_lists` cells, search only the `n_probe` cells whose centroids are
    nearest each query.

    Size (n_lists, n_probe) from the corpus with
    :func:`auto_ivf_params` — its docstring carries the measured
    recall-vs-cost frontier and the ``probe_scale`` recall knob
    (recall@5 at 200k vectors runs 0.45 -> 0.79 as the knob sweeps
    1.0 -> 4.0; the default digit-growth rule tracks the retired fixed
    config's recall at a fraction of its candidate cost). Re-measure
    on your corpus with ``ivf_recall_probe.py``; a fixed (n_lists,
    n_probe) silently degrades BOTH recall and cost as the corpus
    grows.

    ``centroid_mode='train'`` (default) runs Lloyd's k-means on a
    bounded sample; ``'seeded'`` takes the md5-shuffled first n_lists
    corpus vectors as centroids — deterministic and SQL-replayable, so
    the suite query is value-oracled end-to-end (the oracle recomputes
    the same centroids, assignments, probes and rerank in DuckDB). In
    seeded mode every float fold (assignment distance, probe distance,
    cosine) accumulates dimension-sequentially (`_seq_dots`) to stay
    bit-identical to the SQL `list_reduce`; trained mode keeps BLAS
    matmuls (nothing to replay).

    Scale shape: queries + centroids ride the task closure like a
    broadcast; the corpus streams through ONE mapInPandas pass that
    assigns each batch to cells, masks candidates to the probed cells
    (~n_probe / n_lists of the corpus), scores them, and emits per-batch
    partial top-k — at most k rows per query per batch reach the final
    window-rank shuffle. The corpus never shuffles.
    """
    if centroid_mode == "seeded":
        C = _seeded_ivf_centroids(corpus, id_col, vec_col, n_lists)
        exact_fold = True
    elif centroid_mode == "train":
        C = _train_ivf_centroids(corpus, vec_col, n_lists, seed)
        exact_fold = False
    else:
        raise ValueError(f"centroid_mode must be 'train' or 'seeded': {centroid_mode}")
    # -2 x.c + ||c||^2 orders cells like true squared distance (||x||^2
    # is constant per row); stable argsort/argmin = cell-id tie-break
    c_sq = _seq_sqnorm(C) if exact_fold else np.einsum("ij,ij->i", C, C)

    def cell_dists(X: "np.ndarray") -> "np.ndarray":
        d = _seq_dots(X, C) if exact_fold else X @ C.T
        return -2.0 * d + c_sq

    qid_arr, Q = _collect_queries(queries, id_col, vec_col)
    schema = _scored_schema(corpus, queries, id_col)
    if len(qid_arr) == 0:
        return _merge_partial_topk(
            corpus.sparkSession.createDataFrame([], schema), k
        )
    probe = np.argsort(cell_dists(Q), axis=1, kind="stable")[:, :n_probe]
    probe_mask = np.zeros((len(Q), len(C)), dtype=bool)
    np.put_along_axis(probe_mask, probe, True, axis=1)
    qn = np.sqrt(_seq_sqnorm(Q)) if exact_fold else np.linalg.norm(Q, axis=1)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf.iloc[:, 0].to_numpy()
            X = np.asarray(pdf.iloc[:, 1].tolist(), dtype=np.float64)
            cells = np.argmin(cell_dists(X), axis=1)
            if exact_fold:
                # sims hash-match the DuckDB list_reduce rerank
                S = _seq_dots(Q, X) / (
                    qn[:, None] * np.sqrt(_seq_sqnorm(X))[None, :]
                )
            else:
                S = (Q @ X.T) / (qn[:, None] * np.linalg.norm(X, axis=1)[None, :])
            S[~probe_mask[:, cells]] = -np.inf
            if not include_self:
                S[qid_arr[:, None] == ids[None, :]] = -np.inf
            top = _partial_topk_rows(qid_arr, ids, S, k)
            if top is not None:
                yield pd.DataFrame(
                    {"query_id": top[0], "neighbor_id": top[1], "__sim": top[2]}
                )

    scored = (
        # NULL-id rows are garbage input AND would float-coerce the
        # whole Arrow id column (corrupting ids > 2^53): drop at scan
        corpus.select(_col(id_col), _col(vec_col))
        .where(_col(id_col).isNotNull())
        .mapInPandas(score, schema)
    )
    return _merge_partial_topk(scored, k)


def _seeded_pq_codebooks(
    corpus: DataFrame, id_col: str, vec_col: str, n_codes: int, m: int
):
    """(m, n_codes, dim/m) product-quantization codebooks picked
    DETERMINISTICALLY: subspace j's codes are the j-th subvectors of
    the n_codes md5-shuffled-first corpus vectors — the same seeding
    rule as _seeded_ivf_centroids, replayable in ANSI SQL, one tiny
    TakeOrderedAndProject job."""
    rows = (
        corpus.select(_col(id_col).alias("__id"), _col(vec_col).alias("__v"))
        .orderBy(F.md5(F.col("__id").cast("string")), F.col("__id"))
        .limit(n_codes)
        .collect()
    )
    S = np.asarray([r["__v"] for r in rows], dtype=np.float64)
    dim = S.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    return S.reshape(len(S), m, sub).transpose(1, 0, 2)


def _train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str,
    n_codes: int,
    m: int,
    seed: int,
    max_train: int = 100_000,
    iters: int = 15,
):
    """(m, n_codes, dim/m) codebooks: independent Lloyd's k-means per
    subspace on one bounded driver-side sample (the FAISS PQ training
    recipe; cost independent of corpus size)."""
    vecs = corpus.select(vec_col)
    n = vecs.count()
    if n > max_train:
        vecs = vecs.sample(False, min(1.0, 1.05 * max_train / n), seed).limit(
            max_train
        )
    X = np.asarray([r[0] for r in vecs.collect()], dtype=np.float64)
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    rng = np.random.RandomState(seed)
    books = []
    for j in range(m):
        Xj = X[:, j * sub : (j + 1) * sub]
        C = Xj[rng.choice(len(Xj), size=min(n_codes, len(Xj)), replace=False)]
        for _ in range(iters):
            d2 = -2.0 * (Xj @ C.T) + np.einsum("ij,ij->i", C, C)
            assign = d2.argmin(axis=1)
            for c in range(len(C)):
                members = Xj[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
                else:
                    C[c] = Xj[rng.randint(len(Xj))]
        books.append(C)
    return np.asarray(books)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 7,
    include_self: bool = False,
    centroid_mode: str = "train",
    rerank_depth: int = 0,
) -> DataFrame:
    """IVF-PQ approximate top-k — the billion-vector memory-compression
    path (Jégou et al., TPAMI 2011): coarse IVF cells prune the search
    to n_probe/n_lists of the corpus, and within probed cells vectors
    are scored through their PRODUCT-QUANTIZED codes (m subspace code
    ids, here m*log2(n_codes) = 32 bits instead of dim*4 bytes — the
    representation an index SHIPS at 10^9 vectors) via an ADC lookup
    table: approx_dot(q, x) = sum_j LUT[q, j, code_j(x)], normalized by
    the reconstruction norm ||x^||. With ``rerank_depth=r > 0`` the ADC
    shortlist of r candidates per query per batch is re-scored with
    exact cosine (the standard two-stage recall recovery).

    ``centroid_mode='seeded'`` makes BOTH quantizers deterministic
    md5-shuffled corpus samples, every fold dimension-sequential, and
    the ADC sum an ascending-j left fold — so a DuckDB oracle replays
    encoding, LUT, ADC scores and ranking value-for-value (the same
    contract as ann_ivf_topk / ann_lsh_topk). ``'train'`` runs Lloyd's
    per subspace with BLAS scoring.

    **Codebook geometry is precision-per-vector, not corpus capacity**
    — measured, not asserted (STATUS r13 + `ivf_recall_probe.py
    --pq`): each vector is quantized against the codebooks
    independently, so ADC quality is set by (m, n_codes, data
    distribution) and growing the corpus 100x does NOT exhaust it —
    the (8, 16) recall penalty vs plain IVF at identical cells held
    0.16 -> 0.25 from 2k to 200k vectors (moved UP, within query-
    sample noise), where a capacity-limited structure would crater.
    What the bits DO buy, on this worst-case (near-i.i.d.) 64-d
    fixture at 200k rows, recall@5 relative to the IVF baseline:
    m4/c16 (16 bits) 0.13, m8/c16 (32 b) 0.25, m8/c256 (64 b) 0.37,
    m16/c256 (128 b) 0.68 — monotone in bits along both axes. The
    practical recall lever is NOT a bigger codebook but
    ``rerank_depth``: the shipped (8, 16) geometry with
    rerank_depth=10k recovers 0.84 of IVF recall while still shipping
    32-bit codes (real embeddings with cluster structure sit well
    above this floor). Grow m before n_codes when you do spend bits —
    per-subspace tables stay tiny and encode cost is linear in m.

    Scale shape: identical to ivf_topk — queries, centroids and
    codebooks ride the closure; the corpus streams through ONE
    mapInPandas pass (assign cell -> PQ-encode -> mask to probed cells
    -> ADC score [-> exact rerank] -> per-batch partial top-k); at most
    max(k, rerank_depth) rows per query per batch reach the final rank
    exchange. The corpus never shuffles."""
    if centroid_mode == "seeded":
        C = _seeded_ivf_centroids(corpus, id_col, vec_col, n_lists)
        CB = _seeded_pq_codebooks(corpus, id_col, vec_col, n_codes, m)
        exact_fold = True
    elif centroid_mode == "train":
        C = _train_ivf_centroids(corpus, vec_col, n_lists, seed)
        CB = _train_pq_codebooks(corpus, vec_col, n_codes, m, seed)
        exact_fold = False
    else:
        raise ValueError(
            f"centroid_mode must be 'train' or 'seeded': {centroid_mode}"
        )
    sub = CB.shape[2]
    c_sq = _seq_sqnorm(C) if exact_fold else np.einsum("ij,ij->i", C, C)
    # per-subspace code squared norms: ||x^||^2 = sum_j ||code_j||^2
    # (subspaces are orthogonal coordinate blocks)
    code_sq = np.stack(
        [
            _seq_sqnorm(CB[j]) if exact_fold else np.einsum("ij,ij->i", CB[j], CB[j])
            for j in range(m)
        ]
    )  # (m, n_codes)

    def cell_dists(X: "np.ndarray") -> "np.ndarray":
        d = _seq_dots(X, C) if exact_fold else X @ C.T
        return -2.0 * d + c_sq

    def encode(X: "np.ndarray") -> "np.ndarray":
        """(n, m) PQ code ids; ties go to the lowest code id (stable)."""
        cols = []
        for j in range(m):
            Xj = X[:, j * sub : (j + 1) * sub]
            dj = _seq_dots(Xj, CB[j]) if exact_fold else Xj @ CB[j].T
            cols.append(np.argmin(-2.0 * dj + code_sq[j], axis=1))
        return np.stack(cols, axis=1)

    qid_arr, Q = _collect_queries(queries, id_col, vec_col)
    schema = _scored_schema(corpus, queries, id_col)
    if len(qid_arr) == 0:
        return _merge_partial_topk(
            corpus.sparkSession.createDataFrame([], schema), k
        )
    probe = np.argsort(cell_dists(Q), axis=1, kind="stable")[:, :n_probe]
    probe_mask = np.zeros((len(Q), len(C)), dtype=bool)
    np.put_along_axis(probe_mask, probe, True, axis=1)
    qn = np.sqrt(_seq_sqnorm(Q)) if exact_fold else np.linalg.norm(Q, axis=1)
    # LUT[j]: (n_queries, n_codes) subspace dot tables, built once
    LUT = [
        _seq_dots(Q[:, j * sub : (j + 1) * sub], CB[j])
        if exact_fold
        else Q[:, j * sub : (j + 1) * sub] @ CB[j].T
        for j in range(m)
    ]

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf.iloc[:, 0].to_numpy()
            X = np.asarray(pdf.iloc[:, 1].tolist(), dtype=np.float64)
            cells = np.argmin(cell_dists(X), axis=1)
            codes = encode(X)
            # ascending-j left folds (match the SQL ordered list_reduce)
            adc = np.zeros((len(Q), len(X)))
            xsq = np.zeros(len(X))
            for j in range(m):
                adc += LUT[j][:, codes[:, j]]
                xsq += code_sq[j][codes[:, j]]
            with np.errstate(divide="ignore", invalid="ignore"):
                S = adc / (qn[:, None] * np.sqrt(xsq)[None, :])
            S[:, xsq == 0] = -np.inf
            S[~probe_mask[:, cells]] = -np.inf
            if not include_self:
                S[qid_arr[:, None] == ids[None, :]] = -np.inf
            if rerank_depth > 0:
                # exact-cosine rerank of the ADC shortlist: exact dots
                # are computed ONLY for the union of shortlisted
                # columns, not the whole batch (the whole-batch form
                # cost the same as brute force and nullified the ADC
                # pruning; review pin). Per-pair sequential folds
                # depend only on the two vectors, so restricting the
                # column set changes no value — oracle parity holds.
                shorts = []
                for i in range(len(Q)):
                    idx = np.nonzero(S[i] > -np.inf)[0]
                    if len(idx):
                        shorts.append(
                            idx[np.lexsort((ids[idx], -S[i][idx]))][
                                :rerank_depth
                            ]
                        )
                    else:
                        shorts.append(np.empty(0, dtype=np.int64))
                cols = (
                    np.unique(np.concatenate(shorts))
                    if any(len(s) for s in shorts)
                    else np.empty(0, dtype=np.int64)
                )
                keep = np.full_like(S, -np.inf)
                if len(cols):
                    Xc = X[cols]
                    Ec = (
                        _seq_dots(Q, Xc) if exact_fold else Q @ Xc.T
                    ) / (
                        qn[:, None]
                        * (
                            np.sqrt(_seq_sqnorm(Xc))
                            if exact_fold
                            else np.linalg.norm(Xc, axis=1)
                        )[None, :]
                    )
                    for i, short in enumerate(shorts):
                        if len(short):
                            keep[i, short] = Ec[
                                i, np.searchsorted(cols, short)
                            ]
                S = keep
            top = _partial_topk_rows(qid_arr, ids, S, k)
            if top is not None:
                yield pd.DataFrame(
                    {"query_id": top[0], "neighbor_id": top[1], "__sim": top[2]}
                )

    scored = (
        # NULL-id rows are garbage input AND would float-coerce the
        # whole Arrow id column (corrupting ids > 2^53): drop at scan
        corpus.select(_col(id_col), _col(vec_col))
        .where(_col(id_col).isNotNull())
        .mapInPandas(score, schema)
    )
    return _merge_partial_topk(scored, k)


def auto_lsh_params(
    n_rows: int,
    threshold: float,
    *,
    target_bucket: int = 32,
    recall: float = 0.95,
    max_planes: int = 24,
    max_tables: int = 64,
) -> tuple[int, int]:
    """(n_tables, n_planes) sized for the corpus: the scale knob LSH
    needs but fixed defaults can't give.

    With FIXED planes, bucket count is constant, so occupancy grows
    linearly with the corpus and in-bucket candidate work grows
    QUADRATICALLY — measured 27.7x wall on a 10x corpus with the suite's
    wide config (scale_bench.py). Sizing planes from the corpus keeps
    expected occupancy at `target_bucket`, making candidate work
    ~linear: r = log2(n / target_bucket); tables then restore the
    recall the extra planes cost, from the hyperplane collision model
    p = (1 - acos(threshold)/pi)^r, L = ln(1-recall)/ln(1-p).

    L is capped at `max_tables`: below threshold ~0.8 the collision
    probability decays so fast that no reasonable L meets the recall
    target — hyperplane LSH is the wrong tool there (use
    cosine_pairs_exact or IVF), and the cap makes that failure mode a
    bounded cost instead of an explosion."""
    import math

    if not (0.0 < recall < 1.0):
        # recall=1.0 would take log(0): no finite table count guarantees
        # full recall under the probabilistic model — that ask is the
        # exact baseline's job (cosine_pairs_exact), so fail loudly
        # naming the argument instead of a bare 'math domain error'
        raise ValueError(
            f"recall must be in (0, 1), got {recall}; for guaranteed "
            "full recall use the exact baseline instead of LSH"
        )
    if n_rows < 2:
        return 1, 1
    t = min(max(threshold, -1.0), 1.0)
    r = max(1, min(max_planes, math.ceil(math.log2(max(n_rows / target_bucket, 2.0)))))
    p = (1.0 - math.acos(t) / math.pi) ** r
    if p >= 1.0:
        return 1, r
    if p <= 0.0:
        # pow underflow at threshold ~ -1: no table count can reach the
        # recall target — return the cap instead of dividing by log(1)
        return max_tables, r
    # log1p: for tiny p, log(1.0 - p) rounds to log(1.0) == 0 and the
    # division blows up; log1p(-p) keeps full precision down to p ~ 1e-300
    L = math.ceil(math.log(1.0 - recall) / math.log1p(-p))
    return max(1, min(max_tables, L)), r


def auto_ivf_params(
    n_rows: int,
    *,
    probe_scale: float = 1.5,
    max_lists: int = 4096,
    scale_growth: bool = True,
) -> "tuple[int, int]":
    """(n_lists, n_probe) sized for the corpus — the IVF analogue of
    `auto_lsh_params`, retiring the last fixed-capacity ANN config.

    With FIXED n_lists, per-cell occupancy grows linearly with the
    corpus and every probe scans ~n_probe/n_lists of it — the same
    scale trap the LSH/semdedup auto-sizing already closed. The
    classic IVF rule keeps cells at ~sqrt(n) rows each:

        n_lists = min(max_lists, ceil(sqrt(n)))
        n_probe = min(n_lists, ceil(scale_eff * sqrt(n_lists)))
        scale_eff = probe_scale + 0.5 * max(0, digits(n) - 4)   # growth

    so candidate work per query is ~scale_eff * n / sqrt(n_lists)
    ~= n^(3/4) — sublinear — while the probed FRACTION shrinks as the
    corpus grows.

    **probe_scale is the recall knob, and the recall-vs-cost frontier
    is the contract** (measured, seeded centroids, recall@5 vs mean
    candidates/query; STATUS r12 + `ivf_recall_probe.py`):

    ======== ==================== ========= ============
    corpus   config               recall@5  cands/query
    ======== ==================== ========= ============
    200,000  fixed (16, 4)        0.659     49,993
    200,000  scale 1.0            0.452     9,819
    200,000  scale 1.5            0.534     14,284
    200,000  scale 2.5 (growth)   ~0.65     ~23,800
    200,000  scale 3.0            0.698     28,569
    200,000  scale 4.0            0.785     37,956
    ======== ==================== ========= ============

    At fixture scale (500–2,000 rows) a flat 1.5 already matches the
    fixed config's recall at equal-or-lower cost, but a CONSTANT scale
    silently slides down the frontier as the corpus grows (0.534 at
    200k). ``scale_growth`` therefore raises the effective scale by
    0.5 per decade of corpus size above 10^4 rows — digits(n) is
    ``len(str(n))``, an integer-exact, SQL-replayable stand-in for
    ceil(log10): n <= 9,999 keeps the flat probe_scale (all committed
    fixture/10x values unchanged), 200k gets 2.5, 20M gets 3.5.
    Growth composes additively with a user probe_scale so the knob
    keeps working; pass ``scale_growth=False`` to study a fixed point
    of the frontier (as `ivf_recall_probe.py --assert-floor` does,
    which also enforces the frontier's monotonicity and that the grown
    default stays within 0.02 recall of the retired fixed config at
    100x). For recall above ~0.8 at >=100k vectors, set probe_scale
    2.5-3 on top of growth and re-measure with the probe.

    `max_lists` bounds the centroid collect/closure (4096 x dim
    doubles — a few MB at any realistic dim), the same role
    `max_tables` plays for LSH.

    All expressions are pure functions of the corpus count through
    IEEE-correctly-rounded sqrt plus integer digit-count, so a SQL
    oracle replays them verbatim as a params CTE (ceil(sqrt(n)),
    ceil((1.5 + 0.5*greatest(0, length(cast(n as varchar)) - 4)) *
    sqrt(n_lists))); the 0.5 steps are exact binary halves, so the
    one product rounding matches bit-for-bit across engines."""
    import math

    # validate BEFORE the tiny-corpus early return: an invalid
    # probe_scale must fail loudly at n=0 too, not start passing once
    # the corpus shrinks (r12 ADVICE #4)
    if probe_scale <= 0:
        raise ValueError(f"probe_scale must be positive, got {probe_scale}")
    if n_rows < 2:
        return 1, 1
    scale_eff = probe_scale
    if scale_growth:
        scale_eff += 0.5 * max(0, len(str(n_rows)) - 4)
    n_lists = max(1, min(max_lists, math.ceil(math.sqrt(n_rows))))
    n_probe = max(1, min(n_lists, math.ceil(scale_eff * math.sqrt(n_lists))))
    return n_lists, n_probe


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_tables: int | str = 8,
    n_planes: int | str = 8,
    dim: int = 64,
    seed: int = 7,
    tile: int = 2048,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded-LSH buckets scored
    in-bucket with tiled numpy block products, exact cosine >= threshold.
    Near-identical vectors share an r-plane sign bucket in at least one
    of the L tables w.h.p. (1-(1-(1-theta/pi)^r)^L ~ 0.99 at cos=0.95
    with r=8, L=8); at 100 TB the per-bucket grouping is the only pair
    generator (never a global O(n^2) join).

    Pass ``n_tables="auto"`` / ``n_planes="auto"`` to size the band
    config from the corpus via :func:`auto_lsh_params` (one
    metadata-cheap count job) — fixed plane counts make in-bucket work
    grow quadratically as the corpus outgrows the bucket space; auto
    keeps expected occupancy constant so candidate work stays ~linear.
    The fixed-int form stays fully deterministic for oracle replay."""
    if n_tables == "auto" or n_planes == "auto":
        auto_L, auto_r = auto_lsh_params(df.count(), threshold)
        n_tables = auto_L if n_tables == "auto" else int(n_tables)
        n_planes = auto_r if n_planes == "auto" else int(n_planes)
    n_tables, n_planes = int(n_tables), int(n_planes)
    # Plan shape, chosen over the pair-materializing alternative
    # (candidate self-join -> distinct -> join vectors back twice):
    # low thresholds force wide bands, where most in-bucket pairs are
    # candidates — materializing them as Spark rows is ~quadratic row
    # machinery (measured: 2M candidate rows, 2.7s of distinct, for 2000
    # vectors). Instead each (table, bucket) group is scored with
    # normalized block products in applyInPandas; sub-threshold pairs
    # die inside numpy and only survivors become rows, so the post-
    # threshold dedup across tables is over the (small) result set.
    # Shuffle cost: L x corpus (vectors ride the explode) — linear, one
    # shuffle. Hot-bucket skew: the score matrix is TILED into
    # (tile x tile) block pairs, so an adversarial bucket of m vectors
    # costs O(m * dim + tile^2) task memory instead of O(m^2) — the
    # quadratic term is bounded by `tile` no matter how skewed the
    # bucket (score WORK stays O(m^2); only memory is bounded).
    from pyspark.sql.types import DoubleType, StructField, StructType

    # ids keep their NATIVE Spark type end to end: a long cast would
    # silently NULL every string id (a common dedup key shape) and
    # corrupt the output (review pin). NULL ids are dropped up front —
    # an unidentifiable row cannot be reported as a pair, and None is
    # unorderable in the kernel's id sort.
    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("__sim", DoubleType()),
        ]
    )

    banded = df.where(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.posexplode(np_lsh_buckets(vec_col, dim, n_tables, n_planes, seed)).alias(
            "__tbl", "__bkt"
        ),
    )

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(columns=["id_a", "id_b", "__sim"])
        ids = pdf["__id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        X = np.asarray(pdf["__v"].to_numpy()[order].tolist(), dtype=np.float64)
        # dot / (norm_a * norm_b) with sequential accumulation — the
        # sims are bit-identical across tables AND to the DuckDB
        # list_reduce oracle (see cosine_topk), so the cross-table
        # dedupe below is over identical values and the suite query
        # carries a value-level oracle. Block tiling changes neither:
        # each pair's fold runs the same additions in the same order.
        nrm = np.sqrt(_seq_sqnorm(X))
        frames = []
        for i0 in range(0, m, tile):
            i1 = min(i0 + tile, m)
            for j0 in range(i0, m, tile):
                j1 = min(j0 + tile, m)
                S = _seq_dots(X[i0:i1], X[j0:j1]) / (
                    nrm[i0:i1, None] * nrm[None, j0:j1]
                )
                # threshold FIRST, then materialize only surviving
                # indices (nonzero over all-ones allocated ~2 tile^2
                # int64s per block pair for nothing; review pin)
                mask = S >= threshold
                if i0 == j0:  # diagonal block: upper triangle only
                    mask &= np.triu(
                        np.ones(S.shape, dtype=bool), k=1
                    )
                bi, bj = np.nonzero(mask)
                if bi.size:
                    ia, ib = ids[i0 + bi], ids[j0 + bj]
                    # sorted ids make row-id <= col-id; duplicate id
                    # VALUES on distinct rows would emit a self-pair
                    # the exact baseline (strict qid < id) never does
                    neq = ia != ib
                    if neq.any():
                        frames.append(
                            pd.DataFrame(
                                {
                                    "id_a": ia[neq],
                                    "id_b": ib[neq],
                                    "__sim": S[bi, bj][neq],
                                }
                            )
                        )
        if not frames:
            return pd.DataFrame(columns=["id_a", "id_b", "__sim"])
        return pd.concat(frames, ignore_index=True)

    pairs = banded.groupBy("__tbl", "__bkt").applyInPandas(_bucket_pairs, out_schema)
    # same pair can surface from several tables; the float sims may
    # differ in the last ulp across group layouts, so dedupe by key
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.round(F.max("__sim"), 6).alias("sim"))
        .select("id_a", "id_b", "sim")
    )


def random_projection(
    emb: DataFrame,
    out_dim: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0,
    out_col: str | None = None,
) -> DataFrame:
    """Deterministic sparse random projection (Achlioptas 2003, the
    database-friendly Johnson-Lindenstrauss transform): project each
    vector to `out_dim` dimensions through a fixed matrix with entries
    in {+1, 0, -1} — P(+-1) = 1/6 each, P(0) = 2/3 — derived from the
    portable md5-uniform of (seed, out_component, in_component), the
    `_hyperplanes` idiom. The high-dim preprocessing step of the ANN
    stack: project 1024-d embeddings to 64-128 dims BEFORE
    `lsh_topk` / `ivf_topk` / `semantic_dedup`, shrinking every
    downstream distance computation ~dim/out_dim while JL preserves
    pairwise geometry to within ~sqrt(ln n / out_dim).

    Each output component is an EXACT +-1-weighted sum of input
    components in a fixed (ascending-index) fold order, so the output
    is bit-reproducible across partitionings, engines and reruns —
    and because two-thirds of the entries are zero, the fold touches
    only the nonzero indices (a literal gather, the
    pixel_block_features pattern). No 1/sqrt scaling is applied:
    cosine similarity — what every consumer here computes — is scale
    invariant, and integer weights keep the arithmetic exactly
    reproducible where a float scale factor would invite
    rounding-order drift.

    Scale shape: the matrix is folded into the plan as literals —
    one scan-stage projection, zero exchanges, zero Python. The plan
    carries O(out_dim * nonzeros) expression nodes; beyond ~50k
    nonzero cells switch to a mapInPandas matrix multiply (the
    semdedup `assign_clusters` auto-switch precedent) — at the
    default density that is out_dim * in_dim/3 ~ 50k at 1024->128,
    the practical ceiling for the literal form."""
    import hashlib

    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1, got {out_dim}")
    dim = len(
        emb.select(_col(vec_col)).first()[0]
    )
    cols = []
    for j in range(out_dim):
        pos, negs = [], []
        for d in range(dim):
            h = int(
                hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()[:15], 16
            )
            u = h / 2**60
            if u < 1 / 6:
                pos.append(d)
            elif u < 2 / 6:
                negs.append(d)
        v = _col(vec_col)
        comp = F.lit(0.0)
        for d in pos:
            comp = comp + F.element_at(v, d + 1).cast("double")
        for d in negs:
            comp = comp - F.element_at(v, d + 1).cast("double")
        cols.append(comp.alias(f"__rp{j}"))
    out_name = out_col or vec_col
    return emb.select(_col(id_col).alias(id_col), *cols).select(
        id_col,
        F.array(*[F.col(f"__rp{j}") for j in range(out_dim)]).alias(out_name),
    )


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    *,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall of an approximate top-k result against the
    exact one — THE quality metric every ANN deployment tunes against
    (FAISS/ScaNN publish recall@k curves; this is that measurement,
    in-engine, over any two frames shaped like this module's output
    (query_id, neighbor_id, ...), e.g. `lsh_topk`/`ivf_topk`/
    `ivfpq_topk` vs the `cosine_topk` ground truth).

    recall(q) = |approx(q) ∩ exact(q)| / |exact(q)|, computed from the
    EXACT side's query spine — a query the approximate index missed
    entirely (no candidate bucket hit) reports recall 0.0 instead of
    silently vanishing, which is precisely the failure recall exists
    to catch. Ties/rank disagreements don't matter: membership is the
    metric. Returns (query_col, n_exact, n_hit, recall) with recall
    rounded to 6 decimals; mean/percentile summaries are one
    downstream agg.

    Scale shape: both inputs are top-k results — at most |Q| * k rows
    each, never corpus-sized — so this is one join keyed on
    (query, neighbor) + one query-keyed agg over k-bounded groups; no
    corpus data flows anywhere. Duplicate (query, neighbor) rows on
    EITHER side (multi-probe unions, rerank passes) count once — both
    sides are set-deduplicated, matching the formula exactly."""
    e = exact.select(
        _col(query_col).alias("__q"), _col(neighbor_col).alias("__n")
    ).distinct()
    a = (
        approx.select(
            _col(query_col).alias("__q"), _col(neighbor_col).alias("__n")
        )
        .where(F.col("__q").isNotNull())
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        e.join(a, ["__q", "__n"], "left")
        .groupBy("__q")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_hit"),
        )
        .select(
            F.col("__q").alias(query_col),
            "n_exact",
            "n_hit",
            F.round(
                F.col("n_hit").cast("double") / F.col("n_exact"), 6
            ).alias("recall"),
        )
    )

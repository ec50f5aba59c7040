"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a broadcast join of queries against
the corpus with a JVM dot product, then per-query rank. Exact, and at
100 TB the corpus side stays partitioned while the (small) query side
broadcasts: no corpus shuffle at all.

Scale path 1: multi-table sign-LSH — L independent hyperplane tables of
b bits each; candidates come from equi-joins on (table, bucket) and are
exactly re-ranked. Plane components are md5-derived doubles generated
driver-side (`plane_component`), so the same planes are reproducible in
any engine — the DuckDB oracle re-derives them in SQL.

Scale path 2: IVF — partition the corpus by nearest centroid, probe the
nprobe nearest centroids per query, re-rank inside probed cells. Two
centroid modes: KMeans-trained on a sample (the realistic path: at
100 TB you fit on a sample and assign in one scan) or a deterministic
fixed-id centroid set (reproducible cross-engine, used by the oracle).

Performance notes (measured on local[32] at sf0.1):
- The L×b signature stage is a single Arrow-batched numpy matmul
  (batch×64 @ 64×L·b) in a pandas UDF. The JVM alternatives both lose:
  32 zip_with/aggregate HOF dots allocate an array per evaluation
  (~40 s), and fully unrolled literal expressions blow the 64 KB
  whole-stage-codegen method limit (Janino compile loop → driver OOM).
  One BLAS matmul per Arrow batch is ~free and the plane matrix is a
  16 KB closure constant.
- Norms are computed once per row on each side and carried through the
  join — never recomputed per candidate pair (3 HOF aggregates per pair
  → 1).
- Candidate pairs are scored BEFORE the dedup shuffle so only
  (query_id, id, cos_sim) triples shuffle, never the 64-float vectors.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, JVM-side, sequential fold order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def safe_cosine(num: Column, den: Column) -> Column:
    """num/den guarded for the two ways a cosine silently goes wrong on
    real corpora: a ZERO-NORM vector (failed encoder, default-zero row)
    makes den = 0 — under Spark 4's default ANSI mode that is a
    job-killing DIVIDE_BY_ZERO — and a NaN component makes the score
    NaN, which Spark ORDERS ABOVE every real value and which passes
    `>= threshold` filters, silently ranking the broken vector first
    for every query. Both cases yield NULL here: NULLs sort last under
    desc() and fail threshold filters, so broken vectors drop out of
    rankings instead of dominating or killing them."""
    return F.when((den > 0) & ~F.isnan(den) & ~F.isnan(num), num / den)


def cosine(a: Column, b: Column) -> Column:
    return safe_cosine(dot(a, b), l2_norm(a) * l2_norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    parallelism: int | None = None,
) -> DataFrame:
    """Exact brute-force cosine top-k per query.

    queries: (query_id, embedding). Broadcast the query side; corpus
    scans once with no shuffle until the final per-query rank. Norms are
    precomputed per side so each |corpus|·|queries| pair costs one dot.
    Output: (query_id, vec_id, cos_sim, rank); self-matches excluded.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            l2_norm(F.col(vec_col)).alias("__qn"),
        )
    )
    if parallelism:
        corpus = corpus.repartition(parallelism)
    scored = (
        corpus.select(
            F.col(id_col),
            F.col(vec_col).alias("__cvec"),
            l2_norm(F.col(vec_col)).alias("__cn"),
        )
        .join(q, F.col(query_id_col) != F.col(id_col))
        .withColumn(
            "cos_sim",
            safe_cosine(
                dot(F.col("__qvec"), F.col("__cvec")),
                F.col("__qn") * F.col("__cn"),
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def plane_component(d: int, p: int, seed: int) -> float:
    """Deterministic pseudo-random plane component in [-1, 1].

    md5-derived so any engine reproduces it: take the first 15 hex chars
    of md5("{d}_{p}_{seed}") as a 60-bit int h, then
    (h % 200003 - 100001) / 100001.  DuckDB equivalent:
      ((CAST(concat('0x', substr(md5(d||'_'||p||'_'||s), 1, 15)) AS BIGINT)
        % 200003) - 100001)::DOUBLE / 100001.0
    """
    h = int(hashlib.md5(f"{d}_{p}_{seed}".encode()).hexdigest()[:15], 16)
    return (h % 200003 - 100001) / 100001.0


def _plane_matrix(num_planes: int, dim: int, num_tables: int) -> np.ndarray:
    """(dim, num_tables·num_planes) float64 plane matrix; column t·b+p is
    plane p of table t (seed = table index)."""
    cols = [
        [plane_component(d, p, t) for d in range(dim)]
        for t in range(num_tables)
        for p in range(num_planes)
    ]
    return np.array(cols, dtype=np.float64).T


def bucket_udf(num_planes: int, dim: int, num_tables: int):
    """pandas UDF: embedding → array of num_tables bucket ids.

    Bit p of table t's bucket = sign(vec · plane_{t,p}) — all tables'
    dots come from one float64 matmul per Arrow batch.
    """
    P = _plane_matrix(num_planes, dim, num_tables)
    weights = (1 << np.arange(num_planes, dtype=np.int64))[None, :]

    @pandas_udf("array<long>")
    def _buckets(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        # NULL embeddings → NULL signature (downstream explode_outer
        # tolerates it); np.stack would crash the task on a None row
        mask = emb.notna().to_numpy()
        out = np.full(len(emb), None, dtype=object)
        if mask.any():
            V = np.stack(emb.to_numpy()[mask]).astype(np.float64)
            D = V @ P  # n_valid × (tables·planes)
            bits = (D > 0).astype(np.int64).reshape(int(mask.sum()), num_tables, num_planes)
            buckets = (bits * weights).sum(axis=2)
            # positional assignment: object-array boolean fancy-assign
            # would try to broadcast the 2-D bucket matrix
            for j, b in zip(np.flatnonzero(mask), buckets):
                out[j] = b
        return pd.Series(out)

    return _buckets


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_planes: int = 4,
    num_tables: int = 8,
    dim: int = 64,
    parallelism: int | None = None,
) -> DataFrame:
    """Approximate NN: multi-table sign-LSH (standard L×b scheme) with
    exact re-rank over the union of probed buckets.

    A single hyperplane table collapses for moderate-similarity
    neighbors (cos≈0.33 → per-plane agreement ≈0.6 → 0.6^b per table);
    L independent tables raise candidate recall to 1-(1-p^b)^L while
    each probe stays an equi-join on (table, bucket). Tune: more tables
    → recall; more planes/bits → precision (smaller buckets).

    Scale shape: the query side (signatures + norm) broadcasts, so
    candidate generation never shuffles the corpus; the only shuffled
    rows are (query_id, id, cos_sim) triples. At 100 TB persist the
    exploded (table, bucket, id) index bucketed by (table, bucket).
    """
    if parallelism:
        corpus = corpus.repartition(parallelism)
    buckets = bucket_udf(num_planes, dim, num_tables)

    def tagged(df: DataFrame, key: str) -> DataFrame:
        with_sig = df.select(
            F.col(key),
            F.col(vec_col).alias(f"__{key}_vec"),
            l2_norm(F.col(vec_col)).alias(f"__{key}_n"),
            F.posexplode_outer(buckets(F.col(vec_col))).alias("tbl", "bucket"),
        )
        return with_sig

    c = tagged(corpus.select(F.col(id_col), vec_col), id_col)
    q = F.broadcast(tagged(queries.select(F.col(query_id_col), vec_col), query_id_col))
    # score before dedup so the shuffle carries 3 scalar columns, not
    # two 64-float vectors per candidate row
    cand = (
        c.join(q, ["tbl", "bucket"])
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(
            query_id_col,
            id_col,
            (
                dot(F.col(f"__{query_id_col}_vec"), F.col(f"__{id_col}_vec"))
                / (F.col(f"__{query_id_col}_n") * F.col(f"__{id_col}_n"))
            ).alias("cos_sim"),
        )
        .dropDuplicates([query_id_col, id_col])
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def _probe_and_rerank(
    assigned: DataFrame,
    queries_named: DataFrame,
    cent_df: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """Shared IVF tail: nprobe nearest centroids per query → candidate
    cells → exact re-rank. assigned: (id, __cvec, __cn, __cell);
    queries_named: (query_id, __qvec); cent_df: (__cell, __centroid)."""
    qn = queries_named.withColumn("__qn", l2_norm(F.col("__qvec")))
    qc = qn.crossJoin(F.broadcast(cent_df)).withColumn(
        "__d",
        safe_cosine(
            dot(F.col("__qvec"), F.col("__centroid")),
            F.col("__qn") * l2_norm(F.col("__centroid")),
        ),
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("__d").desc(), F.col("__cell").asc()
    )
    probes = (
        qc.withColumn("__pr", F.row_number().over(wq))
        .filter(F.col("__pr") <= nprobe)
        .select(query_id_col, "__qvec", "__qn", "__cell")
    )
    scored = (
        assigned.join(F.broadcast(probes), "__cell")
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(
            query_id_col,
            id_col,
            safe_cosine(
                dot(F.col("__qvec"), F.col("__cvec")),
                F.col("__qn") * F.col("__cn"),
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def _kmeans_lloyd(
    X: np.ndarray, k: int, seed: int, iters: int = 8
) -> np.ndarray:
    """Deterministic seeded k-means++ init + Lloyd iterations in numpy.
    Empty cells keep their previous centroid."""
    rng = np.random.RandomState(seed)
    n = X.shape[0]
    if n == 0:
        # an empty training sample has no dimensionality to invent; a
        # zeros((k, 1)) fallback would crash the downstream (n,dim) @
        # (dim,k) assignment with a shape error far from the cause
        raise ValueError(
            "k-means training sample is empty — raise the sample "
            "fraction or seed the centroids explicitly"
        )
    if n <= k:
        return X.copy()
    first = int(rng.randint(n))
    chosen = [first]
    d2 = ((X - X[first]) ** 2).sum(axis=1)
    for _ in range(1, k):
        tot = d2.sum()
        nxt = int(rng.choice(n, p=d2 / tot)) if tot > 0 else int(rng.randint(n))
        chosen.append(nxt)
        d2 = np.minimum(d2, ((X - X[nxt]) ** 2).sum(axis=1))
    C = X[chosen].copy()
    for _ in range(iters):
        # argmin ||x-c||² via the expanded form — no n×k×d temp
        a = ((-2.0) * (X @ C.T) + (C**2).sum(axis=1)).argmin(axis=1)
        for j in range(k):
            members = X[a == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def _fixed_centroids(
    corpus: DataFrame, centroid_ids, id_col: str, vec_col: str
) -> DataFrame:
    """Deterministic centroid frame (__cell, __centroid) from explicit
    corpus ids — cell index = position in `centroid_ids`. ONE definition
    for ivf_fixed_topk / ivf_lloyd_topk / ivfpq_fixed_topk (the three
    copies had already started needing lockstep edits)."""
    return (
        corpus.filter(F.col(id_col).isin(list(centroid_ids)))
        .select(F.col(id_col).alias("__cid"), F.col(vec_col).alias("__centroid"))
        .withColumn(
            "__cell",
            F.array_position(
                F.array(*[F.lit(i) for i in centroid_ids]), F.col("__cid")
            ).cast("int")
            - 1,
        )
        .select("__cell", "__centroid")
    )


def _assign_cell_udf(C: np.ndarray):
    """pandas UDF: embedding → nearest-centroid cell (squared-L2 argmin),
    one BLAS matmul per Arrow batch; the centroid matrix rides along as
    a small closure constant (k×dim doubles)."""
    Ct = np.ascontiguousarray(C.T)
    c2 = (C**2).sum(axis=1)

    @pandas_udf("int")
    def _cell(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        # NULL embeddings → NULL cell (row drops out of every probe)
        mask = v.notna().to_numpy()
        out = pd.Series([None] * len(v), dtype="Int32")
        if mask.any():
            M = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in v.to_numpy()[mask]]
            )
            out[mask] = ((-2.0) * (M @ Ct) + c2).argmin(axis=1).astype("int32")
        return out

    return _cell


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    train_fraction: float = 0.1,
    max_train: int = 100_000,
    parallelism: int | None = None,
) -> DataFrame:
    """IVF ANN with sample-trained k-means centroids.

    At 100 TB you never cluster the full corpus: sample a driver-bounded
    training set (≤ max_train vectors — 100k × 64 doubles ≈ 50 MB), fit
    seeded k-means++/Lloyd in numpy ON THE DRIVER, then assign every
    corpus vector in ONE Arrow-batched scan against the broadcast
    centroid matrix. The previous spark.ml KMeans path spent ~20
    scheduler round-trips (kmeans|| init + per-iteration jobs) to
    cluster a sample that fits in memory by construction — 4.5 s of
    fixed overhead regardless of data size.
    """
    if parallelism:
        corpus = corpus.repartition(parallelism)
    sample = (
        corpus.select(F.col(vec_col).cast("array<double>"))
        .sample(False, train_fraction, seed=seed)
        .limit(max_train)
    )
    X = np.asarray([r[0] for r in sample.collect()], dtype=np.float64)
    C = _kmeans_lloyd(X, num_centroids, seed)
    assigned = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__cvec"),
        l2_norm(F.col(vec_col)).alias("__cn"),
        _assign_cell_udf(C)(F.col(vec_col)).alias("__cell"),
    )
    cent_df = corpus.sparkSession.createDataFrame(
        [(i, c.tolist()) for i, c in enumerate(C)], ["__cell", "__centroid"]
    )
    qn = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    return _probe_and_rerank(assigned, qn, cent_df, k, nprobe, id_col, query_id_col)


def ivf_fixed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroid_ids: list,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nprobe: int = 4,
    parallelism: int | None = None,
) -> DataFrame:
    """IVF ANN with a deterministic centroid set: the corpus vectors
    whose ids are in `centroid_ids` (cell index = position in the list).

    Fully reproducible cross-engine (no training), so the DuckDB oracle
    can replay the exact pipeline: assignment = argmax cosine to the
    fixed centroids (ties → lower cell), probes = nprobe best centroids
    per query (ties → lower cell), exact re-rank inside probed cells.
    """
    cent_df = _fixed_centroids(corpus, centroid_ids, id_col, vec_col)
    if parallelism:
        corpus = corpus.repartition(parallelism)
    base = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__cvec"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    assigned = _assign_nearest_cosine(base, cent_df, id_col)
    qn = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    return _probe_and_rerank(assigned, qn, cent_df, k, nprobe, id_col, query_id_col)


def _assign_nearest_cosine(base: DataFrame, cent_df: DataFrame, id_col: str) -> DataFrame:
    """Assign each (id, __cvec, __cn) row to its max-cosine centroid
    (ties → lower cell). argmax via min-struct on (-cos, cell): map-side
    partial agg, only |corpus| rows shuffle."""
    ac = base.crossJoin(F.broadcast(cent_df)).withColumn(
        "__d",
        safe_cosine(
            dot(F.col("__cvec"), F.col("__centroid")),
            F.col("__cn") * l2_norm(F.col("__centroid")),
        ),
    )
    return (
        ac.groupBy(id_col)
        .agg(
            F.min(
                F.struct(
                    (-F.col("__d")).alias("nd"),
                    F.col("__cell").alias("cell"),
                    F.col("__cvec").alias("v"),
                    F.col("__cn").alias("n"),
                )
            ).alias("__m")
        )
        .select(
            F.col(id_col),
            F.col("__m.v").alias("__cvec"),
            F.col("__m.n").alias("__cn"),
            F.col("__m.cell").alias("__cell"),
        )
    )


def ivf_lloyd_topk(
    corpus: DataFrame,
    queries: DataFrame,
    seed_ids: list,
    iters: int = 1,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nprobe: int = 4,
    centroid_dp: int = 6,
    parallelism: int | None = None,
) -> DataFrame:
    """IVF ANN with DISTRIBUTED spherical-kmeans (Lloyd) refinement from a
    deterministic seed-centroid set — the trained-IVF path expressed so a
    SQL oracle can replay it, unlike the driver-side sampled kmeans of
    `ivf_topk`.

    Each Lloyd iteration is pure DataFrame algebra: (1) assign every
    corpus vector to its max-cosine centroid via a broadcast of the k
    centroids (map-side min-struct, |corpus| rows shuffle), (2) recompute
    each centroid as the element-wise mean of its members (posexplode →
    two shuffles whose reduce side is k×dim rows thanks to partial avg).
    This is exactly how a 1000-executor KMeans iterates — no corpus data
    ever reaches the driver; only the k×dim centroid matrix does (a
    documented driver-bounded collect, same contract class as the PQ
    codebook).

    Centroid components are rounded to `centroid_dp` decimals after each
    mean so the update is reproducible cross-engine (Spark and DuckDB sum
    doubles in different orders; rounding collapses the ulp noise before
    it can flip a downstream argmax).
    """
    spark = corpus.sparkSession
    cent_df = _fixed_centroids(corpus, seed_ids, id_col, vec_col)
    if parallelism:
        corpus = corpus.repartition(parallelism)
    base = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__cvec"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    for _ in range(int(iters)):
        assigned = _assign_nearest_cosine(base, cent_df, id_col)
        mean_upd = (
            assigned.select("__cell", F.posexplode("__cvec").alias("__p", "__x"))
            .groupBy("__cell", "__p")
            .agg(F.round(F.avg("__x"), centroid_dp).alias("__m"))
            .groupBy("__cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__p"), F.col("__m")))
                ).alias("__s")
            )
            .select(
                "__cell",
                F.col("__s.__m").alias("__centroid"),
            )
        )
        # materialize the k×dim centroid matrix on the driver (bounded by
        # construction: len(seed_ids) rows) so the 3 downstream uses don't
        # each re-run the corpus-wide mean aggregation
        rows = [(r["__cell"], list(r["__centroid"])) for r in mean_upd.collect()]
        cent_df = spark.createDataFrame(rows, "__cell int, __centroid array<double>")
    assigned = _assign_nearest_cosine(base, cent_df, id_col)
    qn = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    return _probe_and_rerank(assigned, qn, cent_df, k, nprobe, id_col, query_id_col)


def _pq_codebook(
    corpus: DataFrame, codebook_ids: list, num_sub: int, id_col: str, vec_col: str
):
    """(n_code, num_sub, dim/num_sub) codebook array from the corpus
    vectors named by codebook_ids (bounded driver collect by contract —
    a codebook is a few hundred small vectors)."""
    rows = {
        r[0]: r[1]
        for r in corpus.filter(F.col(id_col).isin(list(codebook_ids)))
        .select(id_col, vec_col)
        .collect()
    }
    C = np.asarray([rows[i] for i in codebook_ids], dtype=np.float64)
    return C.reshape(len(codebook_ids), num_sub, C.shape[1] // num_sub)


def _pq_udfs(Cs, num_sub: int):
    """(encode, dtable) Arrow kernels over a closure-resident codebook.
    encode: per-subspace argmin code (ties → low code). dtable: squared
    L2 distance table flattened in (m, j) order: entry m*n_code + j."""

    @pandas_udf("array<int>")
    def _encode(v: pd.Series) -> pd.Series:
        out = []
        for x in v:
            if x is None:  # NULL embedding → NULL code row
                out.append(None)
                continue
            X = np.asarray(x, dtype=np.float64).reshape(num_sub, -1)
            d2 = ((X[None, :, :] - Cs) ** 2).sum(axis=2)
            out.append(d2.argmin(axis=0).astype("int32"))
        return pd.Series(out)

    @pandas_udf("array<double>")
    def _dtable(v: pd.Series) -> pd.Series:
        out = []
        for x in v:
            if x is None:  # NULL query vector → NULL table row
                out.append(None)
                continue
            X = np.asarray(x, dtype=np.float64).reshape(num_sub, -1)
            d2 = ((X[None, :, :] - Cs) ** 2).sum(axis=2)
            out.append(d2.T.reshape(-1))
        return pd.Series(out)

    return _encode, _dtable


def pq_fixed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook_ids: list,
    k: int = 5,
    num_sub: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    parallelism: int | None = None,
) -> DataFrame:
    """Product-quantization ANN with a deterministic codebook: the
    corpus vectors whose ids are in `codebook_ids` serve as the
    per-subspace centroids (code = position in the list), so the whole
    pipeline — encode, distance tables, ADC scan — replays in plain SQL
    for the oracle (the ivf_fixed_topk pattern).

    Scale story: PQ is the memory tier of the ANN ladder (brute → LSH →
    IVF → PQ). Each corpus vector stores only num_sub small codes
    (4 bytes here vs 256 for the raw float64x64 vector); the query scan
    does table LOOKUPS (element_at) instead of d-dim float math, all
    JVM-side. Queries broadcast with their precomputed distance tables;
    the corpus side never shuffles. Encode is one Arrow pass against
    the closure-resident codebook. Exact re-rank of the ADC top-R
    (compose with cosine_topk on the survivors) is the standard recall
    refinement at production scale.

    approx_dist = Σ_m ‖q_m − c_{code_m}‖² (squared L2, ADC). Ties break
    on the candidate id; encode ties break on the lower code.
    """
    n_code = len(codebook_ids)
    _encode, _dtable = _pq_udfs(
        _pq_codebook(corpus, codebook_ids, num_sub, id_col, vec_col), num_sub
    )

    if parallelism:
        corpus = corpus.repartition(parallelism)
    coded = corpus.select(F.col(id_col), _encode(F.col(vec_col)).alias("__codes"))
    qt = queries.select(
        F.col(query_id_col), _dtable(F.col(vec_col)).alias("__qt")
    )
    approx = F.lit(0.0)
    for m in range(num_sub):
        approx = approx + F.element_at(
            F.col("__qt"),
            F.lit(m * n_code + 1) + F.element_at(F.col("__codes"), m + 1),
        )
    # rank on the ROUNDED distance: duplicate corpus vectors make exact
    # mathematical ties, and last-ulp summation noise (numpy pairwise
    # here, hash-agg order in a SQL replay) would order them at random —
    # rounding collapses the tie so the id tiebreak decides it
    scored = (
        coded.crossJoin(F.broadcast(qt))
        .filter(F.col(query_id_col) != F.col(id_col))
        .withColumn("approx_dist", F.round(approx, 6))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("approx_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "approx_dist", "rank")
    )


def ivfpq_fixed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroid_ids: list,
    codebook_ids: list,
    k: int = 5,
    num_sub: int = 4,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    parallelism: int | None = None,
) -> DataFrame:
    """Composed IVF-PQ ANN — the FAISS IVFPQ shape with
    by_residual=False, deterministic coarse centroids and PQ codebook
    (fixed corpus vectors, so the DuckDB oracle replays the exact
    pipeline end-to-end).

    This is the production memory/compute tier combined: the inverted
    file bounds COMPUTE (each query ADC-scans only its nprobe probed
    cells, ~nprobe/n_cells of the corpus) while PQ codes bound MEMORY
    (num_sub small ints per vector instead of the raw floats). Corpus
    vectors are touched exactly twice at index-build (one Arrow encode
    pass, one broadcast-centroid assignment scan) and never shuffle;
    queries broadcast with their distance tables; only candidate
    (query, id, dist) triples flow after the cell equi-join.

    approx_dist = Σ_m ‖q_m − c_{code_m}‖² over probed cells only.
    Ranked on the 6dp-rounded distance (ties → lower id).
    """
    cent_df = _fixed_centroids(corpus, centroid_ids, id_col, vec_col)
    n_code = len(codebook_ids)
    _encode, _dtable = _pq_udfs(
        _pq_codebook(corpus, codebook_ids, num_sub, id_col, vec_col), num_sub
    )
    if parallelism:
        corpus = corpus.repartition(parallelism)
    # index build: coarse cell (argmax cosine, ties → low cell) + codes
    base = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__cvec"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    ac = base.crossJoin(F.broadcast(cent_df)).withColumn(
        "__d",
        safe_cosine(
            dot(F.col("__cvec"), F.col("__centroid")),
            F.col("__cn") * l2_norm(F.col("__centroid")),
        ),
    )
    assigned = (
        ac.groupBy(id_col)
        .agg(
            F.min(
                F.struct((-F.col("__d")).alias("nd"), F.col("__cell").alias("cell"))
            ).alias("__m")
        )
        .select(F.col(id_col), F.col("__m.cell").alias("__cell"))
    )
    coded = corpus.select(F.col(id_col), _encode(F.col(vec_col)).alias("__codes"))
    index = assigned.join(coded, id_col)
    # query side: nprobe best cells + ADC distance table, both tiny
    qn = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    qc = qn.crossJoin(F.broadcast(cent_df)).withColumn(
        "__d",
        safe_cosine(
            dot(F.col("__qvec"), F.col("__centroid")),
            F.col("__qn") * l2_norm(F.col("__centroid")),
        ),
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("__d").desc(), F.col("__cell").asc()
    )
    probes = (
        qc.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select(query_id_col, "__cell")
    )
    qt = queries.select(
        F.col(query_id_col), _dtable(F.col(vec_col)).alias("__qt")
    ).join(probes, query_id_col)
    # candidate generation = cell equi-join; ADC = JVM table lookups
    cand = index.join(
        F.broadcast(qt), index["__cell"] == qt["__cell"]
    ).filter(F.col(query_id_col) != F.col(id_col))
    approx = F.lit(0.0)
    for m in range(num_sub):
        approx = approx + F.element_at(
            F.col("__qt"),
            F.lit(m * n_code + 1) + F.element_at(F.col("__codes"), m + 1),
        )
    scored = cand.withColumn("approx_dist", F.round(approx, 6))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("approx_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "approx_dist", "rank")
    )


def embedding_dim_stats(
    corpus: DataFrame,
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Per-dimension embedding statistics — the hygiene audit run before
    building an ANN index (dominant/mean-shifted dimensions break
    cosine/LSH isotropy; the fix is mean-centering, whose parameters are
    exactly this frame). One posexplode + one map-side-combinable
    aggregate; vectors never shuffle whole.

    mean/std computed as E[x] and sqrt(E[x²]−E[x]²) from plain sums, so
    a SQL oracle reproduces them bit-comparably at round_to digits.

    Output: (dim, n, mean, std) — one row per dimension.
    """
    # widen float32 elements to double BEFORE any arithmetic: float*float
    # would square at 24-bit precision while a SQL replay squares doubles
    ex = corpus.select(F.posexplode(F.col(vec_col)).alias("dim", "__xf")).select(
        "dim", F.col("__xf").cast("double").alias("x")
    )
    agg = ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("__s"),
        F.sum(F.col("x") * F.col("x")).alias("__s2"),
    )
    mean = F.col("__s") / F.col("n")
    var = F.col("__s2") / F.col("n") - mean * mean
    return agg.select(
        "dim",
        "n",
        F.round(mean, round_to).alias("mean"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), round_to).alias("std"),
    )


def semantic_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 12,
    num_tables: int = 8,
    dim: int = 64,
    parallelism: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-space near-duplicate pairs (id_a < id_b, cos ≥
    threshold): multi-table sign-LSH buckets → in-bucket distinct pairs
    → exact cosine verification.

    Same scale shape as the text MinHash path: candidates come from a
    bucket groupBy (one shuffle of (tbl, bucket, id)), vectors re-join
    only for the candidate pairs, and `max_bucket_size` caps degenerate
    buckets before the quadratic expansion (a corpus with millions of
    identical embeddings — default-zero vectors, failed encoders — is
    the embedding twin of boilerplate text). Identical directions
    always share every bucket, so threshold≈1 pairs have recall 1
    REGARDLESS of num_planes — which is why the default is a fine
    12-plane partition (4096 buckets/table): bucket occupancy, and with
    it the quadratic in-bucket pair expansion, drops ~256× vs a 4-plane
    grid while exact-duplicate recall stays 1 (bench: q76 at sf0.1 went
    6.2 s → ~1 s). For fuzzy thresholds (≈0.9) where per-table collision
    probability matters more than bucket size, lower num_planes and
    raise num_tables instead.
    """
    from odin_rs_spark.operators.dedup import _bucket_pairs

    if parallelism:
        corpus = corpus.repartition(parallelism)
    buckets = bucket_udf(num_planes, dim, num_tables)
    sig = corpus.select(
        F.col(id_col), F.posexplode_outer(buckets(F.col(vec_col))).alias("tbl", "bucket")
    )
    pairs = _bucket_pairs(sig, ["tbl", "bucket"], id_col, max_bucket_size)
    vecs = corpus.select(
        F.col(id_col), F.col(vec_col).alias("__v"), l2_norm(F.col(vec_col)).alias("__n")
    )
    return (
        pairs.join(
            vecs.select(
                F.col(id_col).alias("id_a"), F.col("__v").alias("__va"), F.col("__n").alias("__na")
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"), F.col("__n").alias("__nb")
            ),
            "id_b",
        )
        .withColumn(
            "cos_sim",
            safe_cosine(
                dot(F.col("__va"), F.col("__vb")), F.col("__na") * F.col("__nb")
            ),
        )
        .filter(F.col("cos_sim") >= F.lit(threshold))
        .select("id_a", "id_b", "cos_sim")
    )


def semantic_dedup_clusters(
    corpus: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kwargs,
) -> DataFrame:
    """Transitive embedding near-dup clusters: pairs → connected
    components → (node, component). The component id is the cluster's
    minimum member (the canonical keeper for keep-first dedup)."""
    from odin_rs_spark.operators.dedup import connected_components

    pairs = semantic_near_dup_pairs(corpus, threshold, id_col, vec_col, **kwargs)
    return connected_components(pairs.select("id_a", "id_b"))


def _per_dim_dense(corpus, vec_col, value_fn, agg_fn) -> list[float]:
    """Per-dimension statistic as a dense python list: one posexplode +
    map-side-combinable aggregate, collected under the bounded contract
    (one row per embedding dimension — model width, ~10^2..10^3). Empty
    corpora / all-NULL dims degrade to 0.0 entries, never a crash.
    ONE implementation shared by the int8 scale derivation (q105 audit
    AND q109 index — if they derived scales separately, the audit could
    silently stop describing the index it certifies) and the centering
    means."""
    exd = corpus.select(
        F.posexplode(F.col(vec_col)).alias("__d", "__xf")
    ).select("__d", value_fn(F.col("__xf")).alias("__v"))
    rows = exd.groupBy("__d").agg(agg_fn(F.col("__v")).alias("__a")).collect()
    dense = [0.0] * ((max(r["__d"] for r in rows) + 1) if rows else 0)
    for r in rows:
        dense[r["__d"]] = 0.0 if r["__a"] is None else float(r["__a"])
    return dense


def _int8_scales(corpus, vec_col) -> list[float]:
    """Symmetric max-abs int8 scales (the q105/q109 shared contract)."""
    return _per_dim_dense(
        corpus, vec_col, lambda x: F.abs(x.cast("double")), F.max
    )


def _int8_recon(vec: Column, sc: Column) -> Column:
    """Quantize+dequantize under per-dim scales: clamp(floor(x/s*127+0.5),
    -127, 127)*s/127, 0.0 where s == 0. floor(+0.5) is engine-identical
    (unlike HALF_UP round). When scales are max-abs-derived from the same
    corpus |x| <= s and the clamp is a no-op; on the train-once/reuse path
    (injected scales, later batches) out-of-range values saturate at
    ±127 — the same behavior as a real SQ8/FAISS flat index — instead of
    silently encoding codes the int8 domain cannot hold."""
    return F.zip_with(
        vec,
        sc,
        lambda xi, si: F.when(
            si > 0,
            F.greatest(
                F.lit(-127.0),
                F.least(
                    F.lit(127.0),
                    F.floor(xi.cast("double") / si * 127.0 + 0.5),
                ),
            )
            * si
            / 127.0,
        ).otherwise(F.lit(0.0)),
    )


def matryoshka_topk(
    corpus: DataFrame,
    queries: DataFrame,
    prefix_dim: int = 16,
    rerank_k: int = 20,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    parallelism: int | None = None,
) -> DataFrame:
    """Two-stage ANN over Matryoshka-style embeddings (Kusupati et al.,
    NeurIPS'22): stage 1 scores every corpus vector with a cosine over
    only the first `prefix_dim` dimensions (MRL models front-load
    information, so the prefix is a usable coarse embedding) and keeps
    the top `rerank_k` candidates per query; stage 2 re-ranks only those
    candidates with the exact full-dimension cosine and returns top `k`.

    Scale shape: the corpus-wide stage computes a prefix_dim-wide dot
    (d/prefix_dim cheaper than full) and shuffles only (query_id, id,
    score) triples for the per-query rank — vectors never shuffle. The
    survivor set (|queries|·rerank_k rows) is broadcast back onto the
    corpus scan to fetch full vectors, so stage 2 adds a broadcast
    semi-pattern join and a trivially small rank — no second wide
    shuffle. At 100 TB with the prefix stored as its own parquet column,
    stage 1 would also read d/prefix_dim fewer bytes.

    Determinism: both ranks tie-break on ascending id; prefix and full
    dots sum float->double in array order, mirroring the SQL oracle.
    Output: (query_id, vec_id, cos_sim, rank) — cos_sim is the exact
    full-dimension cosine.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qfull"),
            F.slice(F.col(vec_col), 1, prefix_dim).alias("__qpre"),
        ).select(
            query_id_col,
            "__qfull",
            l2_norm(F.col("__qfull")).alias("__qfn"),
            "__qpre",
            l2_norm(F.col("__qpre")).alias("__qpn"),
        )
    )
    if parallelism:
        corpus = corpus.repartition(parallelism)
    base = corpus.select(F.col(id_col), F.col(vec_col).alias("__cfull"))
    coarse = (
        base.select(
            id_col,
            F.slice(F.col("__cfull"), 1, prefix_dim).alias("__cpre"),
        )
        .select(id_col, "__cpre", l2_norm(F.col("__cpre")).alias("__cpn"))
        .join(q.select(query_id_col, "__qpre", "__qpn"), F.col(query_id_col) != F.col(id_col))
        .select(
            query_id_col,
            id_col,
            safe_cosine(
                dot(F.col("__qpre"), F.col("__cpre")),
                F.col("__qpn") * F.col("__cpn"),
            ).alias("__pre_cos"),
        )
    )
    wc = Window.partitionBy(query_id_col).orderBy(
        F.col("__pre_cos").desc(), F.col(id_col).asc()
    )
    cand = (
        coarse.withColumn("__crank", F.row_number().over(wc))
        .filter(F.col("__crank") <= rerank_k)
        .select(query_id_col, id_col)
    )
    exact = (
        base.join(F.broadcast(cand), id_col)
        .join(q.select(query_id_col, "__qfull", "__qfn"), query_id_col)
        .select(
            query_id_col,
            id_col,
            safe_cosine(
                dot(F.col("__qfull"), F.col("__cfull")),
                F.col("__qfn") * l2_norm(F.col("__cfull")),
            ).alias("cos_sim"),
        )
    )
    wf = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def quantize_int8_stats(
    corpus: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """Int8 scalar quantization audit: quantize every vector with
    per-dimension symmetric max-abs scales (q_i = floor(x_i/s_i*127 +
    0.5), the standard symmetric int8 scheme; |x_i| <= s_i by
    construction so no clamp branch exists to diverge on) and report,
    per `group_col`: how much cosine geometry the corpus would keep
    (avg cos(x, dequant(x))) and the worst/typical absolute
    reconstruction error. This is the go/no-go audit before shipping a
    4x-smaller int8 ANN index at 100 TB.

    Scale shape: pass 1 is a posexplode + map-side-combinable per-dim
    max (vectors never shuffle; dim-count rows out). The scale vector
    (one row per dimension — bounded by model width, ~10^2..10^3) is
    collected to a literal array under that explicit contract, so pass 2
    is a ZERO-shuffle zip_with projection per row followed by one
    map-side-combinable aggregate. No joins at all.

    Determinism: floor(+0.5) rounding is identical in every engine
    (unlike banker's/HALF_UP round); max-aggregates are order-free;
    the only order-sensitive sums are 64-element per-row dots, rounded
    at round_to digits like every cosine in this module.
    """
    sc = F.lit(_int8_scales(corpus, vec_col))  # one array Literal node
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    recon = _int8_recon(F.col(vec_col), sc)
    per = corpus.select(
        F.col(group_col),
        x.alias("__x"),
        recon.alias("__r"),
    ).select(
        group_col,
        # safe_cosine: a zero-norm row contributes NULL (excluded from
        # the avg) instead of an ANSI DIVIDE_BY_ZERO job kill
        safe_cosine(
            dot(F.col("__x"), F.col("__r")),
            l2_norm(F.col("__x")) * l2_norm(F.col("__r")),
        ).alias("__cos"),
        F.array_max(
            F.zip_with(F.col("__x"), F.col("__r"), lambda a, b: F.abs(a - b))
        ).alias("__maxerr"),
    )
    return per.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("__cos"), round_to).alias("avg_cos_keep"),
        F.round(F.max("__maxerr"), round_to).alias("max_abs_err"),
        F.round(F.avg("__maxerr"), round_to).alias("avg_max_err"),
    )


def int8_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    scales: list[float] | None = None,
    parallelism: int | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over an int8-quantized corpus: the
    corpus side is stored/scored as int8 codes under per-dimension
    max-abs scales (the index `quantize_int8_stats` audits), queries
    stay full-precision, and the score is the cosine between the query
    and the DEQUANTIZED corpus vector (ADC, the SQ8 flat-index scheme
    FAISS calls IndexScalarQuantizer). 4x smaller corpus bytes for a
    rank-k loss the q105 audit quantifies in advance.

    `scales` injects a precomputed scale vector (the 100 TB path: train
    once, reuse per query batch); when None, one bounded per-dim max
    aggregation derives it from the corpus (one row per dimension).

    Scale shape: identical to `cosine_topk` — broadcast query side, one
    corpus scan, only (query_id, id, score) triples shuffle for the
    per-query rank. Quantize→dequantize is a zero-join zip_with
    projection fused into the scan.

    Determinism: floor(+0.5) quantization and in-order double folds,
    exactly replayable in SQL; rank ties break on ascending id.
    """
    if scales is None:
        scales = _int8_scales(corpus, vec_col)
    else:
        # injected path: a wrong-length vector would make zip_with pad
        # with NULL and silently emit NULL adc_cos scores / empty
        # rankings — probe one row (bounded action) and refuse instead
        # (same guard as center_embeddings' injected means)
        probe = corpus.select(F.size(F.col(vec_col)).alias("__dim")).first()
        if probe is not None and probe["__dim"] != len(scales):
            raise ValueError(
                f"scales has {len(scales)} entries but {vec_col} has "
                f"{probe['__dim']} dimensions"
            )
    sc = F.lit([float(s) for s in scales])
    recon = _int8_recon(F.col(vec_col), sc)
    if parallelism:
        corpus = corpus.repartition(parallelism)
    base = corpus.select(
        F.col(id_col), recon.alias("__rvec")
    ).select(id_col, "__rvec", l2_norm(F.col("__rvec")).alias("__rn"))
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            l2_norm(F.col(vec_col)).alias("__qn"),
        )
    )
    scored = base.join(q, F.col(query_id_col) != F.col(id_col)).select(
        query_id_col,
        id_col,
        (
            safe_cosine(
                dot(F.col("__qvec"), F.col("__rvec")),
                F.col("__qn") * F.col("__rn"),
            )
        ).alias("adc_cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "adc_cos", "rank")
    )


def center_embeddings(
    corpus: DataFrame,
    vec_col: str = "embedding",
    means: list[float] | None = None,
    renormalize: bool = True,
    out_col: str = "centered",
) -> DataFrame:
    """Mean-center (and optionally re-normalize) an embedding column —
    the transform whose parameters `embedding_dim_stats` (q89) audits.
    Mean-shifted dimensions break cosine/LSH isotropy (every vector
    leans toward the corpus centroid, so buckets collapse and cosine
    saturates); centering restores it, and unit renorm makes dot ==
    cosine for every downstream ANN stage.

    `means` injects precomputed per-dim means (the 100 TB path: audit
    once with embedding_dim_stats, reuse the vector); when None, one
    posexplode + combinable avg derives it (one bounded collect — one
    row per dimension, same contract as the int8 scale vector).

    Zero-join zip_with projection per row; the original column is kept
    so callers can A/B the geometry.
    """
    if means is None:
        means = _per_dim_dense(
            corpus, vec_col, lambda x: x.cast("double"), F.avg
        )
    else:
        # injected path: a wrong-length vector would make zip_with pad
        # with NULL and silently emit NULL-holed, un-renormalized output
        # — probe one row (bounded action) and refuse instead
        probe = corpus.select(F.size(F.col(vec_col)).alias("__dim")).first()
        if probe is not None and probe["__dim"] != len(means):
            raise ValueError(
                f"means has {len(means)} entries but {vec_col} has "
                f"{probe['__dim']} dimensions"
            )
    mv = F.lit([float(m) for m in means])
    centered = F.zip_with(
        F.col(vec_col), mv, lambda xi, mi: xi.cast("double") - mi
    )
    out = corpus.withColumn(out_col, centered)
    if renormalize:
        # stage the norm as its OWN column before the divide: an inline
        # l2_norm expression inside the transform() lambda would
        # re-evaluate per element (no CSE across lambda scopes — the
        # measured 4x trap documented at text.fingerprint)
        out = out.withColumn("__n", l2_norm(F.col(out_col)))
        out = out.withColumn(
            out_col,
            F.when(
                F.col("__n") > 0,
                F.transform(F.col(out_col), lambda v: v / F.col("__n")),
            ).otherwise(F.col(out_col)),
        ).drop("__n")
    return out


def sq_l2(a: Column, b: Column) -> Column:
    """Σ (aᵢ−bᵢ)² in double precision, JVM-side, sequential fold order —
    the same element-order fold DuckDB's list_sum performs, so both
    engines produce bit-identical distances."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def greedy_kcenter_select(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point) DIVERSITY selection — the
    coreset move a training-data pipeline runs to pick k maximally
    spread exemplars from an embedding corpus (dedup keeps one per
    near-dup cluster; this picks the k that COVER the space: classic
    2-approximation to the k-center objective, Gonzalez 1985).

    Deterministic: seed = the minimum id; each round selects the point
    whose distance to its NEAREST already-selected center is largest
    (squared L2, sequential fold order), ties broken by minimum id.
    Returns (sel_rank, id, dist) — dist is the max-min distance at
    selection time (0.0 for the seed).

    Scale shape: k rounds, each ONE narrow column pass over the corpus
    (update min-distance against the single newly selected center —
    the center's vector rides the plan as a broadcast 1-row cross
    join) + one orderBy(...).limit(1) argmax; localCheckpoint per
    round keeps the lineage flat, and the only driver traffic is k
    single rows. Embeddings never shuffle. Already-picked rows are
    excluded via a boolean __sel column folded into each round's
    checkpointed pass (ADVICE r6: a growing isin([...]) list put
    O(k²) literals in the plan), and the returned id column keeps the
    input's type (string ids work)."""
    spark = emb.sparkSession
    id_type = emb.schema[id_col].dataType.simpleString()
    out_schema = f"sel_rank int, {id_col} {id_type}, dist double"
    cur = emb.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    )
    seed = cur.orderBy("__id").limit(1).collect()  # bounded: 1 row
    if not seed:
        return spark.createDataFrame([], out_schema)
    picked = [(0, seed[0]["__id"], 0.0)]

    def _center_lit(vec) -> Column:
        # the newly selected center rides the plan as an ARRAY LITERAL
        # instead of a broadcast 1-row createDataFrame+crossJoin: each
        # per-round createDataFrame cost ~0.5 s of pure driver work
        # (measured; 60% of the operator's wall at k=6). Values are the
        # collected floats of the corpus row, so sq_l2's cast("double")
        # sees bit-identical inputs either way.
        return F.array(*[F.lit(float(x)) for x in vec])

    cur = (
        cur.withColumn("__mind", sq_l2(F.col("__v"), _center_lit(seed[0]["__v"])))
        .withColumn("__sel", F.col("__id") == F.lit(seed[0]["__id"]))
        .localCheckpoint(eager=False)
    )
    for rank in range(1, k):
        top = (
            cur.filter(~F.col("__sel"))
            .orderBy(F.col("__mind").desc(), "__id")
            .limit(1)
            .collect()  # bounded: 1 row per round; also carries __v,
            # so no second center-fetch job is needed
        )
        if not top:
            break
        cid, cdist = top[0]["__id"], float(top[0]["__mind"])
        picked.append((rank, cid, cdist))
        cur = (
            cur.withColumn(
                "__mind",
                F.least(
                    F.col("__mind"), sq_l2(F.col("__v"), _center_lit(top[0]["__v"]))
                ),
            )
            .withColumn("__sel", F.col("__sel") | (F.col("__id") == F.lit(cid)))
            # lazy: the NEXT round's argmax materializes the checkpoint
            # in the same job, halving the per-round job count; lineage
            # still resets every round (the ADVICE r6 O(k^2) fix)
            .localCheckpoint(eager=False)
        )
    return spark.createDataFrame(picked, out_schema)


def semdedup_select(
    corpus: DataFrame,
    centroid_ids,
    tau: float = 0.96,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — semantic
    deduplication at web scale): cluster the embedding corpus, then
    restrict the quadratic near-duplicate search to WITHIN each
    cluster — the paper's own scalability argument, and the exact
    reason this survives 100 TB where an all-pairs cosine join cannot.

    Clustering here is the repo's deterministic fixed-seed max-cosine
    assignment (`_fixed_centroids` + `_assign_nearest_cosine`, shared
    with ivf_fixed_topk, so the whole pipeline replays in SQL); rank
    within a cluster = cosine-to-own-centroid DESC on the 6dp-rounded
    value with id tie-break (rounding keeps cross-engine double
    ordering stable — the q81 pattern). A point is `dropped` iff some
    HIGHER-ranked point in its cluster has cosine > tau with it —
    deterministic, join-expressible, and keeps exactly one
    representative per duplicate set when duplicates are mutual.

    Returns (id, cell, rank, ccos, dropped). Scale shape: centroids
    broadcast (2 joins), embeddings shuffle once on the cluster key
    for the window + once for the within-cluster pair join; pair
    volume is sum of squared CLUSTER sizes, not corpus².
    """
    cent = _fixed_centroids(corpus, centroid_ids, id_col, vec_col)
    base = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__cvec"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    assigned = _assign_nearest_cosine(base, cent, id_col)
    cent2 = cent.select(
        F.col("__cell").alias("__cell2"), F.col("__centroid").alias("__cv2")
    )
    ranked = (
        assigned.join(F.broadcast(cent2), F.col("__cell") == F.col("__cell2"))
        .withColumn(
            "__ccos",
            safe_cosine(
                dot(F.col("__cvec"), F.col("__cv2")),
                F.col("__cn") * l2_norm(F.col("__cv2")),
            ),
        )
        .withColumn(
            "__rank",
            F.row_number().over(
                Window.partitionBy("__cell").orderBy(
                    F.round(F.col("__ccos"), 6).desc(), F.col(id_col).asc()
                )
            ),
        )
        .select(id_col, "__cell", "__rank", "__ccos", "__cvec", "__cn")
    )
    # ranked feeds three consumers (the pair-join probe, its broadcast
    # build side, and the final left join): persist so the
    # centroid-assignment + window pipeline runs once.
    # Lifecycle (VERDICT r11 #8): consumed when the RETURNED plan
    # executes — session-scoped by design, released by the harnesses'
    # per-query clearCache(); long-lived callers should clearCache()
    # between invocations.
    from pyspark.storagelevel import StorageLevel

    ranked = ranked.persist(StorageLevel.MEMORY_AND_DISK)
    hi = ranked.select(
        F.col("__cell").alias("__hc"),
        F.col("__rank").alias("__hr"),
        F.col("__cvec").alias("__hv"),
        F.col("__cn").alias("__hn"),
    )
    # the within-cell pair join is keyed on the CLUSTER id alone, so a
    # plain shuffle join caps parallelism at #clusters — fine at corpus
    # scale (SemDeDup uses ~sqrt(N) clusters >> cores) but it strangles
    # the quadratic in-cell cosine work when #clusters < session width
    # (8 cells on local[32] left 3/4 of the cores idle). Deterministic
    # salt: probe rows key on pmod(xxhash64(id), k), the build side
    # replicates k ways, k shrinks to 1 exactly when #clusters already
    # covers the session width — the standard hot-key split of guide
    # §2.5, self-tuning to a no-op at scale.
    spark = corpus.sparkSession
    n_cells = max(1, len(list(centroid_ids)))
    k = max(1, -(-2 * spark.sparkContext.defaultParallelism // n_cells))
    probe = ranked.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(k)).cast("int")
    )
    hi_salted = hi.join(
        F.broadcast(
            spark.range(k).select(F.col("id").cast("int").alias("__hsalt"))
        )
    )
    dropped = (
        probe.join(
            hi_salted,
            (F.col("__cell") == F.col("__hc"))
            & (F.col("__salt") == F.col("__hsalt"))
            & (F.col("__hr") < F.col("__rank")),
        )
        .filter(
            safe_cosine(
                dot(F.col("__cvec"), F.col("__hv")),
                F.col("__cn") * F.col("__hn"),
            )
            > tau
        )
        .select(F.col(id_col).alias("__did"))
        .distinct()
    )
    return (
        ranked.join(
            dropped, F.col(id_col) == F.col("__did"), "left"
        )
        .select(
            F.col(id_col),
            F.col("__cell").alias("cell"),
            F.col("__rank").alias("rank"),
            F.col("__ccos").alias("ccos"),
            F.when(F.col("__did").isNotNull(), 1).otherwise(0).alias("dropped"),
        )
    )


# ---------------------------------------------------------------------------
# PCA via distributed Gram + driver-side power iteration (embedding
# hygiene: centering alone — center_embeddings above — leaves the
# dominant direction's variance inflating every cosine; projecting it
# out, or monitoring its variance share, is the standard pre-dedup
# check. Halko et al. 2011-style randomized solvers start the same
# way: the data makes ONE distributed pass to a d×d Gram, everything
# after is driver-side on a dim-sized object.)
# ---------------------------------------------------------------------------


def gram_matrix(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Distributed raw Gram: one row per (i, j) with g = Σ_rows x_i·x_j
    and the row count n.  Scale shape: the double posexplode multiplies
    ROWS CPU-side, but map-side partial aggregation reduces every
    partition to d² cells before the exchange — the shuffle carries
    partitions×d², never rows×d².  (A numpy mapInPandas partial-Gram is
    the constant-factor-faster variant; this form is used because the
    oracle replays it cell-for-cell.)"""
    pairs = df.select(
        F.posexplode(vec_col).alias("i", "xi"), F.col(vec_col).alias("__v")
    ).select("i", "xi", F.posexplode("__v").alias("j", "xj"))
    # n rides the same aggregation (every row contributes exactly one
    # (i, j) pair per cell, so the per-cell count IS the row count) —
    # a separate df.count() would be a second full scan at 100 TB
    return pairs.groupBy("i", "j").agg(
        F.sum(F.col("xi").cast("double") * F.col("xj").cast("double")).alias("g"),
        F.count(F.lit(1)).alias("n"),
    )


def power_iteration(
    c_rows: list[tuple[int, int, float]], d: int, steps: int = 10
) -> tuple[list[float], float]:
    """Dominant eigenvector of a d×d matrix given as (i, j, value)
    rows — pure Python on a dim-sized object (the driver-side half of
    the distributed PCA; deterministic: fixed uniform start, fixed
    step count, no convergence test).  Returns (v, eigenvalue)."""
    c = [[0.0] * d for _ in range(d)]
    for i, j, val in c_rows:
        c[int(i)][int(j)] = float(val)
    v = [1.0 / d ** 0.5] * d
    for _ in range(steps):
        u = [sum(c[i][j] * v[j] for j in range(d)) for i in range(d)]
        nrm = sum(x * x for x in u) ** 0.5
        v = [x / nrm for x in u]
    eig = sum(v[i] * sum(c[i][j] * v[j] for j in range(d)) for i in range(d))
    return v, eig

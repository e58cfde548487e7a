"""Similarity search over embedding columns (array<float>).

- ``cosine_sim``: native zip_with/aggregate dot product — JVM-side.
- ``brute_force_topk``: baseline exact top-k vs one query vector
  (broadcast literal; single scan, no shuffle until the final top-k).
- ``lsh_bucket_topk``: random-hyperplane LSH variant — candidates share a
  sign-bucket with the query, so the scan prunes to ~n/2^bits rows before
  scoring; the scale path when n is billions.
- ``all_pairs_near`` : embedding-cosine near-duplicate pairs via the same
  LSH bucketing (self-join on bucket, then exact verify).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rtfproc_spark.functions.dedup import _union_find


def _vec_lit(vec) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def cosine_sim(a: Column, b: Column) -> Column:
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / F.greatest(na * nb, F.lit(1e-12))


def brute_force_topk(
    df: DataFrame,
    query_vec,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector."""
    q = _vec_lit(query_vec)
    sim = cosine_sim(F.col(vec_col).cast("array<double>"), q)
    return (
        df.select(F.col(id_col), F.round(sim, 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(bits, dim)


def band_buckets_udf(planes: np.ndarray, bands: int, bits: int):
    """Arrow-batched kernel: all ``bands`` sign-buckets per vector in one
    numpy matmul (X @ planes.T -> signs -> per-band bit packing). One UDF
    call replaces bands*bits separate aggregate expressions — the Catalyst
    tree stays small and the math runs in BLAS."""
    from pyspark.sql.types import ArrayType, LongType

    weights = (1 << np.arange(bits, dtype=np.int64))

    @F.pandas_udf(ArrayType(LongType()))
    def f(vecs: pd.Series) -> pd.Series:
        out = [None] * len(vecs)
        vals = [
            None if v is None else np.asarray(v, dtype=np.float64) for v in vecs
        ]
        bad = [v.size for v in vals if v is not None and v.size != planes.shape[1]]
        if bad:
            # fail fast: a wrong explicit dim would otherwise silently map
            # every vector to a null bucket and yield an empty result
            raise ValueError(
                f"embedding length {bad[0]} != hyperplane dim {planes.shape[1]}"
                f" for {len(bad)} vector(s) in batch"
            )
        ok = [i for i, v in enumerate(vals) if v is not None]
        if ok:
            X = np.stack([vals[i] for i in ok])
            signs = (X @ planes.T >= 0).reshape(len(ok), bands, bits)
            packed = (signs * weights).sum(axis=2)
            for j, i in enumerate(ok):
                out[i] = packed[j].tolist()
        return pd.Series(out)

    return f


def _banded(df: DataFrame, vec_col: str, id_col: str, dim: int, bands: int, bits: int, seed: int):
    planes = _hyperplanes(dim, bands * bits, seed)
    bb = band_buckets_udf(planes, bands, bits)
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(bb(F.col(vec_col))).alias("band_idx", "bucket"),
    )


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    # single-row action; production callers pass dim explicitly
    return len(df.select(vec_col).first()[0])


def lsh_bucket_topk(
    df: DataFrame,
    query_vec,
    k: int = 10,
    bits: int = 4,
    bands: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only rows sharing at least one band bucket
    with the query (multi-probe across ``bands`` independent hyperplane
    banks — single-bank sign LSH loses every neighbor split by one plane).

    At 100 TB the band buckets are materialized at ingest (partition or
    Z-order by bucket) so each probe is a pushable int equality; the final
    exact scoring touches only the pruned candidate set."""
    q = np.asarray(query_vec, dtype=float)
    planes = _hyperplanes(len(q), bands * bits, seed)
    signs = (planes @ q >= 0).reshape(bands, bits)
    weights = (1 << np.arange(bits, dtype=np.int64))
    qb = (signs * weights).sum(axis=1)
    banded = _banded(df, vec_col, id_col, len(q), bands, bits, seed)
    probe = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.lit(int(v)).cast("long").alias("bucket"),
            )
            for i, v in enumerate(qb)
        ]
    )
    cand_ids = (
        banded.filter(
            F.array_contains(
                probe, F.struct(F.col("band_idx"), F.col("bucket"))
            )
        )
        .select("id")
        .distinct()
    )
    cands = df.join(
        cand_ids.withColumnRenamed("id", id_col).hint("broadcast"), id_col
    )
    return brute_force_topk(cands, q, k, vec_col, id_col)


def all_pairs_near(
    df: DataFrame,
    threshold: float = 0.95,
    bits: int = 8,
    bands: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    dim: int | None = None,
    max_bucket: int = 1000,
    persist: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-band hyperplane LSH.

    Candidates = pairs sharing ANY of ``bands`` independent sign-buckets
    (OR across banks — recall compounds as 1-(1-p^bits)^bands, fixing the
    single-bank recall hole where one straddled hyperplane loses the pair),
    then exact cosine verification. Shuffle discipline: the bucket self-join
    moves only (id, band_idx, bucket) — vectors are re-attached per
    candidate id afterwards, never duplicated bands times. Buckets larger
    than ``max_bucket`` are dropped from candidate generation (a degenerate
    bucket goes quadratic); exact-dup vectors are the right tool for those
    and the cap is a documented, not silent, bound.
    """
    if dim is None:
        dim = _infer_dim(df, vec_col)
    from rtfproc_spark.functions.buckets import persist_tracked, prune_degenerate_buckets

    # persist BEFORE pruning: the bucket-size aggregate, the pruning join
    # and both self-join sides all consume the matmul UDF output — caching
    # the raw banded table means the UDF runs exactly once (at 100 TB this
    # is a staged buckets table, computed once at ingest). Long-lived
    # sessions release via buckets.release_persisted(); persist=False trades
    # repeated UDF passes for zero cached state.
    banded = _banded(df, vec_col, id_col, dim, bands, bits, seed)
    if persist:
        banded = persist_tracked(banded)
    pruned = prune_degenerate_buckets(banded, ["band_idx", "bucket"], max_bucket)
    a, b = pruned.alias("a"), pruned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = df.select(
        F.col(id_col).alias("_vid"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    verified = (
        pairs.join(vecs.withColumnRenamed("_vid", "id_a").withColumnRenamed("_v", "v_a"), "id_a")
        .join(vecs.withColumnRenamed("_vid", "id_b").withColumnRenamed("_v", "v_b"), "id_b")
    )
    sim = cosine_sim(F.col("v_a"), F.col("v_b"))
    return verified.select(
        "id_a",
        "id_b",
        F.round(sim, 4).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def assign_clusters(X: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """argmin-distance cluster assignment, shared by the distributed UDF and
    the driver-side oracle so the two are bit-identical: the per-row score
    is -2*x.c_j + |c_j|^2 (the |x|^2 term is constant per row and dropped).

    The dot products are accumulated dimension-by-dimension with
    elementwise numpy ops — a fixed left-fold over the feature axis —
    rather than a single GEMM: BLAS blocks a matmul differently depending
    on the matrix SHAPE, so a full-corpus driver GEMM and a per-Arrow-batch
    executor GEMM could disagree in the last ulp and argmin-flip a near-tie
    assignment. The per-dimension fold gives every element the same
    operation order regardless of how many rows share the batch, making
    driver-vs-executor equality a property of the math, not of Arrow batch
    boundaries. Cost is dims (small for embeddings) passes over the n x k
    score matrix — negligible next to the scan."""
    X = np.ascontiguousarray(X, dtype=np.float64)
    C = np.ascontiguousarray(centroids, dtype=np.float64)
    D = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
    for d in range(X.shape[1]):
        D += X[:, d : d + 1] * C[None, :, d]
    D *= -2.0
    # |c_j|^2 likewise as a fixed per-dimension fold (not .sum(), whose
    # pairwise reduction order depends on array size)
    cn = np.zeros(C.shape[0], dtype=np.float64)
    for d in range(C.shape[1]):
        cn += C[:, d] * C[:, d]
    D += cn[None, :]
    return D.argmin(axis=1)


def kmeans_fit_local(X, nlist: int = 16, seed: int = 42, iters: int = 10) -> np.ndarray:
    """Deterministic driver-side Lloyd's k-means (plain numpy, fixed seed)
    over a SAMPLE of the corpus — the IVF training posture at 100 TB: the
    coarse quantizer never needs the full corpus (a bounded sample gives
    statistically equivalent centroids), and training driver-side makes the
    centroids a deterministic artifact that ships to executors as a small
    broadcast instead of a per-query distributed ML job."""
    X = np.asarray(X, dtype=np.float64)
    rng = np.random.RandomState(seed)
    k = min(nlist, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        a = assign_clusters(X, C)
        for j in range(k):
            m = a == j
            if m.any():
                C[j] = X[m].mean(axis=0)
    return C


def kmeans_fit_distributed(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 16,
    seed: int = 42,
    iters: int = 10,
    init_sample: int = 4096,
) -> np.ndarray:
    """Distributed Lloyd's k-means over the FULL corpus — removes the one
    driver-side compute ceiling ``kmeans_fit_local`` keeps (its bounded
    ``toPandas`` sample): each iteration runs ONE ``mapInPandas`` pass
    emitting per-Arrow-batch partial sums (cluster, count, sum-vector) —
    the classic map-side combine — which Spark reduces to k x (d+1)
    numbers; only those reach the driver, never vectors. Cost: ``iters``
    full scans (persist the cast vectors before calling if iterating over
    a cold source at scale).

    Initialization is the same deterministic rule as the local fit (seeded
    choice over the id-ordered head), so on identical data the two fits
    follow the same trajectory; per-dimension float ADDITION ORDER across
    partitions is Spark's, so centroids can differ from the local fit in
    the last ulp — use :func:`kmeans_fit_local` when the centroid artifact
    must be bit-reproducible (the driver-oracle posture), this when the
    training set must exceed driver memory."""
    d = len(
        df.select(F.col(vec_col).cast("array<double>").alias("v"))
        .limit(1)
        .collect()[0]["v"]
    )
    sample = (
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
        .orderBy(id_col)
        .limit(min(init_sample, 8192))
        .toPandas()
    )
    X0 = np.stack([np.asarray(v, dtype=np.float64) for v in sample.iloc[:, 1]])
    rng = np.random.RandomState(seed)
    k = min(nlist, len(X0))
    C = X0[rng.choice(len(X0), size=k, replace=False)].copy()
    vecs = df.select(F.col(vec_col).cast("array<double>").alias("v"))
    out_schema = "cluster int, n long, s array<double>"
    for _ in range(iters):
        Cb = C.copy()

        def partial_sums(pdfs, Cb=Cb):
            for pdf in pdfs:
                if not len(pdf):
                    continue
                X = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
                )
                a = assign_clusters(X, Cb)
                present = np.unique(a)
                yield pd.DataFrame(
                    {
                        "cluster": present.astype(np.int32),
                        "n": [int((a == j).sum()) for j in present],
                        "s": [X[a == j].sum(axis=0) for j in present],
                    }
                )

        # one scan per iteration: the partials (a few rows per Arrow batch)
        # are persisted so the count and per-dimension aggregations don't
        # re-run the assignment pass
        partials = vecs.mapInPandas(partial_sums, schema=out_schema).persist()
        try:
            cnts = {
                r["cluster"]: r["n"]
                for r in partials.groupBy("cluster")
                .agg(F.sum("n").alias("n"))
                .collect()
            }
            sums = (
                partials.select(
                    "cluster", F.posexplode("s").alias("pos", "val")
                )
                .groupBy("cluster", "pos")
                .agg(F.sum("val").alias("sv"))
                .collect()
            )
        finally:
            partials.unpersist()
        S = np.zeros((k, d), dtype=np.float64)
        for r in sums:
            S[r["cluster"], r["pos"]] = r["sv"]
        for j in range(k):
            if cnts.get(j, 0):
                C[j] = S[j] / cnts[j]
    return C


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF coarse-quantizer assignment: (id, cluster) for every vector, via
    an Arrow-batched matmul UDF against the broadcast centroid matrix. At
    100 TB this column is materialized at ingest (partition/Z-order by
    cluster) so a probe becomes partition pruning, not a scan."""
    from pyspark.sql.types import IntegerType

    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="int32")
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        return pd.Series(assign_clusters(X, C).astype(np.int32))

    return df.select(
        F.col(id_col).alias("id"), assign(F.col(vec_col)).alias("cluster")
    )


def ivf_probe_clusters(query_vec, centroids: np.ndarray, nprobe: int) -> list[int]:
    """The ``nprobe`` centroid ids nearest the query by cosine."""
    q = np.asarray(query_vec, dtype=np.float64)
    C = np.asarray(centroids, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return [int(c) for c in np.argsort(-(cn @ qn))[:nprobe]]


def ivf_topk(
    df: DataFrame,
    query_vec,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    centroids: np.ndarray | None = None,
    train_sample: int = 4096,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` centroids nearest the
    query (cosine), exact-score only vectors assigned to them. The scale
    path the task mandate names alongside LSH: scanned fraction ~nprobe/
    nlist, recall grows with nprobe (nprobe=nlist is exhaustive).

    Pass ``centroids`` (the ingest-time artifact from ``kmeans_fit_local``,
    or :func:`kmeans_fit_distributed` when the training set must exceed
    driver memory) to skip training; otherwise a bounded ``train_sample``
    of vectors is pulled to the driver and k-means runs locally — NEVER a
    full-corpus distributed ML job per lookup.

    Pass ``assigned`` — the (id, cluster) table ``ivf_assign`` materialized
    at ingest (at 100 TB: a partition/Z-order column of the stored table) —
    and the lookup does NO assignment matmul at all: the probe becomes a
    filter on the cluster column (partition pruning on a cluster-partitioned
    store) + a broadcast semi-join of the surviving ids back to the vectors.
    Without it the query path re-runs the assignment UDF over the full
    corpus, which is the brute-force scan IVF exists to avoid."""
    q = np.asarray(query_vec, dtype=np.float64)
    if centroids is None:
        # deterministic sample: an unordered limit() returns whatever rows
        # the scan delivers first — partitioning-dependent, so centroids
        # (and the top-k) would differ across runs/cluster layouts. orderBy
        # + limit compiles to TakeOrderedAndProject (per-partition top-K +
        # merge, no full sort), so determinism costs no extra shuffle.
        sample = (
            df.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
            .orderBy(id_col)
            .limit(train_sample)
            .toPandas()
        )
        X = np.stack([np.asarray(v, dtype=np.float64) for v in sample.iloc[:, 1]])
        centroids = kmeans_fit_local(X, nlist=nlist, seed=seed)
    probe = ivf_probe_clusters(q, centroids, nprobe)
    if assigned is None:
        assigned = ivf_assign(df, centroids, vec_col, id_col)
    cand_ids = assigned.filter(F.col("cluster").isin(probe)).select("id")
    cands = df.join(
        cand_ids.withColumnRenamed("id", id_col).hint("broadcast"), id_col
    )
    return brute_force_topk(cands, q, k, vec_col, id_col)


def semantic_dedup(
    df: DataFrame,
    centroids: np.ndarray,
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster: int = 50_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate removal by clustering embeddings with a k-means coarse
    quantizer and comparing pairs ONLY within a cluster — the published
    answer to "all-pairs cosine is O(n^2)" that complements the hyperplane
    LSH route (:func:`all_pairs_near`): LSH bounds recall per band
    probability, SemDeDup bounds WORK per cluster (sum of m_c^2 ~= n^2 /
    nlist for balanced clusters), and reuses the IVF artifact the corpus
    already materializes for similarity search.

    Pipeline: ``ivf_assign`` against the broadcast ``centroids`` artifact
    (at 100 TB the cluster id is a stored partition column — this step is
    free at dedup time), then ONE grouped Arrow kernel per cluster
    computing every within-cluster pairwise cosine with per-dimension
    numpy folds (round 9 — replacing the former id-only self-join + two
    vector-attachment joins + per-pair interpreted ``aggregate`` fold:
    the O(m_c^2) pair set never materializes as join rows and no vector
    is shuffled per pair; cosines are bit-identical because the fold
    order is the same, see the kernel comment). The edge rule stays
    ``round(cos, 4) >= threshold`` — the round makes the edge set
    reproducible by a driver-side fold — applied in-plan to the kernel's
    raw doubles. Then connected components and the keep-the-minimum-id
    policy — and because every edge is cluster-LOCAL by construction,
    global components equal per-cluster components, so the clustering is
    a per-cluster union-find in a second grouped kernel (round 9) instead
    of the multi-round distributed star contraction the cross-bucket
    MinHash keeplist still needs. Same (id, cluster, keep, rep_id)
    contract as before.

    Returns one row per vector: ``(id_col, cluster, keep, rep_id)`` with
    ``rep_id`` = the minimum id of the vector's near-duplicate component
    (its own id when unique) and ``keep`` true iff the vector IS that
    representative.

    Scale posture: the self-join key is the cluster id, so ``nlist`` must
    grow with the corpus (SemDeDup uses 50k clusters for LAION) to keep
    per-cluster work bounded; clusters larger than ``max_cluster`` are
    EXCLUDED from pair generation (every member kept, like the degenerate
    LSH-bucket cap) rather than silently going quadratic — a documented
    bound, and the cluster-size check is one aggregate over the tiny
    (id, cluster) table. Only (id, cluster) rows move through the
    self-join; vectors are re-attached per candidate id afterwards.

    Rows with a NULL embedding bypass the whole pipeline (kept, null
    cluster, their own representative) — a missing vector carries no
    dedup signal, and silently feeding it to the assignment kernel would
    crash the job (same bypass contract as the streaming near-dedup's
    null-text rule).
    """
    null_rows = (
        df.filter(F.col(vec_col).isNull())
        .select(
            F.col(id_col),
            F.lit(None).cast("int").alias("cluster"),
            F.lit(True).alias("keep"),
            F.col(id_col).alias("rep_id"),
        )
    )
    from rtfproc_spark.functions.buckets import ensure_scan_parallelism

    # under-split sources would run the assignment UDF through ONE task
    df = ensure_scan_parallelism(df.filter(F.col(vec_col).isNotNull()))
    # (id, cluster) feeds four consumers (size agg, both self-join sides,
    # the final output join) — checkpoint it so the assignment UDF runs
    # exactly once (at 100 TB this IS the stored cluster column; the
    # checkpoint is n rows x two ints, bounded)
    assigned = ivf_assign(df, centroids, vec_col, id_col).localCheckpoint()
    sizes = assigned.groupBy("cluster").agg(F.count("*").alias("_csize"))
    # <= nlist rows: broadcast the size table, never shuffle `assigned` for it
    pairable = assigned.join(
        F.broadcast(sizes.filter(F.col("_csize") <= max_cluster).select("cluster")),
        "cluster",
    )
    # Within-cluster candidate edges via ONE grouped Arrow kernel instead of
    # the former (id,cluster) self-join + per-pair F.aggregate(zip_with)
    # fold. The O(m_c^2) pair set never materializes as join rows and no
    # vector is shuffled per pair: each cluster's (id, vec) rows arrive as a
    # single pandas group (bounded by max_cluster), and every pairwise
    # cosine is computed with per-DIMENSION numpy folds — the same
    # left-to-right IEEE addition order as the interpreted aggregate()
    # expression it replaces (see assign_clusters for the fold rationale),
    # so cosines are BIT-IDENTICAL and the driver-oracle differential
    # (semantic_dedup_local, itself a sequential fold) still matches
    # exactly. The kernel prefilters at threshold - 1e-4 (strictly below
    # the smallest double that can round4 up to the threshold), and the
    # DEFINITIVE filter stays in the plan as the unchanged
    # round(cos, 4) >= threshold expression over the kernel's raw doubles.
    margin = float(threshold) - 1e-4

    def _edges_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = {
            "cluster": np.array([], dtype=np.int32),
            "id_a": np.array([], dtype=np.int64),
            "id_b": np.array([], dtype=np.int64),
            "_cos": np.array([], dtype=np.float64),
        }
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(empty)
        cluster = np.int32(pdf["cluster"].iat[0])
        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
        # norms once per vector: sequential per-dimension fold == the
        # aggregate(acc + v*v) left fold, then sqrt — identical doubles
        n2 = np.zeros(m, dtype=np.float64)
        for k in range(X.shape[1]):
            n2 += X[:, k] * X[:, k]
        norms = np.sqrt(n2)
        out_a, out_b, out_c = [], [], []
        # row-chunked so the dot block stays ~64 MB even at max_cluster
        step = max(1, min(m, 8_388_608 // m))
        for r0 in range(0, m - 1, step):
            r1 = min(r0 + step, m)
            D = np.zeros((r1 - r0, m), dtype=np.float64)
            for k in range(X.shape[1]):
                D += X[r0:r1, k, None] * X[None, :, k]
            C = D / np.maximum(norms[r0:r1, None] * norms[None, :], 1e-12)
            ii, jj = np.nonzero(C >= margin)
            keep = jj > (ii + r0)  # ids sorted: upper triangle == id_a < id_b
            ii, jj = ii[keep], jj[keep]
            out_a.append(ids[ii + r0])
            out_b.append(ids[jj])
            out_c.append(C[ii, jj])
        if not out_a:
            return pd.DataFrame(empty)
        ia = np.concatenate(out_a)
        return pd.DataFrame(
            {
                "cluster": np.full(len(ia), cluster, dtype=np.int32),
                "id_a": ia,
                "id_b": np.concatenate(out_b),
                "_cos": np.concatenate(out_c),
            }
        )

    vec_rows = pairable.join(
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        ),
        "id",
    )
    cand = vec_rows.groupBy("cluster").applyInPandas(
        _edges_kernel, schema="cluster int, id_a long, id_b long, _cos double"
    )
    edges = cand.filter(F.round(F.col("_cos"), 4) >= F.lit(threshold)).select(
        "cluster", "id_a", "id_b"
    )

    # Connected components: every edge is WITHIN a cluster by construction
    # (pairs are only generated cluster-locally), so global components ==
    # per-cluster components — a per-cluster union-find in one grouped
    # kernel replaces the multi-round distributed components loop (round
    # 9: the iterative CC loop cost several shuffles + localCheckpoints
    # per round for edge sets a single task folds in microseconds; the
    # per-cluster edge count is bounded by the max_cluster pair cap). The
    # MinHash keeplist keeps the distributed CC — its edges CROSS buckets,
    # so cluster-local folding does not apply there. Same min-id
    # representative / keep contract, pinned by the shared driver-oracle
    # differential (semantic_dedup_local runs an independent union-find).
    comp = edges.groupBy("cluster").applyInPandas(
        lambda pdf: _union_find(pdf["id_a"], pdf["id_b"]),
        schema="id long, component long",
    )
    return (
        assigned.join(comp, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cluster",
            F.coalesce(F.col("component"), F.col("id")).alias("rep_id"),
        )
        .select(
            id_col,
            "cluster",
            (F.col(id_col) == F.col("rep_id")).alias("keep"),
            "rep_id",
        )
        .unionByName(null_rows)
    )


def semantic_dedup_local(
    ids, X: np.ndarray, centroids: np.ndarray, threshold: float = 0.35,
    max_cluster: int = 50_000,
):
    """Pure-Python/numpy re-derivation of :func:`semantic_dedup` for the
    driver-oracle differential. Assignment goes through the SAME
    ``assign_clusters`` fold (bit-identical to the executor UDF by
    construction); each in-cluster pair's cosine is the sequential
    left-fold Spark's ``aggregate`` performs (NOT np.dot — BLAS pairwise
    order can differ in the last ulp), rounded HALF_UP to 4 like
    ``F.round``; components come from a union-find instead of min-label
    propagation, so the clustering step is independently derived. Returns
    a pandas frame with the same four columns."""
    from decimal import ROUND_HALF_UP, Decimal

    X = np.ascontiguousarray(X, dtype=np.float64)
    ids = list(ids)
    assigned = assign_clusters(X, centroids)

    def fold_dot(u, v):
        acc = 0.0
        for x, y in zip(u, v):
            acc += x * y
        return acc

    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x, y):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)

    by_cluster: dict[int, list[int]] = {}
    for pos, c in enumerate(assigned):
        by_cluster.setdefault(int(c), []).append(pos)
    q4 = Decimal("0.0001")
    for c, members in by_cluster.items():
        if len(members) > max_cluster:
            continue
        for ii in range(len(members)):
            for jj in range(ii + 1, len(members)):
                p, q = members[ii], members[jj]
                dot = fold_dot(X[p], X[q])
                na = fold_dot(X[p], X[p]) ** 0.5
                nb = fold_dot(X[q], X[q]) ** 0.5
                cos = dot / max(na * nb, 1e-12)
                r = float(Decimal(repr(cos)).quantize(q4, rounding=ROUND_HALF_UP))
                if r >= threshold:
                    union(ids[p], ids[q])
    rows = []
    for pos, vid in enumerate(ids):
        rep = find(vid)
        rows.append((vid, int(assigned[pos]), rep == vid, rep))
    return pd.DataFrame(rows, columns=["vec_id", "cluster", "keep", "rep_id"])

"""Streaming SEMANTIC (embedding-cosine) near-duplicate ingestion dedup —
the embedding analogue of :mod:`rtfproc_spark.streaming.dedup` (SURVEY.md §2
C21's streaming posture): an ingest stream of embedded documents is filtered
against an accumulating per-cluster index of every vector kept so far, so a
vector whose cosine similarity to ANY earlier kept vector reaches the
threshold never enters the training set. The batch ``semantic_dedup``
(SemDeDup, arXiv:2303.09540) answers "dedup this corpus"; this answers
"keep the corpus deduped as it grows".

Semantics (deterministic, replayable, SEQUENTIAL — the same contract as the
MinHash streaming path):

- two vectors MATCH iff they land in the same IVF coarse-quantizer cluster
  (``assign_clusters`` against the broadcast ``centroids`` artifact — the
  same argmin rule the batch path and the driver-side oracle share) and
  ``round(cosine, 4) >= threshold`` (the round makes the edge set
  reproducible driver-side, exactly like the batch edge rule);
- the kept set equals processing the vectors ONE AT A TIME in arrival order
  (batch order, then ``id_col`` order within a batch): a vector is KEPT iff
  it matches no previously KEPT vector. Dropped vectors do NOT shadow later
  ones, so the kept set is invariant to micro-batch chopping (pinned by the
  replay tests). Within a micro-batch the sequential rule runs as the same
  iterative greedy elimination over the matched-pair edge set the text path
  uses (one shared ``_sequential_survivors``, so the two streaming dedups
  cannot drift);
- survivors are appended to the output and their ``(cluster, id, vec)``
  rows to the index.

Degenerate clusters (the 100 TB guard): comparing only within a cluster is
what keeps the work sum(m_c^2) instead of n^2 — but ONLY while clusters
stay bounded. A cluster whose combined index + batch population exceeds
``max_cluster`` is excluded from BOTH candidate joins for the batch and
from the index append (so no index cluster ever exceeds ``max_cluster``
rows — the same "bounded forever" rule as the text path's bucket cap, and
the same cap the batch ``semantic_dedup`` applies). Degrade semantics:
vectors assigned to a saturated cluster are admitted without semantic dedup
against that cluster's population — a documented trade, not a silent one;
at a real deployment ``nlist`` grows with the corpus so saturation means
the quantizer needs re-fitting. Decisions for degenerate-cluster vectors
are the one place the kept set may depend on micro-batch boundaries;
everything below the cap is chopping-invariant.

Null-embedding rows bypass the whole pipeline (kept, never indexed) — a
missing vector carries no dedup signal (same bypass as the batch path and
the text stream's null-text rule).

Exactly-once: output and index publish per micro-batch into ``batch_id=N``
subdirectories via write-then-atomic-rename; the index read EXCLUDES the
current batch id, so a replayed batch cannot see its own half-published
rows and self-match. Index maintenance (directory-listing compaction with
the crash-recovery sweep) is shared with the text path via
:func:`rtfproc_spark.streaming.dedup.compact_index`.

Scale shape: cluster assignment is an Arrow-batched matmul against a
broadcast centroid matrix (scan-local, zero shuffle); the index join moves
``(cluster, id, vec)`` rows and joins on the cluster id — per-cluster index
population is bounded by ``max_cluster``, so per-batch candidate work is
O(batch x max_cluster) worst-case, never quadratic in the corpus.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rtfproc_spark.streaming.dedup import (
    _read_index,
    _sequential_survivors,
    compact_index,
)
from rtfproc_spark.streaming.sink import _publish

# the norm is STORED with the vector (computed once at keep time via the
# same `_norm` fold the comparisons use) so the vs-index candidate filter
# never re-folds the index side per candidate pair — at 100 TB index sizes
# that extra O(d) fold per comparison was pure waste (round-9; results
# identical, the stored double IS the fold's output)
SEM_INDEX_SCHEMA = "cluster int, id long, vec array<double>, norm double"


def _norm(col) -> F.Column:
    # the same sequential left fold the batch semantic_dedup uses — an
    # interpreted per-element fold, reproducible driver-side with a loop
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, v: acc + v * v))


def _cos(va, na, vb, nb) -> F.Column:
    dot = F.aggregate(
        F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    return dot / F.greatest(na * nb, F.lit(1e-12))


def semantic_dedup_batch_step(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    centroids: np.ndarray,
    index_dir: str,
    out_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.35,
    max_cluster: int = 50_000,
) -> None:
    """One micro-batch of the streaming semantic dedup (the foreachBatch
    body; callable directly for a file-by-file batch replay — the equality
    pin, same pattern as ``near_dedup_batch_step``)."""
    from rtfproc_spark.functions.similarity import ivf_assign

    hasvec = F.col(vec_col).isNotNull()
    # (id, cluster, vec, norm), materialized ONCE: the assignment UDF and
    # the norm fold feed the size agg, the index join, both self-join
    # sides, and the index append — leaving them as lineage would re-run
    # the matmul UDF per consumer (the text path measured 9x on the same
    # mistake with its hash expressions)
    par = spark.sparkContext.defaultParallelism
    vecs = batch_df.filter(hasvec).repartition(par).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    assigned = (
        ivf_assign(vecs, centroids, vec_col="vec", id_col="id")
        .join(vecs, "id")
        .withColumn("n", _norm(F.col("vec")))
        .persist()
    )
    index = _read_index(spark, index_dir, batch_id, schema=SEM_INDEX_SCHEMA)
    # degenerate-cluster guard: combined index+batch population above the
    # cap -> cluster out of candidate generation AND out of the index
    # append. One row per overfull cluster — broadcast anti-joins.
    cluster_pop = (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("_nb"))
        .join(
            index.groupBy("cluster").agg(F.count(F.lit(1)).alias("_ni")),
            "cluster",
            "full_outer",
        )
        .select(
            "cluster",
            (F.coalesce("_nb", F.lit(0)) + F.coalesce("_ni", F.lit(0))).alias("_n"),
        )
    )
    degenerate = cluster_pop.filter(F.col("_n") > max_cluster).select("cluster")
    ok = assigned.join(F.broadcast(degenerate), "cluster", "left_anti")
    # vs the index of previously kept vectors: drop on cluster share +
    # cosine threshold (round(.,4) — the reproducible edge rule)
    vs_index = (
        ok.join(
            index.select(
                "cluster",
                F.col("vec").alias("_ivec"),
                F.col("norm").alias("_inorm"),
            ),
            "cluster",
        )
        .filter(
            F.round(_cos(F.col("vec"), F.col("n"), F.col("_ivec"), F.col("_inorm")), 4)
            >= F.lit(threshold)
        )
        .select("id")
        .distinct()
    )
    stage1 = assigned.join(vs_index, "id", "left_anti").persist()
    # within the batch: the sequential rule over the matched-pair graph —
    # id-only pairs first, vectors re-attached per side (the batch
    # semantic_dedup's join shape: only (cluster, id) rows move through
    # the self-join)
    s1 = stage1.join(F.broadcast(degenerate), "cluster", "left_anti").select(
        "cluster", "id"
    )
    pairs = (
        s1.alias("a")
        .join(
            s1.alias("b"),
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("lo"), F.col("b.id").alias("hi"))
    )
    side = stage1.select("id", "vec", "n")
    edges = (
        pairs.join(
            side.select(
                F.col("id").alias("lo"), F.col("vec").alias("v_a"), F.col("n").alias("n_a")
            ),
            "lo",
        )
        .join(
            side.select(
                F.col("id").alias("hi"), F.col("vec").alias("v_b"), F.col("n").alias("n_b")
            ),
            "hi",
        )
        .filter(
            F.round(_cos(F.col("v_a"), F.col("n_a"), F.col("v_b"), F.col("n_b")), 4)
            >= F.lit(threshold)
        )
        .select("lo", "hi")
        .distinct()
    )
    survivors = _sequential_survivors(stage1, edges).persist()
    try:
        out_rows = batch_df.filter(~hasvec).unionByName(
            batch_df.join(survivors.select(F.col("id").alias(id_col)), id_col)
        )
        idx_rows = (
            survivors.join(F.broadcast(degenerate), "cluster", "left_anti")
            .select("cluster", "id", "vec", F.col("n").alias("norm"))
        )
        _publish(out_rows, out_dir, batch_id)
        _publish(idx_rows, index_dir, batch_id)
    finally:
        survivors.unpersist()
        stage1.unpersist()
        assigned.unpersist()


def stream_semantic_dedup(
    spark: SparkSession,
    stream_vecs: DataFrame,
    centroids: np.ndarray,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    compact_every_n_batches: int | None = None,
    **kwargs,
):
    """Wire the per-batch step into a streaming query (availableNow or
    continuous — foreachBatch either way). Returns the started query.
    ``compact_every_n_batches`` enables the shared index-compaction
    maintenance (see :func:`rtfproc_spark.streaming.dedup.compact_index`)
    with this path's index schema."""

    def fb(batch_df, batch_id):
        bid = int(batch_id)
        if (
            compact_every_n_batches is not None
            and bid > 0
            and bid % compact_every_n_batches == 0
        ):
            compact_index(spark, index_dir, bid, schema=SEM_INDEX_SCHEMA)
        semantic_dedup_batch_step(
            spark, batch_df, bid, centroids, index_dir, out_dir, **kwargs
        )

    return (
        stream_vecs.writeStream.foreachBatch(fb)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def semantic_dedup_sequential_local(
    batches: list,
    centroids: np.ndarray,
    threshold: float = 0.35,
    max_cluster: int = 50_000,
):
    """Driver-side pure-Python/numpy re-derivation of the FULL documented
    rule (sequential shadowing + degenerate-cluster cap + null bypass) for
    staged-expected differentials — a doc-at-a-time loop, no Spark, no
    joins, so equality against the distributed implementation is a true
    independent diff.

    Parity recipes (see BENCH/BASELINE.md gotchas): cluster assignment is
    the SHARED ``assign_clusters`` fold (bit-identical by construction);
    cosine is a SEQUENTIAL left fold (plain Python loop — np.dot's BLAS
    order differs in the last ulp); ``round(x, 4)`` is
    ``Decimal(repr(x)).quantize(..., ROUND_HALF_UP)``.

    ``batches`` is a list of micro-batches, each a list of ``(id, vec)``
    pairs (``vec`` a list of floats or ``None``). Returns
    ``[(id, batch_idx)]`` for every kept row, in order.
    """
    from decimal import ROUND_HALF_UP, Decimal

    from rtfproc_spark.functions.similarity import assign_clusters

    q = Decimal("0.0001")

    def _r4(x: float) -> float:
        return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))

    def _fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def _fold_norm(a):
        acc = 0.0
        for x in a:
            acc = acc + x * x
        return acc ** 0.5

    def _match(va, na, vb, nb):
        sim = _fold_dot(va, vb) / max(na * nb, 1e-12)
        return _r4(sim) >= threshold

    index: dict = {}  # cluster -> list of (vec, norm)
    kept = []
    for bi, batch in enumerate(batches):
        kept.extend((i, bi) for i, v in sorted(batch, key=lambda r: r[0]) if v is None)
        metas = []
        for i, v in sorted(
            ((i, v) for i, v in batch if v is not None), key=lambda r: r[0]
        ):
            vd = [float(x) for x in v]
            c = int(assign_clusters(np.asarray([vd]), np.asarray(centroids))[0])
            metas.append((i, c, vd, _fold_norm(vd)))
        # degenerate clusters for THIS batch: index + batch population > cap
        pop: dict = {}
        for _, c, _, _ in metas:
            pop[c] = pop.get(c, 0) + 1
        degenerate = {
            c
            for c in set(pop) | set(index)
            if pop.get(c, 0) + len(index.get(c, ())) > max_cluster
        }
        batch_kept = []
        for i, c, vd, n in metas:
            hit = False
            if c not in degenerate:
                hit = any(
                    _match(vd, n, v2, n2) for v2, n2 in index.get(c, ())
                ) or any(
                    c2 == c and _match(vd, n, v2, n2)
                    for _, c2, v2, n2 in batch_kept
                )
            if not hit:
                batch_kept.append((i, c, vd, n))
                kept.append((i, bi))
        for _, c, vd, n in batch_kept:
            if c not in degenerate:
                index.setdefault(c, []).append((vd, n))
    return kept

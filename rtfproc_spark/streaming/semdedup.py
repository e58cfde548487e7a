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
  replay tests). Both streaming dedups run ONE micro-batch step,
  :func:`rtfproc_spark.streaming.dedup._keep_against_index` (group guard,
  vs-index join, in-batch pairs, the iterative greedy elimination, the
  publishes), and one stream wiring, so they cannot drift: this module
  supplies only the per-vector frame (``ivf_assign`` cluster, ``_norm``)
  and the pair rule;
- survivors are appended to the output and their ``(cluster, id, vec,
  norm)`` rows to the index.

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
the crash-recovery sweep, :func:`rtfproc_spark.streaming.dedup.
compact_index`) runs from the shared stream wiring.

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
    _keep_against_index,
    _stream_keep_against_index,
)

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

    def docs_of(rows: DataFrame) -> DataFrame:
        # (id, [cluster], vec, norm): one group per vector, its cluster
        vecs = rows.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        return ivf_assign(vecs, centroids, vec_col="vec", id_col="id").join(
            vecs, "id"
        ).select(
            "id",
            F.array("cluster").alias("groups"),
            "vec",
            _norm(F.col("vec")).alias("norm"),
        )

    _keep_against_index(
        spark, batch_df, batch_id, index_dir, out_dir, id_col,
        present=F.col(vec_col).isNotNull(),
        docs_of=docs_of,
        schema=SEM_INDEX_SCHEMA,
        group="cluster",
        cap=max_cluster,
        # round(., 4): the reproducible edge rule the batch path shares
        match=lambda a, b: F.round(
            _cos(a("vec"), a("norm"), b("vec"), b("norm")), 4
        ) >= F.lit(threshold),
    )


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
    """Wire the per-batch step into a streaming query — the wiring
    :func:`rtfproc_spark.streaming.dedup.stream_near_dedup` runs:
    foreachBatch, ``availableNow`` (drain the available input and stop;
    batch ids, and with them the compaction cadence, continue across
    restarts from the same checkpoint). Returns the started query.
    ``compact_every_n_batches`` (None or an int >= 1) enables the shared
    index-compaction maintenance (see
    :func:`rtfproc_spark.streaming.dedup.compact_index`) with this path's
    index schema."""
    return _stream_keep_against_index(
        spark, stream_vecs, index_dir, checkpoint_dir,
        compact_every_n_batches, SEM_INDEX_SCHEMA,
        lambda df, bid: semantic_dedup_batch_step(
            spark, df, bid, centroids, index_dir, out_dir, **kwargs
        ),
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

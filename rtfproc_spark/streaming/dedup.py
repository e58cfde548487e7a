"""Streaming NEAR-duplicate ingestion dedup (SURVEY.md §2 C-set, the
streaming path of the MinHash/LSH family): an ingest stream of documents is
filtered against an accumulating index of everything kept so far, so a
document near-duplicating ANY earlier kept document never reaches the
training set. The batch keeplist (`functions.dedup`) answers "dedup this
corpus"; this answers "keep the corpus deduped as it grows" — the shape a
continuous 100 TB ingest pipeline runs.

Semantics (deterministic, replayable, SEQUENTIAL):

- two documents MATCH iff they share an LSH band bucket and their minhash
  signatures agree on at least ``min_sig_agree`` of ``num_hashes``
  components (the standard MinHash Jaccard estimate — the index stores
  signatures, never text);
- the kept set equals processing the documents ONE AT A TIME in arrival
  order (batch order, then ``id_col`` order within a batch): a document is
  KEPT iff it matches no previously KEPT document. Dropped documents do
  NOT shadow later ones — so the result is invariant to how the stream is
  chopped into micro-batches (any order-preserving chopping of the same
  document sequence yields the same kept set; pinned by the file-by-file
  replay test AND a rechopped run). Within a micro-batch the sequential
  rule is computed distributively by iterative greedy elimination over the
  (small) matched-pair edge set — see ``_sequential_survivors``.
- survivors are appended to the output and their (bucket, id, signature)
  rows to the index.

One step, two paths: the sequence below the signature math — group guard,
vs-index join, in-batch pairs, sequential survivors, publishes — is
``_keep_against_index``, which the semantic path
(:mod:`rtfproc_spark.streaming.semdedup`, IVF clusters as the groups)
runs too; both ``stream_*`` functions share one foreachBatch wiring.

Degenerate buckets (the 100 TB guard): a band bucket holding more than
``max_bucket`` members (index rows + this batch's docs combined) is
boilerplate territory — candidate generation against it would go
quadratic in-batch and O(k * index-bucket) against an index bucket that
GROWS for the life of the job. Such buckets are excluded from BOTH
candidate joins for the batch, and survivors' rows for them are NOT
appended to the index (so no index bucket ever exceeds ``max_bucket``
rows). This mirrors ``functions.dedup.minhash_candidates``'s documented
cap. NOT a silent cap — the degrade semantics are: documents whose every
shared bucket is degenerate are admitted without near-dedup against that
bucket's population; run the exact streaming dedup
(``dropDuplicatesWithinWatermark`` on a text digest — the
``stream_dedup_events`` pattern) upstream to catch the identical-text
portion of boilerplate floods. Because saturation depends on when a
bucket crosses the cap, decisions for degenerate-bucket documents are the
one place the kept set may depend on micro-batch boundaries (documented
trade; everything below the cap is chopping-invariant).

Exactly-once: both the output and the index publish per micro-batch into
``batch_id=N`` subdirectories via write-then-atomic-rename (the
IdempotentSink's ``_publish``) — a replayed batch overwrites its own directory,
and the index read EXCLUDES the current batch id, so a replay cannot see
its own half-published rows and self-match.

Scale shape: signatures are computed shingle-local (zero shuffle); the
index join moves only (bucket, id, 16-long signature) rows; per-batch
state on disk grows with KEPT docs x bands — compact rows, prunable by
partition on bucket ranges at a real deployment's scale; per-bucket index
population is bounded by ``max_bucket``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rtfproc_spark.functions.dedup import (
    minhash_bands,
    minhash_signature,
    word_ngrams,
)
from rtfproc_spark.streaming.sink import _publish

INDEX_SCHEMA = "bucket long, id long, sig array<bigint>"

# Iterative-elimination round cap for the in-batch sequential rule: each
# round resolves one keep/drop layer of the longest blocking chain, so 64
# rounds means a chain of >64 pairwise-near-duplicate docs alternating
# keep/drop INSIDE one micro-batch — degenerate input the bucket cap is
# designed to keep out. Loud failure beats a silently-wrong kept set.
_MAX_ELIM_ROUNDS = 64


def _sig_frame(
    batch_df: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """(id, sig, groups[]) for each doc, ``groups`` its band buckets —
    all JVM-side expressions."""
    # word_ngrams normalizes internally (lower + trim + \s+ split)
    shingles = F.array_distinct(word_ngrams(F.col(text_col), ngram))
    sig = minhash_signature(shingles, num_hashes)
    # array_distinct: a signature hashing two bands to the same bucket
    # value must count once in bucket populations and index rows (bucket
    # membership is a set)
    return batch_df.select(
        F.col(id_col).alias("id"),
        sig.alias("sig"),
    ).withColumn(
        "groups",
        F.array_distinct(
            minhash_bands(F.col("sig"), bands, num_hashes // bands)
        ),
    )


def _sig_agree(a, b):
    """Number of equal minhash components between two signatures."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def _recover_compaction(index_dir: str) -> None:
    """Heal a crashed :func:`compact_index` run so no committed index row
    is ever lost. The only dangerous crash window is between the two
    publish renames (``batch_id=K`` moved aside, merged dir not yet in
    place): there ``batch_id=K``'s rows live only in ``_old_compact_K``
    and ``_tmp_compact``. Recovery rule: if ``batch_id=K`` is MISSING,
    restore ``_old_compact_K`` back to it (the merge is simply redone
    later); if it is present the aside copy is stale (its rows are in the
    published merge) and is deleted. ``_tmp_compact`` is always deletable:
    it is a pre-publish artifact whose rows still exist in the source
    dirs (or, post-publish, in the renamed final dir). Idempotent and
    cheap (one listdir) — called from every index read AND every
    compaction, so a crash is healed before any dedup decision reads the
    index.
    """
    if not os.path.isdir(index_dir):
        return
    for d in os.listdir(index_dir):
        path = os.path.join(index_dir, d)
        if d.startswith("_old_compact_"):
            final = os.path.join(index_dir, f"batch_id={d[len('_old_compact_'):]}")
            if os.path.isdir(final):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.replace(path, final)
        elif d.startswith("_tmp_compact"):
            shutil.rmtree(path, ignore_errors=True)


def _read_index(
    spark: SparkSession,
    index_dir: str,
    before_batch: int,
    schema: str,
) -> DataFrame:
    _recover_compaction(index_dir)
    dirs = [
        os.path.join(index_dir, d)
        for d in (os.listdir(index_dir) if os.path.isdir(index_dir) else [])
        if d.startswith("batch_id=") and int(d.split("=")[1]) < before_batch
    ]
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*dirs)


def _sequential_survivors(stage1: DataFrame, edges: DataFrame) -> DataFrame:
    """Greedy-by-id independent set over the matched-pair graph — the
    distributed form of "keep doc d iff it matches no EARLIER KEPT doc".

    ``edges`` is the (lo, hi) matched-pair set (lo < hi) among the
    index-surviving docs. Round invariant: a doc whose every smaller
    matched neighbor is already decided-dropped is kept; a doc matched to
    a kept smaller doc is dropped. Each round peels one layer: "roots"
    (edge participants that are nobody's ``hi``) are provably kept, their
    ``hi`` neighbors provably dropped, and every edge touching a dropped
    doc is removed — so the edge set strictly shrinks (the minimum
    participant is always a root) and rounds are bounded by half the
    longest keep/drop chain. The frames in play are the NEAR-DUP PAIRS of
    one micro-batch (already bucket-capped), not the batch itself; each
    round is two hash joins on that small set, lineage truncated via
    localCheckpoint like the batch keeplist's connected-components loop.

    Returns the surviving subset of ``stage1``.
    """
    # checkpoint FIRST: the emptiness probe and round 1 then share one
    # materialization of the (expensive) candidate join instead of
    # computing it twice
    e = edges.localCheckpoint(eager=True)
    if not e.head(1):
        return stage1
    dropped = None
    for _ in range(_MAX_ELIM_ROUNDS):
        blocked = e.select(F.col("hi").alias("id")).distinct()
        roots = (
            e.select(F.col("lo").alias("id"))
            .distinct()
            .join(blocked, "id", "left_anti")
        )
        round_drop = (
            e.join(roots.withColumnRenamed("id", "lo"), "lo")
            .select(F.col("hi").alias("id"))
            .distinct()
        )
        dropped = (
            round_drop if dropped is None else dropped.unionByName(round_drop)
        ).localCheckpoint(eager=True)
        e = (
            e.join(dropped.withColumnRenamed("id", "lo"), "lo", "left_anti")
            .join(dropped.withColumnRenamed("id", "hi"), "hi", "left_anti")
            .localCheckpoint(eager=True)
        )
        if not e.head(1):
            return stage1.join(dropped, "id", "left_anti")
    raise RuntimeError(
        f"near-dedup in-batch elimination did not converge in "
        f"{_MAX_ELIM_ROUNDS} rounds — the micro-batch contains a pairwise "
        "near-duplicate chain longer than the cap, which the degenerate-"
        "bucket guard should have prevented; inspect the batch (likely "
        "boilerplate flood) or lower max_bucket"
    )


def _keep_against_index(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    out_dir: str,
    id_col: str,
    present: F.Column,
    docs_of,
    schema: str,
    group: str,
    cap: int,
    match,
) -> None:
    """One micro-batch of a keep-against-index near-dedup — the one step
    both streaming dedups run (text: LSH band buckets; semantic: IVF
    clusters). Rows failing ``present`` bypass it: kept, never indexed.
    ``docs_of`` maps the present rows to one row per document: ``id``, a
    ``groups`` array (the candidate groups the document joins) and the
    payload columns the index stores under ``schema`` besides ``group``
    and ``id``. ``match(a, b)`` builds the pair rule from two column
    accessors (``a("sig")`` is the first document's ``sig``).

    Sequence: degenerate-group guard over batch + index population, drop
    documents matching the index, the in-batch sequential rule over the
    matched pairs (``_sequential_survivors``), then publish the output and
    the survivors' index rows for their non-degenerate groups."""
    par = spark.sparkContext.defaultParallelism
    held: list[DataFrame] = []

    def hold(df: DataFrame) -> DataFrame:
        held.append(df.persist())
        return held[-1]

    def a(c: str) -> F.Column:
        return F.col(f"a.{c}")

    def b(c: str) -> F.Column:
        return F.col(f"b.{c}")

    try:
        # materialize the per-document frame ONCE per batch: it feeds the
        # guard, the index join, both pair sides and the index append —
        # as lineage each consumer would re-run the signature hashes or
        # the assignment UDF (measured 9x slower on the sf0.1 smoke)
        docs = hold(docs_of(batch_df.filter(present).repartition(par)))
        index = _read_index(spark, index_dir, batch_id, schema)
        payload = [c for c in index.columns if c not in (group, "id")]
        members = docs.select("id", *payload, F.explode("groups").alias(group))
        # degenerate-group guard (see module docstring): combined
        # index+batch population above the cap -> the group is out of
        # candidate generation for this batch and out of the index
        # append. One row per OVERFULL group — broadcast anti-joins.
        pop = (
            members.groupBy(group)
            .agg(F.count(F.lit(1)).alias("_nb"))
            .join(
                index.groupBy(group).agg(F.count(F.lit(1)).alias("_ni")),
                group,
                "full_outer",
            )
            .select(
                group,
                (F.coalesce("_nb", F.lit(0)) + F.coalesce("_ni", F.lit(0))).alias("_n"),
            )
        )
        degenerate = F.broadcast(pop.filter(F.col("_n") > cap).select(group))
        # vs the index of previously kept documents
        hits = (
            members.join(degenerate, group, "left_anti")
            .alias("a")
            .join(index.alias("b"), a(group) == b(group))
            .filter(match(a, b))
            .select(a("id"))
            .distinct()
        )
        stage1 = hold(docs.join(hits, "id", "left_anti"))
        # within the batch: id-only pairs per shared group, each pair once,
        # payloads re-attached per side — the rule runs once per pair, not
        # once per shared group, and payloads never enter the self-join
        s1 = stage1.select("id", F.explode("groups").alias(group)).join(
            degenerate, group, "left_anti"
        )
        pairs = (
            s1.alias("a")
            .join(s1.alias("b"), (a(group) == b(group)) & (a("id") < b("id")))
            .select(a("id").alias("lo"), b("id").alias("hi"))
            .distinct()
        )
        edges = (
            pairs.join(stage1.alias("a"), F.col("lo") == a("id"))
            .join(stage1.alias("b"), F.col("hi") == b("id"))
            .filter(match(a, b))
            .select("lo", "hi")
        )
        survivors = hold(_sequential_survivors(stage1, edges))
        out_rows = batch_df.filter(~present).unionByName(
            batch_df.join(survivors.select(F.col("id").alias(id_col)), id_col)
        )
        idx_rows = (
            survivors.select(F.explode("groups").alias(group), "id", *payload)
            .join(degenerate, group, "left_anti")
            .select(*index.columns)
        )
        _publish(out_rows, out_dir, batch_id)
        _publish(idx_rows, index_dir, batch_id)
    finally:
        for df in held:
            df.unpersist()


def near_dedup_batch_step(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    min_sig_agree: int = 12,
    max_bucket: int = 200,
) -> None:
    """One micro-batch of the streaming near-dedup (the foreachBatch body;
    callable directly for a file-by-file batch replay — the equality pin)."""
    # null/empty-text docs carry no shingle signal: they bypass near-dedup
    # (kept unconditionally, never indexed) — exact streaming dedup is the
    # right tool for them. The pure-Python re-derivation applies the same
    # rule.
    _keep_against_index(
        spark, batch_df, batch_id, index_dir, out_dir, id_col,
        present=F.col(text_col).isNotNull() & (F.length(text_col) > 0),
        docs_of=lambda rows: _sig_frame(
            rows, text_col, id_col, ngram, num_hashes, bands
        ),
        schema=INDEX_SCHEMA,
        group="bucket",
        cap=max_bucket,
        match=lambda a, b: _sig_agree(a("sig"), b("sig")) >= min_sig_agree,
    )


def _stream_keep_against_index(
    spark: SparkSession,
    stream_df: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    compact_every_n_batches: int | None,
    schema: str,
    step,
):
    """The foreachBatch wiring both streaming dedups share: ``step(batch_df,
    batch_id)`` per micro-batch, preceded every ``compact_every_n_batches``
    batches by :func:`compact_index` under ``schema``. Returns the started
    query."""
    n = compact_every_n_batches
    if n is not None and (isinstance(n, bool) or not isinstance(n, int) or n < 1):
        raise ValueError(
            f"compact_every_n_batches must be None or an int >= 1, got {n!r}"
        )

    def fb(batch_df, batch_id):
        bid = int(batch_id)
        if n is not None and bid > 0 and bid % n == 0:
            compact_index(spark, index_dir, bid, schema=schema)
        step(batch_df, bid)

    return (
        stream_df.writeStream.foreachBatch(fb)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_near_dedup(
    spark: SparkSession,
    stream_docs: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    compact_every_n_batches: int | None = None,
    **kwargs,
):
    """Wire the per-batch step into a streaming query (foreachBatch,
    ``availableNow``: the query drains the input available at start and
    stops; a restart from the same checkpoint resumes where it stopped,
    and batch ids continue across restarts). Returns the started query.

    ``compact_every_n_batches`` (None or an int >= 1) turns on automatic
    index maintenance: every N-th micro-batch first folds all older
    ``batch_id=k`` index directories into one (see :func:`compact_index`),
    keeping the per-batch directory listing O(N) for the life of the job.
    The cadence follows the batch ids, so it continues across restarts.
    Safe inside foreachBatch: when batch ``B`` runs, every batch below
    ``B`` is committed (only ``B`` itself can replay, and its index read
    excludes ids >= its own either way — merged directory included); a
    replayed batch re-runs the compaction as a no-op (<= 1 source dir).
    """
    return _stream_keep_against_index(
        spark, stream_docs, index_dir, checkpoint_dir,
        compact_every_n_batches, INDEX_SCHEMA,
        lambda df, bid: near_dedup_batch_step(
            spark, df, bid, index_dir, out_dir, **kwargs
        ),
    )


def near_dedup_sequential_local(
    batches: list,
    ngram: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    min_sig_agree: int = 12,
    max_bucket: int = 200,
):
    """Driver-side pure-Python re-derivation of the FULL documented rule
    (sequential shadowing + degenerate-bucket cap), for staged-expected
    differentials — the same role :func:`rtfproc_spark.functions.dedup.
    minhash_pairs_local` plays for the batch LSH path. Signatures come
    from the literal-pinned pure-Python XXH64 twin; no Spark, no JVM, no
    joins — a doc-at-a-time loop — so driver-check equality against the
    distributed implementation is a true independent diff.

    ``batches`` is a list of micro-batches, each a list of ``(id, text)``
    pairs. Returns ``[(id, batch_idx)]`` for every kept doc, in order.
    """
    import re

    from rtfproc_spark.functions.xxh64 import spark_xxhash64

    rows = num_hashes // bands

    def _sig(text):
        # exact word_ngrams parity: Spark trim strips ASCII space only;
        # Java \s is [ \t\n\x0B\f\r]; split keeps leading empties
        words = re.split(r"[ \t\n\x0B\f\r]+", text.lower().strip(" "))
        if len(words) - (ngram - 1) <= 0:
            sh = [" ".join(words)]
        else:
            sh = [
                " ".join(words[i : i + ngram])
                for i in range(len(words) - ngram + 1)
            ]
        sh = list(dict.fromkeys(sh))
        return [
            min(spark_xxhash64(seed, s) for s in sh)
            for seed in range(num_hashes)
        ]

    def _buckets(sig):
        return [
            spark_xxhash64(*[("long", v) for v in sig[b * rows : (b + 1) * rows]])
            for b in range(bands)
        ]

    index: dict = {}  # bucket -> list of sigs
    kept = []
    for bi, batch in enumerate(batches):
        # null/empty-text docs bypass near-dedup: kept, never indexed
        kept.extend(
            (i, bi)
            for i, t in sorted(batch)
            if t is None or len(t) == 0
        )
        metas = sorted(
            (i, _sig(t)) for i, t in batch if t is not None and len(t) > 0
        )
        metas = [(i, s, _buckets(s)) for i, s in metas]
        # degenerate buckets for THIS batch: index + batch population > cap
        pop: dict = {}
        for _, _, bks in metas:
            for bk in set(bks):
                pop[bk] = pop.get(bk, 0) + 1
        degenerate = {
            bk
            for bk in set(pop) | set(index)
            if pop.get(bk, 0) + len(index.get(bk, ())) > max_bucket
        }
        batch_kept = []
        for i, s, bks in metas:
            ok_bks = [bk for bk in set(bks) if bk not in degenerate]
            hit = any(
                sum(x == y for x, y in zip(s, s2)) >= min_sig_agree
                for bk in ok_bks
                for s2 in index.get(bk, ())
            ) or any(
                bk in set(b2) - degenerate
                and sum(x == y for x, y in zip(s, s2)) >= min_sig_agree
                for _, s2, b2 in batch_kept
                for bk in ok_bks
            )
            if not hit:
                batch_kept.append((i, s, bks))
                kept.append((i, bi))
        for i, s, bks in batch_kept:
            for bk in set(bks):
                if bk not in degenerate:
                    index.setdefault(bk, []).append(s)
    return kept


def read_kept(spark: SparkSession, out_dir: str) -> DataFrame:
    """All kept documents across batches."""
    return spark.read.option("basePath", out_dir).parquet(
        os.path.join(out_dir, "batch_id=*")
    )


def compact_index(
    spark: SparkSession,
    index_dir: str,
    upto_batch: int,
    schema: str = INDEX_SCHEMA,
) -> int:
    """Maintenance for a long-running job: merge every ``batch_id=k`` dir
    with ``k < upto_batch`` into one directory (attributed to
    ``batch_id=upto_batch - 1``), so the index listing stays O(recent
    batches) instead of O(all batches ever). Safe whenever ``upto_batch``
    does not exceed the last COMMITTED micro-batch (only the last
    uncommitted batch can replay, and its index read excludes every id
    below itself either way — the merged dir included). Returns the
    number of directories merged.

    Crash-safe ordering: the merged directory is PUBLISHED (atomic rename
    into the final ``batch_id=upto_batch - 1`` name, with the colliding
    source dir moved aside first) BEFORE any source directory is deleted —
    a crash at any point leaves every index row recoverable. The one
    crash window where rows exist ONLY in debris dirs (between the
    aside-rename and the publish rename, when ``batch_id=upto-1`` is
    momentarily absent) is healed by :func:`_recover_compaction`, which
    restores the aside copy whenever its final dir is missing — and runs
    before every index read and every compaction, so no dedup decision
    ever sees the gap. Rows duplicated between the merged dir and
    not-yet-deleted sources are harmless (duplicate index rows produce
    identical drop decisions).
    """
    # heal debris from a previously crashed compaction FIRST — this may
    # RESTORE batch_id=upto-1 from its aside copy (never blind-delete:
    # the aside dir can be the only copy of the last committed batch).
    # Safe because a concurrent compaction is out of contract (one
    # maintenance call at a time, like the foreachBatch hook).
    _recover_compaction(index_dir)
    entries = os.listdir(index_dir) if os.path.isdir(index_dir) else []
    dirs = sorted(
        d
        for d in entries
        if d.startswith("batch_id=") and int(d.split("=")[1]) < upto_batch
    )
    if len(dirs) <= 1:
        return 0
    merged = spark.read.schema(schema).parquet(
        *[os.path.join(index_dir, d) for d in dirs]
    )
    tmp = os.path.join(index_dir, "_tmp_compact")
    merged.write.mode("overwrite").parquet(tmp)
    final = os.path.join(index_dir, f"batch_id={upto_batch - 1}")
    aside = os.path.join(index_dir, f"_old_compact_{upto_batch - 1}")
    shutil.rmtree(aside, ignore_errors=True)
    if os.path.isdir(final):
        os.replace(final, aside)
    os.replace(tmp, final)  # publish point — merged rows now readable
    shutil.rmtree(aside, ignore_errors=True)
    for d in dirs:
        if d != f"batch_id={upto_batch - 1}":
            shutil.rmtree(os.path.join(index_dir, d), ignore_errors=True)
    return len(dirs)

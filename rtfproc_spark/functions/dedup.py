"""Deduplication operators for training-data pipelines.

Scale design:
- exact:    hash-groupBy — one shuffle on a 128-bit digest, never on text.
- minhash:  shingle -> K minhashes -> B bands; candidate generation is a
            self-join on (band_idx, band_hash) buckets — the classic LSH
            band trick keeps the join linear-ish instead of O(n^2).
            Everything up to the bucket join is native Spark SQL exprs.
- simhash:  64-bit bit-majority signature via a vectorized numpy pandas_udf
            (Arrow-batched); near-dups = identical prefix bucket + hamming
            verify.
- ngram jaccard: native array_intersect/array_union verification.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType


def text_digest(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c.cast("binary"))


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: keeper id + duplicate count."""
    return (
        df.groupBy(text_digest(text_col).alias("digest"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


def word_ngrams(col, n: int = 3) -> Column:
    """Array of word n-gram shingles, built natively (no UDF)."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(F.lower(F.trim(c)), r"\s+")
    k = F.greatest(F.size(words) - (n - 1), F.lit(0))
    return F.when(k <= 0, F.array(F.concat_ws(" ", words))).otherwise(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )
    )


def _seeded_min_hash(shingles, seed: int) -> Column:
    # NB: the seed must be captured via an enclosing scope, NOT a lambda
    # default — F.transform treats a 2-arg lambda as (element, array_index)
    # and would silently overwrite the seed with the element's position.
    return F.array_min(F.transform(shingles, lambda s: F.xxhash64(F.lit(seed), s)))


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """Array of ``num_hashes`` minhash values over the shingle array —
    min(xxhash64(seed_i, shingle)) per seed, all JVM-side."""
    return F.array(*[_seeded_min_hash(shingles, i) for i in range(num_hashes)])


def minhash_bands(sig: Column, bands: int, rows: int) -> Column:
    """Array of band-bucket hashes: band_i = hash(sig[i*r : (i+1)*r])."""
    return F.array(
        *[
            F.xxhash64(*[sig.getItem(b * rows + r) for r in range(rows)])
            for b in range(bands)
        ]
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = 200,
    persist: bool = True,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) sharing at least one band bucket,
    with exact n-gram Jaccard verification attached.

    Shuffle discipline for scale: the band self-join moves ONLY (id, hash)
    pairs — shingle arrays never enter the join. Buckets larger than
    ``max_bucket`` are degenerate (e.g. empty/near-empty docs all hash
    together) and would go quadratic; they are dropped from candidate
    generation — NOT a silent cap: exact-dup groups are the right tool for
    those and are caught by exact_dedup_groups.

    ``persist=True`` caches the shingle table (it feeds the signature stage
    AND both verification joins); long-lived sessions release it with
    ``buckets.release_persisted()`` after materializing the result;
    ``persist=False`` trades one extra shingle pass for zero cached state.
    """
    from rtfproc_spark.functions.buckets import (
        ensure_scan_parallelism,
        persist_tracked,
        prune_degenerate_buckets,
    )

    rows = num_hashes // bands
    src = ensure_scan_parallelism(
        df.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0)).select(
            F.col(id_col).alias("id"), F.col(text_col).alias("_t")
        )
    )
    base = src.select("id", word_ngrams("_t", ngram).alias("shingles"))
    # The shingle arrays feed BOTH the signature aggregation and the exact
    # verification joins below. Persist so the corpus is shingled ONCE per
    # run instead of three times (at 100 TB this is a staged intermediate
    # table; MEMORY_AND_DISK is the single-job analogue).
    if persist:
        base = persist_tracked(base)
    # minhashes via array_min(transform(...)) straight over the cached
    # shingle arrays: ZERO shuffle — the explode+groupBy alternative moves
    # every (id, shingle) pair through an exchange, which at corpus scale is
    # the single largest shuffle of the whole query. Each mh_i is its own
    # projection column, so the shingles array is read once from cache and
    # hashed K times in one codegen stage.
    sig = base.select(
        "id",
        *[_seeded_min_hash(F.col("shingles"), i).alias(f"mh{i}") for i in range(num_hashes)],
    )
    band_hashes = [
        F.xxhash64(*[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias(
            f"bh{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select("id", *band_hashes)
    exploded = banded.select(
        "id",
        F.posexplode(F.array(*[F.col(f"bh{b}") for b in range(bands)])).alias(
            "band_idx", "band_hash"
        ),
    )
    # prune degenerate buckets before the self-join (hash agg + hash join —
    # no sort; a count-over-Window here sort-shuffled the full exploded
    # table and measurably regressed the bench)
    pruned = prune_degenerate_buckets(exploded, ["band_idx", "band_hash"], max_bucket)
    a, b = pruned.alias("a"), pruned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact verification: attach shingles only for surviving candidates
    sa = base.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = base.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    verified = pairs.join(sa, "id_a").join(sb, "id_b")
    inter = F.size(
        F.array_intersect(F.array_distinct("sh_a"), F.array_distinct("sh_b"))
    )
    union = F.size(F.array_union("sh_a", "sh_b"))
    return verified.select(
        "id_a",
        "id_b",
        F.round(inter / F.greatest(union, F.lit(1)), 4).alias("jaccard"),
    )


def minhash_pairs_local(
    pdf,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = 200,
):
    """Driver-side pure-Python re-derivation of ``minhash_candidates`` for
    staged-expected differentials: same shingling, same ``xxhash64`` minhash
    and band math (via the pure-Python XXH64 in functions/xxh64.py — no
    Spark, no JVM), same bucket pruning and Jaccard verification. The Spark
    side runs as native Catalyst expressions; this shares no execution code
    with it, so driver-check equality is a true distributed-vs-local diff —
    the LSH analogue of the reference's golden-file matcher check
    (/root/reference/src/rtfproc.c:413-477 is the reference's only "join"
    and is byte-proven; this gives the minhash join the same treatment).

    Semantics parity notes (pinned by the sf0.01 driver check):
    - Spark ``trim`` strips ASCII spaces only -> ``str.strip(' ')``;
    - Java regex ``\\s`` is ``[ \\t\\n\\x0B\\f\\r]`` (no Unicode classes);
      Java ``split`` with limit -1 keeps leading/trailing empties, matching
      ``re.split``;
    - ``array_min`` compares SIGNED int64 (spark_xxhash64 returns signed);
    - Spark ``round(double, 4)`` is HALF_UP on the shortest decimal
      representation (BigDecimal.valueOf) -> Decimal(repr(x)).
    """
    import re
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    from rtfproc_spark.functions.xxh64 import spark_xxhash64

    rows = num_hashes // bands
    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")

    def shingles_of(text: str) -> list[str]:
        words = ws_re.split(text.strip(" ").lower())
        k = len(words) - (ngram - 1)
        if k <= 0:
            return [" ".join(words)]
        return [" ".join(words[i : i + ngram]) for i in range(k)]

    memo: dict[str, list[int]] = {}

    def hashes_of(s: str) -> list[int]:
        hs = memo.get(s)
        if hs is None:
            hs = [spark_xxhash64(seed, s) for seed in range(num_hashes)]
            memo[s] = hs
        return hs

    doc_shingles: dict[int, list[str]] = {}
    buckets: dict[tuple[int, int], list[int]] = {}
    it = zip(pdf[id_col].tolist(), pdf[text_col].tolist())
    for doc_id, text in it:
        if text is None or len(text) == 0:
            continue
        sh = shingles_of(text)
        doc_shingles[doc_id] = sh
        mh = [
            min(hashes_of(s)[j] for s in sh) for j in range(num_hashes)
        ]
        for b in range(bands):
            bh = spark_xxhash64(*[("long", mh[b * rows + r]) for r in range(rows)])
            buckets.setdefault((b, bh), []).append(doc_id)

    pairs: set[tuple[int, int]] = set()
    for ids in buckets.values():
        if 1 < len(ids) <= max_bucket:
            ids = sorted(set(ids))
            for i in range(len(ids)):
                for j in range(i + 1, len(ids)):
                    pairs.add((ids[i], ids[j]))

    out = []
    q = Decimal("0.0001")
    for id_a, id_b in sorted(pairs):
        sa, sb = set(doc_shingles[id_a]), set(doc_shingles[id_b])
        inter, union = len(sa & sb), len(sa | sb)
        j = inter / max(union, 1)
        out.append(
            (id_a, id_b, float(Decimal(repr(j)).quantize(q, rounding=ROUND_HALF_UP)))
        )
    return pd.DataFrame(out, columns=["id_a", "id_b", "jaccard"]).astype(
        {"id_a": "int64", "id_b": "int64", "jaccard": "float64"}
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    **minhash_kwargs,
) -> DataFrame:
    """Near-dup pairs above an n-gram Jaccard threshold (LSH-pruned).

    With ``bands == num_hashes`` (1-row bands) candidate recall for a pair
    with Jaccard j is 1-(1-j)^bands — effectively exhaustive above the
    threshold; fewer, wider bands trade recall for candidate volume."""
    return minhash_candidates(df, text_col, id_col, ngram, **minhash_kwargs).filter(
        F.col("jaccard") >= threshold
    )


def _union_find(a, b) -> pd.DataFrame:
    """Connected components of the edges ``zip(a, b)`` by a
    path-compressing union-find: one row per node, ``(id, component)``
    with component = the minimum id reachable from the node. The
    one-task kernel of :func:`connected_components`' small-graph path and
    of ``similarity.semantic_dedup``'s per-cluster components."""
    parent: dict = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for x, y in zip(a, b):
        rx, ry = find(int(x)), find(int(y))
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    ids = {int(i) for i in a} | {int(i) for i in b}
    return pd.DataFrame(
        {"id": list(ids), "component": [find(i) for i in ids]},
        dtype="int64",
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 50,
    small_graph_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph -> one row per
    node: (id, component) with component = the MINIMUM id reachable from
    the node. This is the clustering step between candidate pairs (minhash/
    simhash/embedding LSH) and the keep-one-per-cluster policy of a
    training-data dedup pipeline.

    Algorithm: iterative min-label propagation. Each round joins every
    node's current label against its neighbors' labels and takes the min;
    a fixed point is reached in O(diameter) rounds (near-dup clusters are
    tiny and dense, so 2-4 rounds in practice; ``max_iters`` is a safety
    bound and the loop stops early at the first unchanged round, checked
    with one count per round — no collect of the labels themselves). At
    100 TB scale the per-round cost is two shuffles over the EDGE list
    (edges << docs after LSH pruning), and the label table is checkpointed
    via localCheckpoint to cut the growing lineage. A graph whose
    component diameter outgrows ``max_iters`` rounds raises.
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .dropDuplicates(["src", "dst"])
        .localCheckpoint()  # the size probe and the consumer below share
        # one materialization of the (expensive) candidate pipeline
    )
    # Size-adaptive algorithm choice (round 9, the broadcast-threshold
    # idiom applied to CC): LSH-pruned near-dup graphs are tiny relative
    # to the corpus (edges << docs), and the iterative loop pays several
    # shuffle+checkpoint JOBS per round regardless of data size — pure
    # scheduling latency on a small graph. Up to ``small_graph_edges``
    # the exact components come from ONE bounded union-find task (an
    # applyInPandas group, ~100 MB of dict at the 1M default — an
    # executor-task bound, not a driver collect); above it the
    # distributed min-label loop below runs unchanged. Same output
    # contract either way: (id, component = min reachable id).
    if edges.count() <= small_graph_edges:

        return (
            edges.withColumn("_g", F.lit(0))
            .groupBy("_g")
            .applyInPandas(
                lambda pdf: _union_find(pdf["src"], pdf["dst"]),
                schema="id long, component long",
            )
        )
    # undirected: propagate both ways. NOT pre-partitioned by the join
    # key: a cached fixed-width partitioning would pin every round's join
    # to that width and defeat AQE's partition coalescing, which is worth
    # more here (measured: pre-partitioning regressed the sf1.0 keeplist
    # 10s -> 15s; AQE re-shuffles the small table cheaply each round)
    both = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = (
        both.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    changed = 0
    for _ in range(max_iters):
        neighbor_min = (
            both.join(labels, both.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        # the changed flag rides the SAME checkpointed frame (a label can
        # only change by taking a strictly smaller neighbor min), so the
        # fixed-point check below reads the checkpoint instead of paying a
        # labels-vs-labels join job every round
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
                (
                    F.col("nbr_min").isNotNull()
                    & (F.col("nbr_min") < F.col("component"))
                ).alias("_changed"),
            )
            .localCheckpoint()  # truncate lineage so plans stay bounded
        )
        changed = updated.filter(F.col("_changed")).limit(1).count()
        labels = updated.drop("_changed")
        if changed == 0:
            break
    both.unpersist()
    if changed != 0:
        # returning unconverged labels would silently split one component
        # into several clusters and the keep policy would retain extra
        # near-duplicates with no signal — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations "
            "(component diameter exceeds max_iters); raise max_iters"
        )
    return labels


def dedup_keep_list(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Keep-one-per-near-dup-cluster policy: every doc mapped to its cluster
    representative (the minimum id in its connected component; singletons
    keep themselves) plus a ``keep`` flag. The standard final step of a
    near-dedup pipeline: ``df.join(keep_list, id).filter("keep")``."""
    comp = connected_components(pairs, a_col, b_col)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("component"), F.col("id")).alias("component"),
        )
        .withColumn("keep", F.col("id") == F.col("component"))
    )


def simhash_batch(texts: pd.Series) -> np.ndarray:
    """64-bit SimHash over word tokens, batch-vectorized.

    One pass builds the batch vocabulary; each unique word is hashed ONCE
    (stable blake2b — Python's hash() is seed-randomized and would differ
    across executors), the vocab's 64-bit planes are expanded to a V x 64
    bit matrix, and per-document majorities come from a single scatter-add.
    Output is identical to the per-document definition: bit b is set iff
    more than half of the document's UNIQUE words have bit b set.

    Exposed as a plain function so driver-side oracle staging can call the
    exact same kernel without Spark.
    """
    n = len(texts)
    out = np.zeros(n, dtype=np.int64)
    # unique (doc, word) pairs across the whole batch, fully vectorized:
    # explode the token lists (C-level), factorize once, and dedupe
    # (doc, word) pairs as a single np.unique over doc*V+code keys —
    # identical to the former per-doc Python set() loop, without the
    # per-row interpreter cost that dominated large batches.
    toks = texts.fillna("").str.lower().str.split().reset_index(drop=True)
    ex = toks.explode().dropna()
    if not len(ex):
        return out
    codes_all, vocab = pd.factorize(ex.to_numpy())
    di_all = ex.index.to_numpy(dtype=np.int64)
    pair_keys = np.unique(di_all * np.int64(len(vocab)) + codes_all)
    doc_idx = pair_keys // len(vocab)
    codes = pair_keys % len(vocab)
    vocab_hash = np.fromiter(
        (
            int.from_bytes(
                hashlib.blake2b(w.encode(), digest_size=8).digest(), "little"
            )
            for w in vocab
        ),
        dtype=np.uint64,
        count=len(vocab),
    )
    vocab_bits = (
        (vocab_hash[:, None] >> np.arange(64, dtype=np.uint64)) & 1
    ).astype(np.int64)
    acc = np.zeros((n, 64), dtype=np.int64)
    di = np.asarray(doc_idx, dtype=np.int64)
    np.add.at(acc, di, vocab_bits[codes])
    uniq_counts = np.bincount(di, minlength=n).astype(np.float64)
    majority = acc > (uniq_counts[:, None] / 2.0)
    sig = (majority.astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
        axis=1, dtype=np.uint64
    )
    return sig.view(np.int64)


@F.pandas_udf(LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """Arrow-batched SimHash column kernel (see simhash_batch)."""
    return pd.Series(simhash_batch(texts))


def simhash_signature_df(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return df.select(F.col(id_col).alias("id"), simhash64(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    blocks: int = 4,
    max_bucket: int = 1000,
    persist: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs via the block-permutation trick: split the
    64-bit signature into ``blocks`` chunks — any pair within hamming
    distance < blocks shares at least one identical chunk (pigeonhole), so
    candidates come from ``blocks`` bucket self-joins on 16-bit chunks, then
    exact hamming verification via bit_count(xor). All JVM-side.

    Chunk buckets larger than ``max_bucket`` are dropped before the
    self-join — one degenerate bucket (e.g. the all-zeros signature of
    empty docs) would otherwise go quadratic; such groups are exact-dup
    territory and are caught by exact_dedup_groups instead. Documented cap,
    mirrored from minhash_candidates.

    ``persist=True`` caches the pruned chunk table consumed by both sides of
    the self-join; see minhash_candidates for the release contract."""
    assert max_hamming < blocks, "pigeonhole needs max_hamming < blocks"
    from rtfproc_spark.functions.buckets import ensure_scan_parallelism

    width = 64 // blocks
    # under-split sources would run the signature UDF through ONE task
    sig = simhash_signature_df(ensure_scan_parallelism(df), text_col, id_col)
    chunks = sig.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), b * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for b in range(blocks)
                ]
            )
        ).alias("block_idx", "block_val"),
    )
    from rtfproc_spark.functions.buckets import persist_tracked, prune_degenerate_buckets

    # persist BEFORE pruning: the bucket-size aggregate, the pruning join
    # and both self-join sides all consume the UDF output — caching the raw
    # chunk table means the SimHash UDF runs exactly once
    if persist:
        chunks = persist_tracked(chunks)
    chunks = prune_degenerate_buckets(chunks, ["block_idx", "block_val"], max_bucket)
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def dup_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-span coverage — the exact-substring-dedup
    signal of "Deduplicating Training Data Makes Language Models Better"
    (Lee et al., 2022), at word n-gram granularity: an n-gram is DUPLICATED
    when it occurs in at least ``min_docs`` distinct documents, and a
    document's dup-span coverage is the fraction of its tokens covered by
    the union of its duplicated n-gram occurrences (overlapping spans
    merged). Complements :func:`~rtfproc_spark.functions.text.gopher_rules`'
    ``dup_ngram_coverage``, which measures WITHIN-document repetition —
    this operator measures corpus-level boilerplate/contamination, the
    signal used to cut or down-weight documents dominated by shared
    spans.

    Output: one row per input document —
    ``(doc_id, n_tokens, n_dup_grams, covered_tokens, dup_coverage)``
    with zeros for documents free of duplicated spans.

    Scale shape (the 100 TB posture):

    - gram rows are ``(xxhash64(gram), doc_id, pos)`` — the gram TEXT never
      leaves the scan projection, so both shuffles move ~20 bytes/row;
    - the duplicated-gram set is a groupBy on the gram hash
      (count_distinct over (hash, doc_id) — partial-aggregated map-side);
    - the join back is keyed by the gram hash and its output is bounded by
      the input gram count (each gram row meets at most ONE dup-set row),
      so a degenerate stop-gram CANNOT blow the join up — no bucket cap is
      needed, unlike pairwise LSH self-joins;
    - per-document coverage is a sorted-positions interval-merge run in ONE
      ``F.aggregate`` expression (zero extra shuffle beyond the per-doc
      groupBy, whose fan-in is bounded by tokens-per-document).

    The documents scan runs twice (dup-set side + join-back side) — at
    scale, recomputing a projected scan beats persisting a 100 TB
    intermediate; cache ``df`` first if the input is small and hot.

    Tokenization matches :func:`word_ngrams`: lowercase, ASCII-space trim,
    Java ``\\s+`` split — pinned against a DuckDB recomputation by the
    ``dup_span_docs`` driver oracle (which joins on the gram STRING, so the
    check also certifies the hash-join-vs-string-join equivalence)."""
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2 (1 would flag every gram): {min_docs}")
    from rtfproc_spark.functions.buckets import ensure_scan_parallelism

    # under-split sources would serialize BOTH gram-hash passes; the
    # repartition exchange is also shared (ReusedExchange) by the dup-set
    # and join-back subtrees, so the source scan runs once
    df = ensure_scan_parallelism(df)
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.select(F.col(id_col).alias("doc_id"), words.alias("_ws"))
    k = F.size("_ws") - (n - 1)
    # sequence() flips to a DESCENDING ramp when stop < start, so the
    # short-doc case must be gated BEFORE building the ramp
    gram_hashes = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col("_ws"), i, n))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    grams = base.select(
        "doc_id", F.posexplode(gram_hashes).alias("pos0", "gh")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "gh")
    dup = (
        grams.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gh")
    )
    # interval merge over the sorted 1-based start positions: each start s
    # covers [s, s+n-1]; acc = (covered so far, highest covered position)
    def _merge(a, s):
        new_end = s + F.lit(n - 1)
        add = F.when(s > a["end"], F.lit(n).cast("long")).otherwise(
            F.greatest(new_end - a["end"], F.lit(0)).cast("long")
        )
        return F.struct(
            (a["cov"] + add).alias("cov"),
            F.greatest(a["end"], new_end).cast("long").alias("end"),
        )

    acc0 = F.struct(
        F.lit(0).cast("long").alias("cov"), F.lit(0).cast("long").alias("end")
    )
    hits = (
        grams.join(dup, "gh")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.col("pos").cast("long"))).alias("_starts"))
        .select(
            "doc_id",
            F.size("_starts").cast("long").alias("n_dup_grams"),
            F.aggregate("_starts", acc0, _merge, lambda a: a["cov"]).alias(
                "covered_tokens"
            ),
        )
    )
    stats = base.select("doc_id", F.size("_ws").cast("long").alias("n_tokens"))
    return (
        stats.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias(
                "covered_tokens"
            ),
        )
        .withColumn(
            "dup_coverage",
            F.round(F.col("covered_tokens") / F.col("n_tokens"), 4),
        )
    )

"""Plan-shape tests: the physical plans we'd want at 100 TB, pinned.

Every operator's plan is asserted, not eyeballed: pushdown reaches the scan,
projection prunes columns, small dims broadcast, Python stays in one Arrow
island per extraction pass.
"""

import json
import re

import pytest
from pyspark.sql import functions as F

from rtfproc_spark.plans.inspect import (
    has_broadcast_join,
    plan_str,
    pushed_filters_of,
    python_eval_nodes,
    read_schema_of,
)

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.01"


def test_column_pruning_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select("doc_id", F.length("text").alias("n"))
    cols = read_schema_of(q)
    assert set(cols) == {"doc_id", "text"}, cols


def test_filter_pushdown_reaches_scan(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    q = ev.filter(F.col("event_type") == "click").select("event_id")
    pf = pushed_filters_of(q)
    assert "event_type" in pf, pf
    assert set(read_schema_of(q)) == {"event_id", "event_type"}


def test_broadcast_join_for_small_dimension(spark):
    # the former top_mktsegments driver query (swapped out of the driver
    # contract for cep_funnel_events under the 50-query recording cap);
    # kept here to pin that an explicit broadcast() of a small dimension
    # survives into the physical plan
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    q = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    assert has_broadcast_join(q)


def test_extraction_is_single_arrow_island(spark):
    from rtfproc_spark.functions.rtf import with_rtf_extract
    from rtfproc_spark.sources.transcripts import DEFAULT_REPLACEMENTS

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = with_rtf_extract(docs, DEFAULT_REPLACEMENTS).select("doc_id", "rtf_out")
    # exactly one Python boundary for the whole extraction projection
    assert python_eval_nodes(q) == 1, plan_str(q)
    # and the scan reads only what the query needs
    assert set(read_schema_of(q)) <= {"doc_id", "text"}


def test_extraction_scan_prunes_unused_payloads(spark):
    # extraction over transcripts must not read the 'tool' column when the
    # query doesn't ask for it
    from rtfproc_spark.functions.rtf import rtf_extract_cols

    import pandas as pd

    from rtfproc_spark.sources.transcripts import synthesize_transcripts_pdf

    pdf = synthesize_transcripts_pdf(n_convs=5, turns_per_conv=2)
    path = "/tmp/plans_transcripts_parquet"
    pdf.to_parquet(path + ".parquet", index=False)
    t = spark.read.parquet(path + ".parquet")
    q = t.select("conv_id", rtf_extract_cols("text").getField("plain_text").alias("p"))
    assert set(read_schema_of(q)) == {"conv_id", "text"}


def test_salted_agg_is_two_exchanges(spark):
    from rtfproc_spark.operators.skew import salted_agg

    ev = spark.read.parquet(f"{SF}/events.parquet")
    q = salted_agg(ev, ["user_id"], [("count", None, "n")], 8)
    p = plan_str(q, "simple")
    # two-phase: exchange on (user_id, salt) then on (user_id)
    assert p.count("Exchange") >= 2
    # partial aggregation present before each exchange
    assert "partial_" in p or "HashAggregate" in p


def test_interval_join_pushes_type_filters(spark):
    import __spark_entry__ as e

    q = e.queries()["interval_join_events"](spark, SF)
    pf = pushed_filters_of(q)
    assert "event_type" in pf


def test_session_window_single_shuffle(spark):
    from rtfproc_spark.operators.windows import session_agg

    ev = spark.read.parquet(f"{SF}/events.parquet")
    q = session_agg(
        ev, "ts", ["user_id"], "30 minutes", [F.count(F.lit(1)).alias("n")]
    )
    p = plan_str(q, "simple")
    assert p.count("Exchange") <= 2  # one shuffle for the session agg (+AQE read)


def test_bucketed_ingest_eliminates_agg_shuffle(spark, tmp_path):
    # ingest bucketed by conv_id -> per-conversation aggregation plans with
    # ZERO exchanges (the 100 TB co-location story, locally demonstrable)
    from rtfproc_spark.sources.transcripts import write_transcripts_bucketed

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    write_transcripts_bucketed(
        spark, "transcripts_bucketed_t", n_buckets=4, n_convs=30, turns_per_conv=3
    )
    bt = spark.table("transcripts_bucketed_t")
    agg = bt.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
    assert plan_str(agg, "simple").count("Exchange") == 0
    # same aggregation without bucketing shuffles once
    from rtfproc_spark.sources.transcripts import synthesize_transcripts_df

    un = synthesize_transcripts_df(spark, n_convs=30, turns_per_conv=3)
    agg2 = un.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
    assert plan_str(agg2, "simple").count("Exchange") >= 1


def test_minhash_plan_no_shingle_explode(spark):
    # the minhash signature must come from array_min(transform(...)) over the
    # CACHED shingle arrays — the explode+groupBy alternative shuffles every
    # (id, shingle) pair, the largest exchange of the whole query. The only
    # Generate left is the small per-id band posexplode.
    from rtfproc_spark.functions.dedup import minhash_candidates

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = minhash_candidates(docs)
    p = q._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in p  # shingles computed once, reused 3x
    # band posexplode only — Generate nodes referencing the shingles column
    # would mean the signature path regressed to explode form
    import re

    gens = [l for l in p.splitlines() if re.search(r"\bGenerate\b", l)]
    assert all("band" in g or "posexplode" in g for g in gens), gens
    assert not any("shingles" in g for g in gens), gens


def test_minhash_plan_is_sort_free(spark):
    # round-2 regression class: the degenerate-bucket prune used a
    # count-over-Window, which sort-shuffled the full exploded band table
    # (bench: 6.2s vs 2.1s after the fix). Pin: candidate generation plans
    # zero Sort nodes and zero SortMergeJoins — pruning and the self-join
    # are hash-aggregate + hash joins.
    from rtfproc_spark.functions.dedup import minhash_candidates

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = minhash_candidates(docs, persist=False)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in p
    assert "Sort " not in p and "+- Sort" not in p, p


def test_cep_loop_plan_pruned_and_hash_joined(spark):
    """The sequence matcher's per-step joins must be equi-hash joins on the
    key (broadcast at small scale, sort-merge at large — never a nested
    loop or cartesian from the range predicates), and the events scan must
    read only (id, ts, key, type) — props/value never move. Runs the
    Kleene-loop driver query (the round-7 cep_funnel_events swap), so the
    loop's candidate/count/binding joins are all under the contract."""
    import __spark_entry__ as e

    q = e.queries()["cep_loop_events"](spark, SF)
    p = plan_str(q)
    assert "NestedLoop" not in p and "Cartesian" not in p
    assert set(read_schema_of(q)) == {"event_id", "ts", "user_id", "event_type"}
    assert re.findall(r"\(\d+\) (?:Broadcast|SortMerge|ShuffledHash)HashJoin|SortMergeJoin", p) or "HashJoin" in p


def test_cep_quantifier_plan_pruned_and_hash_joined(spark):
    """Same plan contract for the quantifier variant: the optional step's
    LEFT join, the closer join and the CountBetween range-count join must
    all be key-equi hash joins with the pruned (id, ts, key, type) scan —
    quantifiers must not smuggle in a nested loop."""
    import __spark_entry__ as e

    # library path: the driver row was swapped for cep_cross_events in
    # round 8 (the optional quantifier keeps this plan pin + the fuzzer)
    q = e._q_cep_quantifier_events(spark, SF)
    p = plan_str(q)
    assert "NestedLoop" not in p and "Cartesian" not in p
    assert set(read_schema_of(q)) == {"event_id", "ts", "user_id", "event_type"}
    assert re.findall(r"\(\d+\) (?:Broadcast|SortMerge|ShuffledHash)HashJoin|SortMergeJoin", p) or "HashJoin" in p


def test_cep_cross_define_plan_local_prefilter_pushed(spark):
    """Cross-variable DEFINE plan contract (round 8): the variable-free
    part of the DEFINE (`event_type = 'purchase'`) must reach the
    candidate scan as a pushed filter — losing pushdown for the WHOLE
    predicate because one conjunct references another variable would read
    every event at 100 TB. The cross conjunct itself is evaluated in the
    step's existing join (no nested loop, no extra join), and the scan
    stays pruned to the referenced columns only."""
    import __spark_entry__ as e

    q = e.queries()["cep_cross_events"](spark, SF)
    p = plan_str(q)
    assert "NestedLoop" not in p and "Cartesian" not in p
    # pruned scan: payload limited to the one referenced column (value)
    assert set(read_schema_of(q)) == {
        "event_id", "ts", "user_id", "event_type", "value"
    }
    # the local pre-filter is pushed into the scan, not evaluated post-join
    assert "PushedFilters" in p
    assert re.search(
        r"PushedFilters: \[[^\]]*EqualTo\(event_type,purchase\)", p
    ), "local DEFINE conjunct must reach the purchase candidate scan"
    assert re.findall(
        r"\(\d+\) (?:Broadcast|SortMerge|ShuffledHash)HashJoin|SortMergeJoin",
        p,
    ) or "HashJoin" in p


def test_ivf_topk_assigned_partition_pruning(spark, tmp_path):
    """The 100 TB IVF lookup posture: with the ingest-materialized
    (id, cluster) table stored partitioned by cluster, the probe must be a
    PARTITION-PRUNED read of nprobe/nlist cluster directories and the query
    path must contain NO assignment matmul (no Python eval node anywhere —
    scoring is native exprs)."""
    import numpy as np

    from rtfproc_spark.functions.similarity import (
        ivf_assign,
        ivf_topk,
        kmeans_fit_local,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    sample = emb.orderBy("vec_id").limit(512).toPandas()
    X = np.stack([np.asarray(v, dtype=np.float64) for v in sample["embedding"]])
    centroids = kmeans_fit_local(X, nlist=8, seed=42)
    store = str(tmp_path / "ivf_store")
    ivf_assign(emb, centroids).write.partitionBy("cluster").parquet(store)
    assigned = spark.read.parquet(store)
    q = ivf_topk(
        emb, X[0], k=5, nlist=8, nprobe=2, centroids=centroids, assigned=assigned
    )
    plan = plan_str(q)
    # the assigned-store scan is partition-pruned down to the probed clusters
    m = re.search(r"PartitionFilters: \[([^\]]*cluster[^\]]*)\]", plan)
    assert m, plan[:2000]
    assert python_eval_nodes(q) == 0, "assignment matmul leaked onto the query path"
    assert q.count() == 5


def test_pack_docs_shuffles_pruned_columns_only(spark):
    # Two-phase packing plan shape: the running-total window partitions by
    # (lang, _shard) — NEVER by lang alone, which would put one language's
    # entire corpus through a single sort task at scale — the token count is
    # computed BELOW the exchange, the text column never moves, and the
    # per-shard offsets come back via a broadcast join (no second big
    # shuffle).
    from rtfproc_spark.functions.text import pack_bins, token_count

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "lang", token_count("text").cast("long").alias("n_tokens")
    )
    q = pack_bins(docs, group_cols=["lang"])
    plan = q._jdf.queryExecution().executedPlan().toString()
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert ex and not any("text" in l for l in ex), ex
    # the data window's sort must include the shard column (bounded tasks)
    win_sorts = [l for l in plan.splitlines() if "Sort [" in l and "doc_id" in l]
    assert win_sorts and all("_shard" in l for l in win_sorts), win_sorts
    assert "BroadcastHashJoin" in plan


def test_gopher_rules_zero_shuffle(spark):
    """The full Gopher rule set — including the top-n-gram duplicate-
    coverage fractions — is one per-row projection: the plan over the raw
    documents scan must contain NO Exchange (no explode + groupBy of gram
    strings) and no Python eval node."""
    from rtfproc_spark.functions.text import repetition_quality

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select("doc_id", *repetition_quality("text"))
    p = plan_str(q)
    assert "Exchange" not in p, p[:1500]
    assert python_eval_nodes(q) == 0
    assert set(read_schema_of(q)) == {"doc_id", "text"}


def test_contamination_plan_broadcasts_eval_set(spark):
    """Decontamination at corpus scale: the eval gram set and the hit
    table must BROADCAST (the doc-side explode feeds a BroadcastHashJoin;
    no sort-merge join of gram strings), so nothing wider than an id
    shuffles."""
    from rtfproc_spark.functions.text import contamination_hits

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ev = spark.createDataFrame(
        [("sample benchmark question text here for the leakage check",)],
        "text string",
    )
    q = contamination_hits(docs, ev, n=4)
    p = plan_str(q)
    assert p.count("BroadcastHashJoin") >= 2 or (
        p.count("BroadcastHashJoin") >= 1 and "BroadcastNestedLoop" not in p
    ), p[:2000]
    assert "SortMergeJoin" not in p
    assert set(read_schema_of(q)) <= {"doc_id", "text", "lang", "source", "n_chars"}


def test_cep_binding_plan_pruned_and_hash_joined(spark):
    """Plan contract for the alternation + binding variant
    (cep_binding_events): the unioned alternation branches, the closer
    join and the binding range join must all stay key-equi hash joins
    over the pruned scan — the branch union and the first/last aggregates
    must not introduce a nested loop or widen the read schema."""
    import __spark_entry__ as e

    q = e.queries()["cep_binding_events"](spark, SF)
    p = plan_str(q)
    assert "NestedLoop" not in p and "Cartesian" not in p
    assert set(read_schema_of(q)) == {"event_id", "ts", "user_id", "event_type"}
    assert re.findall(r"\(\d+\) (?:Broadcast|SortMerge|ShuffledHash)HashJoin|SortMergeJoin", p) or "HashJoin" in p
    # the alternation is a UNION of branch scans, not a join
    assert "Union" in p


def test_cep_session_funnel_driver_query_runs_bucketed(spark):
    """Round-7 ask: the sessionized driver row must exercise the TWO-PHASE
    time_bucket labeling path — suggest_time_bucket's decision rule
    (thresholds scaled to the test SF) returns a bucket, and the labeling
    window partitions by (user_id, _b), not user_id alone (the hot-key
    mitigation's plan shape)."""
    import __spark_entry__ as e
    from rtfproc_spark.operators.joins import suggest_time_bucket

    ev = spark.read.parquet(f"{SF}/events.parquet")
    assert suggest_time_bucket(
        ev, "user_id", "ts", target_rows_per_bucket=25, crossover=50
    ) is not None
    q = e.queries()["cep_session_funnel_events"](spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\(user_id#\d+[^)]*_b#", plan), plan[:3000]


def test_dup_span_plan_hashes_before_shuffle(spark):
    """Plan contract for dup_span_stats at corpus scale: the gram TEXT must
    never shuffle — every Exchange carries only the 64-bit gram hash /
    ids / positions (the hash is computed inside the scan-side projection,
    before the explode) — the scan reads only (doc_id, text), and the
    whole operator is join algebra: zero Python eval nodes."""
    from rtfproc_spark.functions.dedup import dup_span_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = dup_span_stats(docs, n=5)
    p = plan_str(q)
    assert set(read_schema_of(q)) == {"doc_id", "text"}
    assert python_eval_nodes(q) == 0
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line
    # the dup-set membership join keys on the gram hash, equi-hash only
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p


def test_cep_contiguous_plan_pruned_and_anti_joined(spark):
    """Plan contract for the strict-contiguity driver query: the two
    strict-step kills must be LEFT-ANTI equi-hash joins on the key (not
    nested loops from the (ts, id) range predicates), with the same
    pruned (id, ts, key, type) scan as every other CEP row."""
    import __spark_entry__ as e

    q = e.queries()["cep_contiguous_events"](spark, SF)
    p = plan_str(q)
    assert "NestedLoop" not in p and "Cartesian" not in p
    assert set(read_schema_of(q)) == {"event_id", "ts", "user_id", "event_type"}
    assert p.count("LeftAnti") >= 2, p


def test_nav_plan_filters_stay_above_window(spark):
    """DEFINE navigation: predicates must NOT push below the lag Window
    — PREV is physical navigation over the FULL partition, so filtering
    before the window would change what it sees (pre-filter the input
    DataFrame to navigate over a subset). Pin that the scan's pushed
    filters carry only the partition-key null guard, and that a
    PRE-FILTERED input does push its predicate to the scan."""
    from rtfproc_spark.operators.pattern import match_recognize_sql

    ev = spark.read.parquet(f"{SF}/events.parquet")
    clause = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (D U)
          WITHIN INTERVAL '1' HOUR
          DEFINE D AS event_type = 'click' AND value < PREV(value),
                 U AS event_type = 'click' AND value >= PREV(value)
        )"""
    q = match_recognize_sql(ev, clause)
    p = plan_str(q)
    assert "Window" in p and "lag(value" in p, p[:800]
    assert "event_type" not in pushed_filters_of(q)
    q2 = match_recognize_sql(
        ev.filter(F.col("event_type") == "click"), clause
    )
    assert "event_type" in pushed_filters_of(q2)


def test_single_step_pattern_is_pure_filter(spark):
    """A one-variable pattern compiles to a classification filter: no
    join anywhere in the plan, predicate pushed to the scan."""
    from rtfproc_spark.operators.pattern import match_recognize_sql

    ev = spark.read.parquet(f"{SF}/events.parquet")
    q = match_recognize_sql(ev, """
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          PATTERN (P)
          DEFINE P AS event_type = 'purchase'
        )""")
    p = plan_str(q)
    assert "Join" not in p, p[:800]
    assert "event_type" in pushed_filters_of(q)
    assert sorted(q.columns) == ["id_1", "ts_1", "user_id"]


def test_cep_default_plan_scans_per_step(spark):
    """Default match_sequence plan contract: every step's candidate source
    is its own pruned parquet scan (per-branch predicate pushdown), and
    nothing is cached."""
    import re

    from pyspark.sql import functions as F

    from rtfproc_spark.operators.cep import match_sequence

    ev = spark.read.parquet(f"{SF}/events.parquet")
    steps = [F.col("event_type") == "view",
             F.col("event_type") == "click",
             F.col("event_type") == "purchase"]
    dflt = plan_str(match_sequence(ev, steps, ["user_id"],
                                   within="12 hours"))
    assert len(re.findall(r"InMemoryTableScan", dflt)) == 0
    assert len(re.findall(r"Scan parquet", dflt)) >= 3  # one per step


def test_cep_union_matchers_default_plan(spark):
    """The r-variant/k! UNION matchers re-scan the source once per step
    per variant: 10 leaf parquet scans for (V (A B){1,2} C), no cache
    reads. Both matchers return matches on the fixture."""
    import re

    from pyspark.sql import functions as F

    from rtfproc_spark.operators.cep import (
        match_permutation, match_repeated_group,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    preds = [F.col("event_type") == "view", F.col("event_type") == "click"]
    kw = dict(within="12 hours",
              prefix=[F.col("event_type") == "signup"],
              closer=F.col("event_type") == "purchase")

    def leaf_counts(p):
        ops = re.findall(r"^\s*\(\d+\)\s+(.+)$", p, flags=re.M)
        return (sum(1 for o in ops if "Scan parquet" in o),
                sum(1 for o in ops if "InMemoryTableScan" in o))

    dflt = match_repeated_group(ev, preds, ["user_id"], 1, 2, **kw)
    pq_d, im_d = leaf_counts(plan_str(dflt))
    assert pq_d == 10 and im_d == 0, (pq_d, im_d)
    assert dflt.count() > 0

    perm_preds = preds + [F.col("event_type") == "purchase"]
    p1 = match_permutation(ev, perm_preds, ["user_id"], within="2 hours")
    assert p1.count() > 0


def test_stream_cep_groups_by_key_bucket(spark, tmp_path):
    """The stream matcher's stateful operator groups on the hash bucket of
    the key, not on the key: a fallback to one group per user fails here.
    The bucket is an ``int``: the 1 024-bucket builds grouped on a bigint,
    and the key schema change is what stops a restart from one of their
    checkpoints at query start. Null keys are filtered out before the
    shuffle, as batch never matches them, and so are null ts and ids."""
    from rtfproc_spark.operators.pattern import match_recognize_stream

    stream = spark.readStream.schema(
        "event_id long, user_id long, event_type string, ts timestamp, value double"
    ).parquet(str(tmp_path))
    m = match_recognize_stream(
        stream, "V C P", {"V": "view", "C": "click", "P": "purchase"},
        key_col="user_id", within="10 minutes", ordered=False,
    )
    p = plan_str(m, "simple")
    node = re.search(r"FlatMapGroupsInPandasWithState.*", p)
    assert node, p
    grouping = re.match(r"[^\[]*\[([^\]]*)\]", node.group(0)).group(1)
    assert "_cep_bucket" in grouping and "user_id" not in grouping, node.group(0)
    assert "xxhash64(user_id" in p, p
    below_exchange = p[p.index("Exchange hashpartitioning(_cep_bucket"):]
    assert re.search(r"Filter .*isnotnull\(user_id", below_exchange), p
    assert re.search(r"Filter .*isnotnull\(ts", below_exchange), p
    assert re.search(r"Filter .*isnotnull\(event_id", below_exchange), p
    nodes = json.loads(m._jdf.queryExecution().analyzed().toJSON())
    (fm,) = [n for n in nodes if n["class"].endswith(".FlatMapGroupsInPandasWithState")]
    assert [(a["name"], a["dataType"]) for [a] in fm["groupingAttributes"]] == [
        ("_cep_bucket", "integer")
    ], fm["groupingAttributes"]
